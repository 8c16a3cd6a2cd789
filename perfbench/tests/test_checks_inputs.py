import pandas as pd

import checks
import inputs


def _fixture():
    from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus

    base, alt, lexicon = inputs.distinct_fixture(seed=3, n_convs=4, turns_per_conv=3)
    oracle = correct_corpus(base, alt, lexicon)
    expected = {(r["conv_id"], r["turn_idx"]): r["corrected_text"] for r in oracle}
    output = [(r["conv_id"], r["turn_idx"], r["corrected_text"]) for r in oracle]
    return expected, output


def test_byte_equal_output_has_no_failures():
    expected, output = _fixture()
    assert checks.failed_turns(output, expected) == 0


def test_planted_mismatched_turn_counts_as_one_failure():
    expected, output = _fixture()
    conv, turn, text = output[5]
    output[5] = (conv, turn, text + " ")
    assert checks.failed_turns(output, expected) == 1
    # the workload reports failed / attempted, here 1 of every input turn
    assert len(expected) == len(output)


def test_missing_duplicated_and_extra_turns_fail():
    expected, output = _fixture()
    assert checks.failed_turns(output[1:], expected) == 1
    assert checks.failed_turns(output + output[:2], expected) == 2
    assert checks.failed_turns(output + [("nope", 0, "")], expected) == 1


def test_query_mismatch_compares_like_the_oracle_gate():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    assert checks.query_mismatch(a, a.iloc[::-1].reset_index(drop=True)) is None
    assert checks.query_mismatch(a, a.assign(v=[0.5, 1.0])) == "values differ"
    assert checks.query_mismatch(a, a.iloc[:1]).startswith("rows")
    assert checks.query_mismatch(a, a.rename(columns={"v": "w"})).startswith("columns")


def test_inputs_are_a_function_of_the_seed():
    assert inputs.documents(5, 200).equals(inputs.documents(5, 200))
    assert not inputs.documents(5, 200).equals(inputs.documents(6, 200))
    assert inputs.embeddings(5, 50).equals(inputs.embeddings(5, 50))
    a = inputs.distinct_fixture(5, 3, 2)
    assert a == inputs.distinct_fixture(5, 3, 2)
    assert a[0] != inputs.distinct_fixture(6, 3, 2)[0]


def test_documents_shape():
    docs = inputs.documents(1, 400).to_pydict()
    assert docs["doc_id"] == list(range(400))
    assert all(10 <= len(t.split(" ")) <= 101 for t in docs["text"])
    assert sum(t.endswith(" dup") for t in docs["text"]) >= 400 * inputs.DUP_SHARE
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_distinct_fixture_turns_never_repeat():
    base, alt, lexicon = inputs.distinct_fixture(9, 20, 6)
    pairs = [(b["text"], a["text"]) for b, a in zip(base, alt)]
    assert inputs.pair_repeat_share(pairs) == 0
    assert len(lexicon) == 100
