"""The correction kernel's memos are bounded, and the bound changes no
output byte.

Every memo is a pure-function cache that is emptied when it reaches its
entry cap.  These tests shrink the module caps so that they fire on a
small input: the memo size must never exceed the cap, and the corrected
text must still equal the spec oracle's."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from memo_fraktur_ocr_code_spark.functions import symspell
from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus
from memo_fraktur_ocr_code_spark.plans import pipeline
from memo_fraktur_ocr_code_spark.sources.fixtures import make_fixture


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.integers(1, 5), st.lists(st.integers(0, 12), max_size=40))
def test_bounded_memo_never_exceeds_cap(cap, keys):
    memo = pipeline._BoundedMemo(cap)
    for k in keys:
        memo[k] = -k
        assert len(memo) <= cap
        assert memo[k] == -k
        assert all(memo[j] == -j for j in memo)


def test_cand_cache_cap_bounds_size_and_keeps_results(monkeypatch):
    _, _, lexicon = make_fixture()
    index = symspell.SymSpellIndex.from_pairs(lexicon)
    words = [t for t, _c in lexicon[:40]] + ["huſet", "tyste", "gaardcn"]
    uncached = symspell.SymSpellIndex.from_pairs(lexicon)
    uncached._cand_cache = None
    want = {w: symspell.lookup_candidates(uncached, w, k=None) for w in words}
    monkeypatch.setattr(symspell, "CAND_CACHE_CAP", 3)
    sizes = []
    for _round in range(2):
        for w in words:
            assert symspell.lookup_candidates(index, w, k=None) == want[w]
            sizes.append(len(index._cand_cache))
    assert max(sizes) == 3
    assert sizes.count(3) < len(sizes)  # it was emptied, not frozen


def _replicated_fixture():
    """The default fixture twice over under new conversation ids, so
    whole turns and (text, alt) pairs repeat and every memo hits."""
    transcripts, alt_rows, lexicon = make_fixture()
    transcripts = transcripts + [
        {**r, "conv_id": r["conv_id"] + "r"} for r in transcripts
    ]
    alt_rows = alt_rows + [
        {**r, "conv_id": r["conv_id"] + "r"} for r in alt_rows
    ]
    return transcripts, alt_rows, lexicon


def test_memo_caps_leave_pipeline_bytes_unchanged(spark, monkeypatch):
    transcripts, alt_rows, lexicon = _replicated_fixture()
    # the kernel closure ships the caps read at plan-build time
    monkeypatch.setattr(pipeline, "TURN_MEMO_CAP", 2)
    monkeypatch.setattr(pipeline, "TOKEN_MEMO_CAP", 3)
    tdf = spark.createDataFrame(
        transcripts,
        schema="conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    adf = spark.createDataFrame(
        alt_rows, schema="conv_id string, turn_idx int, text string"
    )
    # one partition: every conversation shares the same memos
    got = {
        (r.conv_id, r.turn_idx): r.corrected_text
        for r in pipeline.correct_pipeline(
            spark, tdf, adf, lexicon, num_partitions=1
        ).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["corrected_text"]
        for r in correct_corpus(transcripts, alt_rows, lexicon)
    }
    assert got == want
