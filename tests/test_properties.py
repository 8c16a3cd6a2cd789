"""Property-based tests (hypothesis) for the spec kernels.

These pin the invariants the distributed plans rely on: alignment arity,
tokenizer determinism, hyphen-merge length preservation, metric bounds.
No Spark here — pure kernels, fast."""

from __future__ import annotations

import random
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from memo_fraktur_ocr_code_spark.functions.alignment import (
    align_b_to_a,
    token_align,
)
from memo_fraktur_ocr_code_spark.functions.levtools import (
    indel_distance,
    indel_ratio,
    levenshtein,
    osa_distance,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    assemble_turns,
    correct_easy,
    fix_hyphens,
    tokenize,
)

# Danish-ish alphabet incl. the confusion chars the pipeline handles.
_ALPHA = "abcdefghijklmnopqrstuvwxyzæøåſœ ABC.,!?-\n"
texts = st.text(alphabet=_ALPHA, max_size=80)
words = st.text(
    alphabet="abcdefghijkæøå", min_size=0, max_size=8
)
token_tuples = st.lists(words.filter(bool), max_size=12).map(tuple)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(texts)
def test_tokenize_deterministic_and_whitespace_free(s):
    toks = tokenize(s)
    assert toks == tokenize(s)
    assert all(t and not t.isspace() for t in toks)
    # idempotence of the reassembled form
    assert tokenize(" ".join(toks)) == toks


@settings(max_examples=200, deadline=None, derandomize=True)
@given(texts)
def test_correct_easy_idempotent_and_removes_targets(s):
    out = correct_easy(s)
    assert "œ" not in out and "ſ" not in out
    assert correct_easy(out) == out


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(texts, max_size=6))
def test_fix_hyphens_preserves_arity(lst):
    out = fix_hyphens(lst)
    assert len(out) == len(lst)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(texts, min_size=1, max_size=5))
def test_assemble_turns_preserves_arity(lst):
    out = assemble_turns(lst)
    assert len(out) == len(lst)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(token_tuples, token_tuples)
def test_align_b_to_a_arity(a, b):
    if not a:
        assert align_b_to_a(a, b) == ()
    else:
        assert len(align_b_to_a(a, b)) == len(a)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(token_tuples, token_tuples)
def test_token_align_arity(corr, orig):
    c, o = token_align(corr, orig)
    if corr and orig:
        # the invariant the alignment pipeline relies on (the caller,
        # repair_nonmatching, substitutes (sep,) for an empty orig)
        assert len(c) == len(corr) == len(o)
    else:
        # reference contract for an empty side (align_ocr.py:199-207):
        # the other side is folded into at most one joined slot
        assert len(c) <= 1 and len(o) <= 1


@settings(max_examples=300, deadline=None, derandomize=True)
@given(words, words)
def test_metric_properties(a, b):
    lev = levenshtein(a, b)
    osa = osa_distance(a, b)
    ind = indel_distance(a, b)
    # symmetry
    assert lev == levenshtein(b, a)
    assert ind == indel_distance(b, a)
    # identity
    assert (lev == 0) == (a == b)
    # bounds: osa <= lev <= indel <= len(a)+len(b)
    assert osa <= lev <= ind <= len(a) + len(b)
    # ratio in [0, 1]
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 1.0
    assert (r == 1.0) == (a == b)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(words, words, st.integers(min_value=0, max_value=3))
def test_osa_cutoff_consistent(a, b, cap):
    full = osa_distance(a, b)
    capped = osa_distance(a, b, cap)
    if full <= cap:
        assert capped == full
    else:
        assert capped == cap + 1


@settings(max_examples=150, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(words.filter(lambda w: len(w) >= 2), st.integers(1, 1000)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.text(alphabet="abcdefghijkæøå", min_size=2, max_size=9),
)
def test_symspell_index_equals_bruteforce(lex, query):
    """The deletion-variant index must return exactly the brute-force
    TOP candidate: min (distance, -freq, term) within max_edit=2.
    Contract: queries of length ≥ 2 (the corrector never looks up 1-char
    tokens, correct_ocr.py:341)."""
    from memo_fraktur_ocr_code_spark.functions.symspell import SymSpellIndex

    idx = SymSpellIndex.from_pairs(lex)
    got = idx.lookup_top(query)
    w = query.lower()
    if w in idx.words:
        assert got == w
        return
    cands = [
        (osa_distance(w, t), -c, t)
        for t, c in idx.words.items()
        if osa_distance(w, t) <= 2
    ]
    want = min(cands)[2] if cands else None
    assert got == want


# --- pruning-optimization equivalence (round 2) ---------------------------
# indel_distance gained prefix/suffix stripping and _iter_align gained a
# length-bound DP skip; both must be OUTPUT-IDENTICAL to the naive forms.


def _indel_naive(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = (
                prev[j - 1] + 1 if ca == b[j - 1] else max(cur[j - 1], prev[j])
            )
        prev = cur
    return la + lb - 2 * prev[lb]


@settings(max_examples=300, deadline=None, derandomize=True)
@given(words, words)
def test_indel_distance_matches_naive_dp(a, b):
    assert indel_distance(a, b) == _indel_naive(a, b)


def _iter_align_naive(orig_toks, first_tok, rest):
    from memo_fraktur_ocr_code_spark.functions.alignment import SPLIT_SEP

    best_sum = 0.0
    split = [orig_toks[0], SPLIT_SEP.join(orig_toks[1:])]
    rest_joined = "".join(rest)
    for i in range(len(orig_toks) + 1):
        p1, p2 = orig_toks[:i], orig_toks[i:]
        r1 = indel_ratio("".join(p1), first_tok)
        r2 = indel_ratio("".join(p2), rest_joined)
        if r1 == 1 or r2 == 1:
            return [SPLIT_SEP.join(p1), SPLIT_SEP.join(p2)]
        if r1 + r2 > best_sum:
            best_sum = r1 + r2
            split = [SPLIT_SEP.join(p1), SPLIT_SEP.join(p2)]
    return split


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    st.lists(words, min_size=1, max_size=6).map(tuple),
    words,
    st.lists(words, max_size=4).map(tuple),
)
def test_iter_align_pruning_is_output_identical(orig, first, rest):
    from memo_fraktur_ocr_code_spark.functions.alignment import _iter_align

    assert _iter_align(orig, first, rest) == _iter_align_naive(
        orig, first, rest
    )


_ALIGN_TOKS = st.text(alphabet="abæø☐1", max_size=30)


@settings(max_examples=600, deadline=None, derandomize=True)
@given(
    st.lists(_ALIGN_TOKS, min_size=1, max_size=8).map(tuple),
    _ALIGN_TOKS,
    st.lists(_ALIGN_TOKS, max_size=5).map(tuple),
)
def test_iter_align_matches_bruteforce_twin(orig, first, rest):
    """Wider draw than the pruning pin above: the ☐ padding token_align
    inserts, non-ASCII chars and joined lengths past 64 (several bigint
    words in both sweeps)."""
    from memo_fraktur_ocr_code_spark.functions.alignment import _iter_align

    assert _iter_align(orig, first, rest) == _iter_align_naive(
        orig, first, rest
    )


# --- overlay lookup ≡ merged-index lookup ----------------------------------
# The per-conv augmentation avoids rebuilding the 50k-word deletion index
# by consulting (base, delta) separately; this pins that shortcut to the
# ground truth: a full index built over the overlaid dictionary.


@settings(max_examples=150, deadline=None, derandomize=True)
@given(
    st.dictionaries(words.filter(bool), st.integers(1, 1000), max_size=12),
    st.dictionaries(words.filter(bool), st.integers(1, 1000), max_size=6),
    words.filter(bool),
)
def test_overlay_lookup_equals_merged_index(base_d, delta_d, query):
    from memo_fraktur_ocr_code_spark.functions.symspell import (
        SymSpellIndex,
        overlay_lookup_top,
    )

    base = SymSpellIndex(base_d)
    delta = SymSpellIndex(delta_d)
    merged = SymSpellIndex({**base_d, **delta_d})  # overlay last-wins
    got = overlay_lookup_top(query, base, delta, delta_d)
    want = merged.lookup_top(query)
    assert got == want, (base_d, delta_d, query, got, want)


# --- fast-path twins -------------------------------------------------------
# Each rewritten kernel is pinned against the form it replaced, kept here
# verbatim: the O(n·m) OSA DP, the backtracking dehyphenation pattern,
# difflib's matching blocks, the re.sub easy chain, pad-and-split
# tokenizing and the unfiltered chunk loop.


def _osa_distance_dp(a: str, b: str, max_dist: int | None = None) -> int:
    """Classic O(n·m) OSA DP with a row-minimum cutoff — the spec
    ``levtools.osa_distance`` computes bit-parallel."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if max_dist is not None and abs(la - lb) > max_dist:
        return max_dist + 1
    if la == 0:
        return lb
    if lb == 0:
        return la
    inf = la + lb
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [inf] * lb
        ca = a[i - 1]
        row_min = i
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            best = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == b[j - 1]:
                t = prev2[j - 2] + 1
                if t < best:
                    best = t
            cur[j] = best
            if best < row_min:
                row_min = best
        if max_dist is not None and row_min > max_dist:
            return max_dist + 1
        prev2 = prev
        prev = cur
    d = prev[lb]
    if max_dist is not None and d > max_dist:
        return max_dist + 1
    return d


_TWIN_ALPHA = "ab_1æØ"


@st.composite
def _edited_pair(draw, alphabet=_TWIN_ALPHA, max_size=90):
    """(a, b) with b a few random edits — adjacent swaps included — away
    from a, or unrelated; sizes cross the 64-bit word width."""
    a = draw(st.text(alphabet=alphabet, max_size=max_size))
    if draw(st.booleans()):
        return a, draw(st.text(alphabet=alphabet, max_size=max_size))
    b = list(a)
    for _ in range(draw(st.integers(0, 5))):
        i = draw(st.integers(0, len(b)))
        op = draw(st.sampled_from("tdis"))
        if op == "t" and i + 1 < len(b):
            b[i], b[i + 1] = b[i + 1], b[i]
        elif op == "d" and i < len(b):
            del b[i]
        elif op == "i":
            b.insert(i, draw(st.sampled_from(alphabet)))
        elif i < len(b):
            b[i] = draw(st.sampled_from(alphabet))
    return a, "".join(b)


@settings(max_examples=1500, deadline=None, derandomize=True)
@given(_edited_pair(), st.sampled_from([None, 0, 1, 2, 3]))
def test_osa_bitparallel_matches_dp_twin(pair, max_dist):
    a, b = pair
    assert osa_distance(a, b, max_dist) == _osa_distance_dp(a, b, max_dist)
    assert osa_distance(b, a, max_dist) == _osa_distance_dp(b, a, max_dist)


def test_osa_bitparallel_matches_dp_twin_examples():
    long_a = "abæØ" * 20 + "1_"
    long_b = "baæØ" * 20 + "_1"  # 21 transpositions past bit 64
    for a, b in [
        ("ab", "ba"), ("abc", "ca"), ("ca", "abc"), ("æØ", "Øæ"),
        ("abcd", "badc"), ("a", ""), ("", "ab"), (long_a, long_b),
        (long_a, long_a[1:]), (long_a + "x", "x" + long_a),
    ]:
        for cap in (None, 0, 1, 2, 3, 30):
            assert osa_distance(a, b, cap) == _osa_distance_dp(a, b, cap), (
                a, b, cap,
            )


# the reference dehyphenation pattern (myutils/__init__.py:190-200)
_DEHYPH_REF = re.compile(r"(\w+)[\xad⸗—-]+[\n\r\f]*\s*¶\s*(\S+)\s*")
_DEHYPH_ALPHA = _TWIN_ALPHA + "\xad⸗—-¶\n\r\f \t.,!"
_DEHYPH_ATOMS = (
    "ab", "æØ", "_1", "a", "\xad", "⸗", "—", "-", "--", "¶", "¶¶",
    "\n", "\r\n", "\f", " ", "  ", "\t", ".", ",", "!",
)


@settings(max_examples=3000, deadline=None, derandomize=True)
@given(
    st.one_of(
        st.text(alphabet=_DEHYPH_ALPHA, max_size=60),
        st.lists(st.sampled_from(_DEHYPH_ATOMS), max_size=30).map("".join),
    )
)
def test_dehyph_regex_matches_reference_pattern(s):
    from memo_fraktur_ocr_code_spark.functions.textspec import _DEHYPH_RE

    assert _DEHYPH_RE.sub(r"\1\2¶", s) == _DEHYPH_REF.sub(r"\1\2¶", s)


_TOKENS = ("a", "b", "c", "æ", "ø", "¶", "☐")


def _seeded_tokens(size_seed):
    size, seed = size_seed
    rng = random.Random(seed)
    return [rng.choice(_TOKENS[:4]) for _ in range(size)]


@settings(max_examples=800, deadline=None, derandomize=True)
@given(
    st.lists(st.sampled_from(_TOKENS), max_size=40).map(tuple),
    st.one_of(
        st.lists(st.sampled_from(_TOKENS), max_size=40),
        # from 200 elements on, popular elements exist (autojunk); drawn
        # from a seed, since hypothesis builds long lists slowly
        st.tuples(st.integers(196, 240), st.integers(0, 2**32)).map(
            _seeded_tokens
        ),
    ).map(tuple),
)
def test_matching_blocks_match_sequencematcher(a, b):
    from difflib import SequenceMatcher

    from memo_fraktur_ocr_code_spark.functions.alignment import (
        _matching_blocks,
    )

    want = [tuple(m) for m in SequenceMatcher(None, a, b).get_matching_blocks()]
    assert _matching_blocks(a, b) == want
    assert _matching_blocks(b, a) == [
        tuple(m) for m in SequenceMatcher(None, b, a).get_matching_blocks()
    ]


def _tokenize_ref(string: str) -> list[str]:
    padded = re.sub(r'([.,:;„“”"»«\'!?()])', r" \1 ", string)
    return [t for t in re.split(r"\s+", padded) if t]


# the punctuation class, ASCII and Unicode whitespace, and near misses
_TOKENIZE_ALPHA = (
    'ab æ.,:;„“”"»«\'!?()-¶' + "\n\t\r\x0b\x0c\x1c\x85\xa0\u2003"
)


@settings(max_examples=1500, deadline=None, derandomize=True)
@given(st.text(alphabet=_TOKENIZE_ALPHA, max_size=40))
def test_tokenize_matches_pad_and_split(s):
    assert tokenize(s) == _tokenize_ref(s)


def _correct_easy_ref(text: str) -> str:
    text = text.replace("ſ", "s")
    text = text.replace(",&", ", &")
    text = re.sub(r"œæ", "æ", text)
    text = re.sub(r"æœ", "æ", text)
    text = re.sub(r"œe", "æ", text)
    text = re.sub(r"eœ", "æ", text)
    text = re.sub(r"œ", "æ", text)
    return text


@settings(max_examples=1500, deadline=None, derandomize=True)
@given(st.text(alphabet="œæeſs,& aE\n", max_size=40))
def test_correct_easy_matches_regex_chain(s):
    assert correct_easy(s) == _correct_easy_ref(s)


def _correct_chunk_ref(chunk, replacements, most_frequent):
    from memo_fraktur_ocr_code_spark.functions.alignment import (
        _correction_pair,
        _good_pair,
    )

    frak_toks = tuple(x[0] for x in chunk)
    alt_toks = tuple(x[1] for x in chunk)
    chunk_str = " ".join(frak_toks)
    alt_str = " ".join(alt_toks)
    corr: dict[str, str] = {}
    tok_pairs = list(zip(frak_toks, alt_toks))
    for fchar, achar in replacements:
        if fchar not in chunk_str or achar not in alt_str:
            continue
        for f, a in tok_pairs:
            if _good_pair(f, a, fchar, achar, most_frequent):
                k, v = _correction_pair(f, a, fchar, achar)
                corr[k] = v
    if not corr:
        return chunk_str
    rgx = re.compile(r"\b(" + "|".join(map(re.escape, corr.keys())) + r")\b")
    return rgx.sub(lambda m: corr[m.group(0)], chunk_str)


# a small vocabulary makes the same token meet several partners
_CHUNK_WORDS = st.one_of(
    st.sampled_from(("to", "tø", "ta", "tæ", "ok", "øk", "Du", "Øn", "Jt")),
    st.text(alphabet="oøaæeJItkDØunfl", min_size=1, max_size=5),
)


def _alt_renderings(w):
    """w itself or w with one replacement rule's char swapped in."""
    return st.tuples(
        st.just(w),
        st.sampled_from(
            [w] + [w.replace(f, a) for f, a in (("o", "ø"), ("a", "æ"),
                                                 ("t", "k"), ("u", "n"))]
        ),
    )


@settings(max_examples=800, deadline=None, derandomize=True)
@given(
    st.lists(
        st.one_of(
            _CHUNK_WORDS.flatmap(_alt_renderings),
            st.tuples(_CHUNK_WORDS, _CHUNK_WORDS),
        ),
        min_size=1,
        max_size=12,
    ),
    st.frozensets(_CHUNK_WORDS, max_size=4),
    st.booleans(),
)
@example([("to", "tø"), ("to", "to")], frozenset(), True)
def test_correct_chunk_matches_unfiltered_loop(chunk, most_frequent, self_rule):
    from memo_fraktur_ocr_code_spark.functions.alignment import _correct_chunk
    from memo_fraktur_ocr_code_spark.functions.textspec import (
        HARD_REPLACEMENTS,
    )

    # a rule with fchar == achar keeps equal pairs in play
    reps = HARD_REPLACEMENTS + ((("o", "o"),) if self_rule else ())
    assert _correct_chunk(chunk, reps, most_frequent) == _correct_chunk_ref(
        chunk, reps, most_frequent
    )
