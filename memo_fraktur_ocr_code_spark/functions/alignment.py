"""Order-sensitive token-stream alignment kernels.

The reference's "joins" are sequence alignments between token streams —
positional joins with fuzzy keys (SURVEY.md §2.3).  No Catalyst primitive
expresses them; they run inside grouped/batched pandas kernels.  This
module is the single spec implementation shared by the oracle and the
Spark executors.

Re-specified behavior (reference cited; no code copied):

* align_b_to_a            — memoocr/align_ocr.py:72-89
* get_align_indexes       — memoocr/align_ocr.py:134-168
* bad-sequence re-align   — memoocr/align_ocr.py:92-131
* token_align             — memoocr/align_ocr.py:171-224
                            (*iterative* re-spec of recursive_token_align:
                            the reference recursion can hit RecursionError
                            and even crash on an unbound variable at
                            align_ocr.py:236-246; we spec the success path
                            only, with no recursion limit)
* integrate_junk          — memoocr/align_ocr.py:251-270
* alt_ocr_correct         — memoocr/correct_ocr.py:85-156 (selective char
                            transfer from an alternative OCR channel, in
                            250-token chunks)

Fast paths, each output-identical to the form it replaced (property
twins in tests/test_properties.py):

* ``_matching_blocks`` — difflib's ``get_matching_blocks`` inlined for
  ``isjunk=None`` and ``len(b) < 200``: autojunk is off there, so no
  element is junk or popular and the junk/popular extension loops never
  fire; longer ``b`` falls back to ``SequenceMatcher``.
* ``_correct_chunk`` — token pairs with ``f == a`` are dropped before the
  replacement loop: a rule fires on a pair only where ``f`` holds
  ``fchar`` and ``a`` holds ``achar`` at one index, impossible on equal
  tokens when ``fchar != achar`` (true of every ``HARD_REPLACEMENTS``
  rule; a rule with ``fchar == achar`` still sees every pair).
* ``_iter_align`` — two Allison–Dix bit-parallel LCS sweeps score all
  binary splits (see its docstring).
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher

from memo_fraktur_ocr_code_spark.functions.textspec import (
    HARD_REPLACEMENTS,
    PILCROW_ESCAPE,
    chunk_list,
    tokenize,
)

SPLIT_SEP = "☐"
JUNK_SEP = "◇"


def _matching_blocks(a: tuple, b: tuple) -> list[tuple[int, int, int]]:
    """``SequenceMatcher(None, a, b).get_matching_blocks()`` as plain
    ``(i, j, size)`` tuples, terminator included.

    Below 200 elements of ``b`` difflib's autojunk heuristic is off and
    ``isjunk`` is None, so its ``b2j`` index holds every element: there
    are no junk or popular elements, the four junk/popular extension
    loops of ``find_longest_match`` provably never fire (the longest
    junk-free block is already maximal), and what is left is the longest
    block recursion below — difflib's own loops, inlined, with the same
    strict-improvement tie-break and the same block sort and
    adjacent-block collapse.  From 200 elements on, popular elements
    exist and ``SequenceMatcher`` runs instead (pinned block-for-block
    by the property twin in test_properties)."""
    la, lb = len(a), len(b)
    if lb >= 200:
        sm = SequenceMatcher(None, a, b)
        return [tuple(m) for m in sm.get_matching_blocks()]
    b2j: dict = {}
    for j, elt in enumerate(b):
        b2j.setdefault(elt, []).append(j)
    nothing: list = []
    queue = [(0, la, 0, lb)]
    blocks = []
    while queue:
        alo, ahi, blo, bhi = queue.pop()
        besti, bestj, bestsize = alo, blo, 0
        j2len: dict = {}
        for i in range(alo, ahi):
            j2lenget = j2len.get
            newj2len = {}
            for j in b2j.get(a[i], nothing):
                if j < blo:
                    continue
                if j >= bhi:
                    break
                k = newj2len[j] = j2lenget(j - 1, 0) + 1
                if k > bestsize:
                    besti, bestj, bestsize = i - k + 1, j - k + 1, k
            j2len = newj2len
        if bestsize:
            blocks.append((besti, bestj, bestsize))
            if alo < besti and blo < bestj:
                queue.append((alo, besti, blo, bestj))
            if besti + bestsize < ahi and bestj + bestsize < bhi:
                queue.append((besti + bestsize, ahi, bestj + bestsize, bhi))
    blocks.sort()
    i1 = j1 = k1 = 0
    out = []
    for i2, j2, k2 in blocks:
        if i1 + k1 == i2 and j1 + k1 == j2:
            k1 += k2
        else:
            if k1:
                out.append((i1, j1, k1))
            i1, j1, k1 = i2, j2, k2
    if k1:
        out.append((i1, j1, k1))
    out.append((la, lb, 0))
    return out


def get_align_indexes(a: tuple, b: tuple) -> list[tuple[int, int, int, int, bool]]:
    """(ai, aj, bi, bj, is_match) spans covering both sequences, from
    SequenceMatcher matching blocks (align_ocr.py:134-168)."""
    blocks = _matching_blocks(a, b)
    if len(blocks) == 1:
        ai, bi, size = blocks[0]
        return [(0, ai, 0, bi, bool(size))]
    out: list[tuple[int, int, int, int, bool]] = []
    for (ai, bi, size), (an, bn, _s) in zip(blocks, blocks[1:]):
        aj, bj = ai + size, bi + size
        out.append((ai, aj, bi, bj, True))
        out.append((aj, an, bj, bn, False))
    if out[0][0] > 0 or out[0][2] > 0:
        out = [(0, out[0][0], 0, out[0][2], False)] + out
    return out


def _iter_align(orig_toks: tuple, first_tok: str, rest: tuple) -> list[str]:
    """Best binary split of orig_toks against (first_tok, rest) by summed
    indel ratio, with perfect-match early exit (align_ocr.py:178-196).

    r7 two-sweep rewrite: every candidate ratio is a function of
    LCS(prefix_i, first_tok) and LCS(suffix_i, rest_joined), and the
    Allison-Dix bit-parallel LCS row extends incrementally per character
    — so ONE forward sweep over the joined tokens (masks over
    ``first_tok``) and ONE reversed sweep (masks over reversed
    ``rest_joined``; LCS is reversal-invariant) yield all n+1 candidate
    LCS values in O(total chars) bigint steps, replacing one O(n·m) DP
    per candidate.  Value-identical: the ratios use the same integers
    and the same division as ``indel_ratio``; the loop replicates the
    reference's ascending-i perfect-match early exit and strict-improve
    incumbent (the pre-r7 length-bound pruning it replaces was itself
    value-neutral: the bound dominates the ratio, so skipped candidates
    could neither early-exit nor improve the incumbent).  Pinned against
    ``_iter_align_naive`` — a brute-force twin that scores every split
    with ``indel_ratio`` under the same early exit and strict-improvement
    rule — by the property tests in test_properties."""
    n = len(orig_toks)
    rest_joined = "".join(rest)
    lf, lr = len(first_tok), len(rest_joined)
    # cumulative joined-prefix lengths: lens[i] = len("".join(orig[:i]))
    lens = [0]
    for t in orig_toks:
        lens.append(lens[-1] + len(t))
    total = lens[-1]

    # forward sweep: lcs1[i] = LCS("".join(orig_toks[:i]), first_tok)
    masks: dict = {}
    bit = 1
    for ch in first_tok:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    get = masks.get
    lcs1 = [0] * (n + 1)
    row = 0
    for i, tok in enumerate(orig_toks):
        for ch in tok:
            x = row | get(ch, 0)
            row = x & ~(x - ((row << 1) | 1))
        lcs1[i + 1] = row.bit_count()

    # reversed sweep: lcs2[i] = LCS("".join(orig_toks[i:]), rest_joined)
    masks = {}
    bit = 1
    for ch in reversed(rest_joined):
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    get = masks.get
    lcs2 = [0] * (n + 1)
    row = 0
    for i in range(n - 1, -1, -1):
        for ch in reversed(orig_toks[i]):
            x = row | get(ch, 0)
            row = x & ~(x - ((row << 1) | 1))
        lcs2[i] = row.bit_count()

    best_sum = 0.0
    split = [orig_toks[0], SPLIT_SEP.join(orig_toks[1:])]
    for i in range(n + 1):
        t1 = lens[i] + lf
        t2 = (total - lens[i]) + lr
        # same integers, same division as indel_ratio(a, b):
        # (t - dist) / t with dist = t - 2*LCS
        r1 = 1.0 if t1 == 0 else (t1 - (t1 - 2 * lcs1[i])) / t1
        r2 = 1.0 if t2 == 0 else (t2 - (t2 - 2 * lcs2[i])) / t2
        if r1 == 1 or r2 == 1:
            return [
                SPLIT_SEP.join(orig_toks[:i]),
                SPLIT_SEP.join(orig_toks[i:]),
            ]
        if r1 + r2 > best_sum:
            best_sum = r1 + r2
            split = [
                SPLIT_SEP.join(orig_toks[:i]),
                SPLIT_SEP.join(orig_toks[i:]),
            ]
    return split


def token_align(corr: tuple, orig: tuple) -> tuple[tuple, tuple]:
    """Align ``orig`` onto ``corr`` so the output arities match len(corr).

    Iterative re-spec of align_ocr.py:171-224 (`recursive_token_align`);
    fragments are joined with ``SPLIT_SEP``; empty slots become the
    separator itself.
    """
    if len(corr) == 1:
        return tuple(corr), (SPLIT_SEP.join(orig),)
    if not corr and not orig:
        return (), ()
    if not corr:
        return (), (SPLIT_SEP.join(orig),)
    if not orig:
        return (SPLIT_SEP.join(corr),), ()
    corr_out: list[str] = []
    orig_out: list[str] = []
    corr_rem = tuple(corr)
    orig_rem = tuple(orig)
    while True:
        if len(orig_rem) < 2:
            orig_rem = orig_rem + (SPLIT_SEP,) * (2 - len(orig_rem))
        split = _iter_align(orig_rem, corr_rem[0], corr_rem[1:])
        orig_out.append(split[0])
        corr_out.append(corr_rem[0])
        if len(corr_rem) == 2:
            orig_out.append(split[1])
            corr_out.append(SPLIT_SEP.join(corr_rem[1:]))
            return (
                tuple(corr_out),
                tuple(t if t else SPLIT_SEP for t in orig_out),
            )
        corr_rem = corr_rem[1:]
        orig_rem = tuple(split[1].split(SPLIT_SEP))


def _get_bad_seq_indexes(aligned_chunks: list, mismatch: int = 8) -> list[tuple]:
    """Index pairs of badly length-mismatched chunk runs
    (align_ocr.py:92-108)."""
    diffs = [len(c0) - len(c1) for c0, c1 in aligned_chunks]
    zl = list(zip(diffs, diffs[2:]))
    badseqs = []
    badseq: list[int] = []
    for i, (d0, d1) in enumerate(zl):
        if not badseq and abs(d0) > mismatch and abs(d1) > mismatch:
            badseq.append(i)
        elif badseq and abs(d0) > mismatch and not abs(d1) > mismatch:
            badseq.append(i + 1)
            badseqs.append(tuple(badseq))
            badseq = []
    return badseqs


def _fix_bad_seqs(aligned_chunks: list, bad_index_pairs: list) -> list:
    """Re-align bad chunk runs as one block (align_ocr.py:111-131)."""

    def flatten(seq):
        return [x for sub in seq for x in sub]

    def fix(chunks):
        a = tuple(flatten([x for x, _ in chunks]))
        b = tuple(flatten([y for _, y in chunks]))
        spans = get_align_indexes(a, b)
        return [
            (a[ai:aj], b[bi:bj])
            for ai, aj, bi, bj, _m in spans
            if a[ai:aj] or b[bi:bj]
        ]

    flat = sorted(set(flatten(bad_index_pairs)))
    head = aligned_chunks[: flat[0]]
    tail = aligned_chunks[flat[-1] :]
    pairs = list(zip(flat, flat[1:]))
    rebuilt = []
    for i, (lo, hi) in enumerate(pairs):
        sub = aligned_chunks[lo:hi]
        rebuilt.extend(fix(sub) if i % 2 == 0 else sub)
    return head + rebuilt + tail


def _repair_nonmatching(aligned_chunks: list) -> list:
    """Equalize chunk arities via token_align (align_ocr.py:227-248)."""
    out = []
    for c0, c1 in aligned_chunks:
        if len(c0) == len(c1):
            out.append((c0, c1))
        else:
            if not c1:
                c1 = (SPLIT_SEP,)
            out.append(token_align(tuple(c0), tuple(c1)))
    return out


def _integrate_junk(merged: list) -> list:
    """Fold chunks with an empty correct side into neighbors with a junk
    separator (align_ocr.py:251-270).

    Spec deviation from the reference: a fully empty chunk ``((), ())``
    (always produced by SequenceMatcher's zero-size terminator block when
    the streams end on a match) is a no-op here.  The reference folds it
    into a ``('',)`` junk tuple and appends a dangling ``◇`` to the last
    aligned token of every such page — a bug we do not reproduce."""
    out = []
    junk: tuple = ()
    for tup in merged:
        if tup[0]:
            if junk:
                orig = tup[1]
                first = JUNK_SEP.join([junk[0], orig[0]])
                tup = (tup[0], (first,) + orig[1:])
                junk = ()
            out.append(tup)
        elif tup[1] or junk:
            junk = (JUNK_SEP.join(junk + tup[1]),)
    if junk:
        c, orig = out[-1]
        out[-1] = (c, orig[:-1] + (JUNK_SEP.join([orig[-1], junk[0]]),))
    return out


def align_b_to_a(a: tuple, b: tuple) -> tuple:
    """Re-bucket token stream ``b`` to exactly ``len(a)`` slots
    (align_ocr.py:72-89)."""
    if not a:
        return ()
    if a == b:
        # identity fast path: alignment of equal streams is the stream
        # itself (all-match chunks, junk-fold no-ops) — skips the
        # SequenceMatcher DP, the hot case for mostly-agreeing channels
        return tuple(b)
    spans = get_align_indexes(a, b)
    chunks = [(a[ai:aj], b[bi:bj]) for ai, aj, bi, bj, _m in spans]
    bad = _get_bad_seq_indexes(chunks, mismatch=8)
    if bad:
        chunks = _fix_bad_seqs(chunks, bad)
    chunks = _repair_nonmatching(chunks)
    chunks = _integrate_junk(chunks)
    aligned = tuple(t for _c, orig in chunks for t in orig)
    assert len(aligned) == len(a), f"alignment arity {len(aligned)} != {len(a)}"
    return aligned


# ---------------------------------------------------------------------------
# correct_hard: selective char transfer from an alternative OCR channel
# ---------------------------------------------------------------------------


def _correction_pair(frak: str, alt: str, fchar: str, achar: str) -> tuple[str, str]:
    """Replace fchar with achar at indexes where alt has achar
    (correct_ocr.py:125-134)."""
    idxs = [i for i, ch in enumerate(alt) if ch == achar]
    chars = list(frak)
    for i in idxs:
        if len(chars) > i and chars[i] == fchar:
            chars[i] = achar
    return frak, "".join(chars)


def _good_pair(
    frak: str, alt: str, fchar: str, achar: str, most_frequent: frozenset
) -> bool:
    """Guards for a useful correction pair (correct_ocr.py:136-153).

    The conjunction is commutative over pure predicates, so the cheap
    C-level substring checks run first and the common-position test is a
    single zip scan (== the reference's index-set intersection over the
    shared index range) — allocation-free on the hot all-False path."""
    if fchar not in frak or achar not in alt:
        return False
    if frak.lower() in most_frequent:
        return False
    for f, a in zip(frak, alt):
        if f == fchar and a == achar:
            return True
    return False


def _correct_chunk(
    chunk: list[tuple[str, str]],
    replacements,
    most_frequent: frozenset,
) -> str:
    """Apply char-transfer corrections inside one 250-token chunk
    (correct_ocr.py:107-119)."""
    frak_toks = tuple(x[0] for x in chunk)
    alt_toks = tuple(x[1] for x in chunk)
    chunk_str = " ".join(frak_toks)
    alt_str = " ".join(alt_toks)
    corr: dict[str, str] = {}
    tok_pairs = list(zip(frak_toks, alt_toks))
    # a pair fires only where f has fchar and a has achar at one index,
    # so for fchar != achar (every HARD_REPLACEMENTS rule) an equal pair
    # never passes _good_pair and can be dropped up front
    diff_pairs = [(f, a) for f, a in tok_pairs if f != a]
    for fchar, achar in replacements:
        # chunk-level bail: a pair can only fire if both chars occur
        if fchar not in chunk_str or achar not in alt_str:
            continue
        for f, a in diff_pairs if fchar != achar else tok_pairs:
            if _good_pair(f, a, fchar, achar, most_frequent):
                k, v = _correction_pair(f, a, fchar, achar)
                corr[k] = v
    if not corr:
        return chunk_str
    rgx = re.compile(r"\b(" + "|".join(map(re.escape, corr.keys())) + r")\b")
    return rgx.sub(lambda m: corr[m.group(0)], chunk_str)


def alt_ocr_correct(
    text: str,
    alt_text: str,
    most_frequent: frozenset,
    replacements=HARD_REPLACEMENTS,
    chunk_size: int = 250,
) -> str:
    """Per-turn hard correction informed by the alternative OCR channel
    (correct_ocr.py:85-104).

    Newlines are protected as pilcrow tokens, both channels tokenized, the
    alt stream aligned 1:1 onto the base stream, and char transfers applied
    in ``chunk_size``-token chunks (chunking bounds the word-boundary regex
    overgeneralization — kept as part of the spec, and it is also what
    makes chunk-salted distribution *correct* at scale).
    """
    esc = text.replace("¶", PILCROW_ESCAPE).replace("\n", " ¶ ")
    alt_esc = alt_text.replace("¶", PILCROW_ESCAPE).replace("\n", " ¶ ")
    toks = tuple(tokenize(esc))
    alt_toks = tuple(tokenize(alt_esc))
    if not toks:
        return text
    aligned = align_b_to_a(toks, alt_toks)
    chunks = chunk_list(list(zip(toks, aligned)), chunk_size)
    parts = [_correct_chunk(c, replacements, most_frequent) for c in chunks]
    joined = " ".join(parts)
    joined = joined.replace(" ¶ ", "\n")
    return joined.replace(PILCROW_ESCAPE, "¶")
