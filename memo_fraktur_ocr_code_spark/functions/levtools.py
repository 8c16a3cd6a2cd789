"""Edit-distance kernels (pure, deterministic).

Single source of truth for distance/similarity semantics used by the
oracle and by the Arrow-batched Spark kernels.

* levenshtein   — classic unit-cost edit distance (reference uses
                  ``Levenshtein.distance``, memoocr/align_ocr.py:45).
* indel_ratio   — the ``Levenshtein.ratio`` similarity: substitutions cost
                  2 (pure insert/delete distance), normalized by total
                  length (memoocr/align_ocr.py:47).
* osa_distance  — optimal-string-alignment distance with band cutoff
                  (the SymSpell metric; symspellpy uses Damerau-OSA),
                  computed with Hyyrö's bit-parallel recurrence.
* cer           — both CER definitions kept distinct
                  (align_ocr.py:33-38 vs add_vrt_annotations.py:361).
* get_difftype  — memoocr/add_vrt_annotations.py:385-396.
* get_op_str    — myutils/__init__.py:233-246 opcode summary.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher


def levenshtein(a: str, b: str) -> int:
    """Unit-cost edit distance (insert/delete/substitute = 1)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return prev[lb]


def indel_distance(a: str, b: str) -> int:
    """Edit distance with substitution cost 2 == len(a)+len(b)-2*LCS.

    Common prefix/suffix are stripped first (distance-invariant:
    LCS(xay, xby) = |x| + LCS(a, b) + |y|), which collapses the hot
    near-match case to a tiny core; the stripped middle runs the
    Allison-Dix bit-parallel LCS — one bigint row per character, exact
    integer arithmetic, so the value is identical to the classic DP
    (pinned by the `_indel_distance_dp` property twin in test_kernels)
    at a fraction of the interpreted cost.  This is the hottest kernel
    of the alignment stage (~70% of `alt_ocr_correct` before the
    rewrite, r7 profile)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    lo = 0
    m = min(la, lb)
    while lo < m and a[lo] == b[lo]:
        lo += 1
    ea, eb = la, lb
    while ea > lo and eb > lo and a[ea - 1] == b[eb - 1]:
        ea -= 1
        eb -= 1
    a2, b2 = a[lo:ea], b[lo:eb]
    if not a2 or not b2:
        return len(a2) + len(b2)
    # mask the SHORTER side: bigint width (and mask build) scale with
    # the masked string; LCS is symmetric so the swap is value-neutral
    if len(b2) > len(a2):
        a2, b2 = b2, a2
    masks: dict = {}
    bit = 1
    for ch in b2:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    row = 0
    get = masks.get
    for ch in a2:
        x = row | get(ch, 0)
        row = x & ~(x - ((row << 1) | 1))
    return len(a2) + len(b2) - 2 * row.bit_count()


def _indel_distance_dp(a: str, b: str) -> int:
    """Classic O(n·m) LCS-row DP twin of :func:`indel_distance` — the
    engine-portable spec the bit-parallel path must match value-for-value
    (property-tested; not used in any query path).  This is the exact
    pre-r7 implementation."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ca = a[i - 1]
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
        prev = cur
    return la + lb - 2 * prev[lb]


def indel_ratio(a: str, b: str) -> float:
    """Levenshtein-*ratio* similarity in [0, 1]."""
    total = len(a) + len(b)
    if total == 0:
        return 1.0
    return (total - indel_distance(a, b)) / total


def osa_distance(a: str, b: str, max_dist: int | None = None) -> int:
    """Optimal string alignment (Damerau with non-overlapping transposes).

    Returns ``max_dist + 1`` when the distance exceeds ``max_dist`` (cheap
    band cutoff) — callers treat that as "no match".

    Hyyrö's bit-parallel OSA (2003): match masks over ``a``, then one
    bigint update of the vertical/horizontal delta vectors per character
    of ``b``; the transposition term ``((~D0 & PM) << 1) & PM_prev``
    marks the cells where ``a[i-1:i+1]`` is ``b[j-1:j+1]`` swapped.  No
    step moves a bit downward (shifts are left, carries go up), and every
    ``~`` is masked to the pattern width so the integers stay small and
    non-negative; the value is the classic O(n·m) DP's (pinned by the
    ``_osa_distance_dp`` property twin in test_properties).  The DP's
    row-minimum cutoff could never change the result — OSA row minima
    are non-decreasing, so the final distance is above ``max_dist``
    exactly when some row minimum is — hence the cutoff here is applied
    to the final value only."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if max_dist is not None and abs(la - lb) > max_dist:
        return max_dist + 1
    if la == 0:
        return lb
    if lb == 0:
        return la
    masks: dict = {}
    bit = 1
    for ch in a:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    full = bit - 1
    high = bit >> 1
    get = masks.get
    vp, vn, d0, pm_prev = full, 0, 0, 0
    d = la
    for ch in b:
        pm = get(ch, 0)
        d0 = (((~d0 & pm) << 1) & pm_prev) | (((pm & vp) + vp) ^ vp) | pm | vn
        hp = vn | (~(d0 | vp) & full)
        hn = vp & d0
        if hp & high:
            d += 1
        elif hn & high:
            d -= 1
        hp = (hp << 1) | 1
        vp = ((hn << 1) | ~(d0 | hp)) & full
        vn = hp & d0
        pm_prev = pm
    if max_dist is not None and d > max_dist:
        return max_dist + 1
    return d


def cer_of_pair(lev: int, corr: str) -> float:
    """CER = lev / len(correct) * 100, rounded 2dp (align_ocr.py:33-38).

    Reference-parity quirk, kept deliberately: an EMPTY gold string
    returns CER 0 even when ``lev > 0`` (spurious OCR output against
    empty gold scores as perfect) — this is the reference's own
    ``get_cer`` guard (``if lev == 0 or not corr``), reproduced so CER
    aggregates match the reference's numbers; pinned by
    tests/test_kernels.py."""
    if lev == 0 or not corr:
        return 0.0
    return round(lev / len(corr) * 100, 2)


def cer_from_ratio(ratio: float) -> float:
    """CER = 1 - ratio, rounded 2dp (add_vrt_annotations.py:361)."""
    return round(1.0 - ratio, 2)


def get_difftype(str1: str, str2: str) -> str:
    """Difference-type classifier (add_vrt_annotations.py:385-396)."""
    if "_" in str1 and len(str1) > 1 and str1.replace("_", "") == str2:
        return "same_chars"
    if str1 == str2:
        return "match"
    if "[-]" not in str1 and "_" not in str2:
        return f"lev_{levenshtein(str1, str2)}"
    if "[-]" not in str1 and "_" in str2:
        return f"split_lev_{levenshtein(str1, str2)}"
    return "blaha"


def get_op_str(a: str, b: str) -> str:
    """Opcode summary string (myutils/__init__.py:233-246): ``corr=err``
    atoms joined by '+', '•' for an empty side, underscore-split pairs
    generalized to x/X patterns."""
    if "_" in a and re.sub("_", "", a) == b:
        a = re.sub(r"[^_]", "x", a)
        b = re.sub(r"\w", "X", b)
    s = SequenceMatcher(None, a, b)
    ops = []
    for tag, i1, i2, j1, j2 in s.get_opcodes():
        if tag == "equal":
            continue
        ops.append(f"{a[i1:i2] if a[i1:i2] else '•'}={b[j1:j2] if b[j1:j2] else '•'}")
    return "+".join(ops)
