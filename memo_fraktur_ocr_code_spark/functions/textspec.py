"""Deterministic text-processing *spec* kernels.

These pure functions define the semantics of the pipeline.  They are the
single source of truth used by BOTH the single-node oracle
(``memo_fraktur_ocr_code_spark.oracle``) and the Spark executors (inside
Arrow-batched pandas UDFs).  Keeping one implementation is what makes
per-turn byte-equality between the two execution models meaningful *and*
achievable.

Semantics re-specified from the reference (cited per function, reference
tree at /root/reference — behavior only, no code copied):

* tokenize        — myutils/__init__.py:179-187 (NLTK replaced by a fully
                    deterministic regex tokenizer; the tokenizer *is* the
                    spec for pipeline and gold alike)
* fix_hyphens     — myutils/__init__.py:190-200
* correct_easy    — memoocr/correct_ocr.py:39-43 (+ ocr.py:34 ſ→s, ,&→, &)
* page filtering  — memoocr/correct_ocr.py:398-405, 414-420
* chunk_list      — myutils/__init__.py:154-156
* noise/punct     — memoocr/correct_ocr.py:350-353

Fast paths, each output-identical to the reference form (property twins
in tests/test_properties.py, frozen output digests in
tests/test_kernel_digest.py):

* ``correct_easy`` — the literal ``re.sub`` chain as ``str.replace`` in
  the same order, with the five œ rules skipped on œ-free text (they only
  emit ``æ``, never ``œ``).
* ``tokenize`` — pad-then-split as a single ``findall``.
* ``_DEHYPH_RE`` — the dehyphenation match anchored at the start of a
  word run and taking the run atomically, so a failed attempt no longer
  backtracks through every suffix of every word (see the pattern's
  comment for why the matched spans are the same).
"""

from __future__ import annotations

import re

PAGEBREAK = "___PAGEBREAK___"
PILCROW_ESCAPE = "___PILCROW___"

# Reference pads this set with spaces before word-splitting
# (myutils/__init__.py:182).  Padding, then splitting on whitespace,
# yields each punctuation char alone and every maximal run of the other
# non-whitespace chars — exactly what one findall of this pattern returns.
_TOKEN_RE = re.compile(r'[.,:;„“”"»«\'!?()]|[^\s.,:;„“”"»«\'!?()]+')

# memoocr/correct_ocr.py:350 — tokens treated as pure noise by the word
# corrector (suggestion None → original passed through).
NOISE_TOKENS = frozenset(["*", "ð", "—", "——", "———", "—————"])

# memoocr/correct_ocr.py:353 — informative punctuation kept verbatim.
KEEP_PUNCT = frozenset(["—", ",", ".", ":", ";", "-", "?", "!", "'", '"'])

# memoocr/correct_ocr.py:361-369 — SymSpell false-positive cancellations.
FALSE_POSITIVE_PAIRS = frozenset(
    [
        ("Hr", "Er"), ("Høgefjer", "Søgefjer"), ("efterlært", "efterlæst"),
        ("Gjæstemildhed", "Gjcestemildhed"), ("bedachtsam", "bedachfsam"),
        ("Eunucherne", "Puncherne"), ("Hofpersonale", "Togpersonale"),
        ("Fyrstesøn", "Fyrslesøn"), ("müssen", "messen"), ("Zeit", "Seit"),
        ("benutzen", "bendtsen"), ("Størreparten", "tørveparten"),
        ("trangt", "fragt"), ("Indtagelsen", "Undtagelsen"),
        ("Stormand", "formand"), ("vollendet", "vollenden"), ("Für", "For"),
        ("Liedlein", "Kindlein"), ("erdacht", "erwacht"), ("sie", "sig"),
        ("Sie", "Sig"), ("Mädchen", "Madchen"), ("Fos", "For"),
        ("Afkjølende", "Afkjølede"), ("Spydstikket", "Spydstokkes"),
    ]
)

# memoocr/correct_ocr.py:69-70 — alt-OCR-informed char replacement pairs,
# in application order (duplicates kept: dict.update order matters).
HARD_REPLACEMENTS = (
    ("o", "ø"), ("a", "æ"), ("e", "æ"), ("J", "I"), ("t", "k"), ("o", "æ"),
    ("D", "Ø"), ("u", "n"), ("t", "f"), ("t", "l"), ("t", "k"),
)

# Tokens dropped from frequency counting (memoocr/correct_ocr.py:263).
FREQCOUNT_DROP = frozenset(",.„“?!;—:»")


def tokenize(string: str) -> list[str]:
    """Deterministic whitespace tokenizer with punctuation pre-splitting.

    Spec replacement for the reference's NLTK Danish tokenizer
    (myutils/__init__.py:179-187): pad the punctuation class with spaces,
    then split on whitespace (computed as one ``findall``).  NLTK is
    per-row Python, version-unstable and non-vectorizable; since this
    tokenizer defines both the pipeline and the gold, per-turn equality
    holds by construction.
    """
    return _TOKEN_RE.findall(string)


def correct_easy(text: str) -> str:
    """Ordered context-free regex normalization.

    memoocr/correct_ocr.py:39-43 (œ-family → æ) plus the OCR-stage
    normalizations ſ→s and ",&" → ", &" (memoocr/ocr.py:34).  Order is part
    of the spec.

    Every rule is a literal, so ``str.replace`` (non-overlapping, left to
    right) is exactly the reference's ``re.sub``; the five œ rules only
    ever emit ``æ``, so a text without ``œ`` skips them all.
    """
    text = text.replace("ſ", "s")
    text = text.replace(",&", ", &")
    if "œ" not in text:
        return text
    text = text.replace("œæ", "æ")
    text = text.replace("æœ", "æ")
    text = text.replace("œe", "æ")
    text = text.replace("eœ", "æ")
    return text.replace("œ", "æ")


# One regexp_replace-compatible view of the same chain, for the Catalyst
# fast path (operators/normalize.py keeps the identical order).
CORRECT_EASY_STEPS: tuple[tuple[str, str], ...] = (
    (r"ſ", "s"),
    (r",&", ", &"),
    (r"œæ", "æ"),
    (r"æœ", "æ"),
    (r"œe", "æ"),
    (r"eœ", "æ"),
    (r"œ", "æ"),
)


# ``word<hyphens><line end>¶<next word>`` across a pilcrow boundary.  The
# reference pattern is ``(\w+)[\xad⸗—-]+[\n\r\f]*\s*¶\s*(\S+)\s*``; tried
# from every character of every word, its ``\w+`` backtracks down to one
# character before failing.  This form matches the same spans: a match can
# only start where a word run starts (a start mid-run fails exactly when
# the start of the run fails, and the previous match ends after
# whitespace or at the end), and the run is taken whole and atomically
# because no shorter run is followed by a hyphen — no hyphen character is
# ``\w``.  Lookahead + backreference is the Python 3.10 spelling of the
# possessive ``\w++``, which needs 3.11.
_DEHYPH_RE = re.compile(
    r"(?<!\w)(?=(\w+))\1[\xad⸗—-]+[\n\r\f]*\s*¶\s*(\S+)\s*"
)


def fix_hyphens(stringlist: list[str]) -> list[str]:
    """Merge hyphenations across consecutive strings.

    Same contract as myutils/__init__.py:190-200: strings are joined on a
    pilcrow sentinel, `word-\\n nextword` sequences across boundaries are
    merged into the left string, and the list is split back.  Existing
    pilcrows are escaped/restored.  Empty input → empty output (the
    reference never sees this case; ''.split('¶') would yield ['']).
    """
    if not stringlist:
        return []
    escaped = [s.replace("¶", PILCROW_ESCAPE) for s in stringlist]
    joined = "¶".join(escaped)
    dehyphenated = _DEHYPH_RE.sub(r"\1\2¶", joined)
    out = dehyphenated.split("¶")
    return [s.replace(PILCROW_ESCAPE, "¶") for s in out]


_BLANK_RE = re.compile(r"\s*$")
_PAGENUM_RE = re.compile(r"\s*\w{1,3}\s*$")


def clean_page_lines(text: str) -> str:
    """Drop whitespace-only lines plus a top-of-page page-number line.

    memoocr/correct_ocr.py:398-420 (``is_space_or_pagenum`` applied while
    assembling a page string); BOM stripped as in :409-412.
    """
    if text.startswith("﻿"):
        text = text[1:]
    lines = []
    for i, line in enumerate(text.splitlines()):
        if _BLANK_RE.match(line):
            continue
        if i == 0 and _PAGENUM_RE.match(line):
            continue
        lines.append(line)
    return "\n".join(lines)


def assemble_turns(texts: list[str]) -> list[str]:
    """Per-conversation turn assembly: filter lines, dehyphenate across
    turns, then across lines — preserving per-turn boundaries.

    Mirrors memoocr/correct_ocr.py:289-305 (``get_novel_string``) with the
    novel string never materialized *as the output*: the pagebreak-joined
    string exists only transiently inside this kernel and is split back to
    turns, which is our per-turn spec.
    """
    if not texts:
        return []
    cleaned = [clean_page_lines(t if t is not None else "") for t in texts]
    cleaned = fix_hyphens(cleaned)
    joined = f" {PAGEBREAK} ".join(cleaned)
    joined = "\n".join(fix_hyphens(joined.splitlines()))
    # Split back to turns. The line-level pass can consume a single space
    # adjacent to a marker (trailing \s* in the dehyphenation regex), so
    # split tolerantly — this *is* the per-turn spec.
    parts = re.split(rf" ?{PAGEBREAK} ?", joined)
    assert len(parts) == len(texts), (
        f"pagebreak marker count changed: {len(parts)} != {len(texts)}"
    )
    return parts


def chunk_list(lst: list, n: int) -> list[list]:
    """Split list into consecutive chunks of n (myutils/__init__.py:154)."""
    return [lst[i : i + n] for i in range(0, len(lst), n)]


def strip_gold_hyphen_markers(text: str) -> str:
    """Remove gold-standard ``[- ]`` hyphen markers
    (memoocr/align_ocr.py:363-369)."""
    return re.sub(r"\[[ -]+\]", "", text)
