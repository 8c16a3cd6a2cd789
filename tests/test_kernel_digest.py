"""Frozen byte pin for the correction spec itself.

``tests/test_pipeline_equality.py`` and the benchmark's turn check both
compare Spark against ``oracle.spec.correct_corpus`` — which calls the
very kernels they are meant to guard.  A kernel rewrite that drifts
would move both sides together and pass.  These digests were computed
from the kernels before their fast-path rewrites and pin every output
byte of the spec on three inputs: the default fixture, a
hyphenation-heavy variant (all four hyphen characters, CR/LF/FF line
ends, literal pilcrows, cross-turn breaks) and an œ/ſ-heavy variant
(every ``correct_easy`` rule, overlapping runs)."""

from __future__ import annotations

import hashlib

import pytest

from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus
from memo_fraktur_ocr_code_spark.sources.fixtures import _h, make_fixture

_HYPHENS = ("\xad", "⸗", "—", "-")
_BREAKS = ("\n", "\r\n", "\n\f", "\n ", "\n\n")
_OE = ("œæ", "æœ", "œe", "eœ", "œ", "œœ", "eœæ", "æœe")


def _hyphen_text(text: str, key: str) -> str:
    """Break long words across lines with mixed hyphen runs and line
    ends, end some turns on a hyphen, and plant literal pilcrows."""
    out = []
    for wi, w in enumerate(text.split(" ")):
        h = _h("hy", key, wi)
        if len(w) > 3 and h % 3 == 0:
            cut = 1 + h % (len(w) - 2)
            hy = _HYPHENS[h % 4] * (1 + (h >> 8) % 2)
            w = f"{w[:cut]}{hy}{_BREAKS[(h >> 4) % len(_BREAKS)]}{w[cut:]}"
        elif h % 17 == 1:
            w = f"{w}¶"
        out.append(w)
    s = " ".join(out)
    h = _h("hyend", key)
    if h % 3 == 0:
        s = f"{s} Mu{_HYPHENS[h % 4]}"
    return s


def _oe_text(text: str, key: str) -> str:
    """Rewrite æ/s/e/comma occurrences into œ-family, ſ and ',&' noise."""
    out = []
    for i, ch in enumerate(text):
        h = _h("oe", key, i)
        if ch == "æ" or (ch == "e" and h % 3 == 0):
            out.append(_OE[h % len(_OE)])
        elif ch == "s" and h % 2 == 0:
            out.append("ſ")
        elif ch == " " and h % 11 == 0:
            out.append(",& " if h % 2 else " œ ")
        else:
            out.append(ch)
    return "".join(out)


def _variant(rewrite, n_convs: int):
    transcripts, alt_rows, lexicon = make_fixture(n_convs=n_convs)
    for r in transcripts:
        r["text"] = rewrite(r["text"], f"b{r['conv_id']}/{r['turn_idx']}")
    for r in alt_rows:
        r["text"] = rewrite(r["text"], f"a{r['conv_id']}/{r['turn_idx']}")
    return transcripts, alt_rows, lexicon


def _digest(transcripts, alt_rows, lexicon) -> str:
    rows = correct_corpus(transcripts, alt_rows, lexicon)
    h = hashlib.sha256()
    for r in sorted(
        rows, key=lambda r: (r["conv_id"], r["turn_idx"], r["corrected_text"])
    ):
        for part in (r["conv_id"], str(r["turn_idx"]), r["corrected_text"]):
            h.update(part.encode())
            h.update(b"\x00")
    return h.hexdigest()


FROZEN = {
    "default": (
        make_fixture,
        "808b336a162e9b11ad074da3895ad14fd52cb543d8dc82dd12ca5cb94c65c073",
    ),
    "hyphen_heavy": (
        lambda: _variant(_hyphen_text, 12),
        "db426116a7cced737033e51f65f055a3e94c74e321cba9c526d8206d14caf3a2",
    ),
    "oe_heavy": (
        lambda: _variant(_oe_text, 12),
        "66ee25470739bf7973d4eae4df98e1e14ae8318b044f37b8c2bfcac121f5f6c5",
    ),
}


@pytest.mark.parametrize("name", sorted(FROZEN))
def test_spec_output_digest_is_frozen(name):
    build, want = FROZEN[name]
    assert _digest(*build()) == want
