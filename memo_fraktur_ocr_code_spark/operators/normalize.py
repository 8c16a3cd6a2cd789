"""Catalyst-native scalar text transforms (no Python in the hot path).

These stay entirely inside whole-stage codegen: chained
``regexp_replace`` expressions.  Spark mappings of SURVEY.md §2.4
operators E1 (correct_easy) and E11 (single-line rendering).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from memo_fraktur_ocr_code_spark.functions.textspec import (
    CORRECT_EASY_STEPS,
    PAGEBREAK,
)


def correct_easy_col(col: Column | str) -> Column:
    """E1 — ordered context-free normalization as a pure Catalyst
    regexp_replace chain (semantics: memoocr/correct_ocr.py:39-43 +
    ocr.py:34; order is part of the spec).  Byte-equal to
    ``textspec.correct_easy``."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in CORRECT_EASY_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def single_line_render_col(col: Column | str) -> Column:
    """E11 — one-line rendering: pagebreak → \\f, newline → \\v
    (pages2singlelinefiles.py:16)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, f" ?{PAGEBREAK} ?", "\f")
    return F.regexp_replace(c, "\n", " \x0b ")
