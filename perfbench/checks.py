"""Output checks, run outside every timed span.

* Correction workloads: each input turn must appear exactly once in the
  output, byte-equal to ``oracle.spec.correct_corpus``.
* Curation queries: the Spark result must equal the query's
  ``oracle_sql()`` answer in DuckDB, compared as ``tools/check_oracle.py``
  compares them (same columns, same row count, equal canonical rows).
"""

from __future__ import annotations

from collections import Counter


def failed_turns(output_rows, expected: dict) -> int:
    """Number of failed turns.  ``output_rows`` are (conv_id, turn_idx,
    corrected_text); ``expected`` maps (conv_id, turn_idx) to the oracle
    text.  A turn fails when it is missing, duplicated or not byte-equal;
    an output row for no input turn counts as one more failure."""
    seen = Counter()
    text = {}
    for conv_id, turn_idx, corrected in output_rows:
        key = (conv_id, turn_idx)
        seen[key] += 1
        text[key] = corrected
    failed = sum(1 for key in seen if key not in expected)
    for key, want in expected.items():
        if seen[key] != 1 or text[key] != want:
            failed += 1
    return failed


def query_mismatch(spark_pdf, duck_pdf) -> str | None:
    """None when the two results agree, else a short reason."""
    from tools.check_oracle import canon

    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"
    if canon(spark_pdf) != canon(duck_pdf):
        return "values differ"
    return None
