"""Readers for the reference's text-based table formats (SURVEY §2.1
S3-S6), normalized into typed DataFrames:

* frequency dictionaries — ``token count`` space-separated lines
  (correct_ocr.py:208)
* metadata TSV — tab-separated with header (myutils/__init__.py:95-117);
  the reference's substring matching is replaced by exact conv_id keys,
  its ``novel_end`` '1000000' sentinel and empty-string NULLs normalized
* CONLL — 14-column tab-separated, positions 0/2/4 consumed
  (align_ocr.py:276-280); empty lines dropped
* BOM tolerance — a leading U+FEFF is stripped (myutils readfile)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BOM_STRIP = ("﻿", "")


def _strip_bom(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.regexp_replace(col, "^﻿", ""))


def read_freq_dictionary(spark: SparkSession, path: str) -> DataFrame:
    """``token count`` lines → (token string, freq bigint), freq desc."""
    df = spark.read.csv(
        path, sep=" ", schema="token string, freq bigint"
    )
    return _strip_bom(df, "token").where(
        F.col("token").isNotNull() & F.col("freq").isNotNull()
    ).orderBy(F.desc("freq"), "token")


def read_metadata_tsv(spark: SparkSession, path: str) -> DataFrame:
    """metadata.tsv → typed rows with real NULLs and sanitized bounds
    (the reference's `realstart` fallback and novel_end hack,
    myutils/__init__.py:108-112)."""
    raw = spark.read.option("header", True).option("sep", "\t").csv(path)
    cols = {c: F.when(F.col(c) == "", None).otherwise(F.col(c)).alias(c)
            for c in raw.columns}
    df = raw.select(*cols.values())
    if "novelstart_rescan" in raw.columns and "novel_start" in raw.columns:
        df = df.withColumn(
            "realstart",
            F.coalesce("novelstart_rescan", "novel_start").cast("int"),
        )
    if "novel_end" in raw.columns:
        df = df.withColumn(
            "novel_end",
            F.coalesce(F.col("novel_end").cast("int"), F.lit(1000000)),
        )
    return df


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """14-column CONLL TSV → (sent_word_num, token, lemma, pos) with the
    reference's column positions; blank lines dropped."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (
        raw.where(F.length(F.trim("value")) > 0)
        .select(
            parts.getItem(0).cast("int").alias("sent_word_num"),
            parts.getItem(1).alias("token"),
            parts.getItem(2).alias("lemma"),
            parts.getItem(4).alias("pos"),
        )
    )


# ---------------------------------------------------------------------------
# S7bis — wide-VRT ingestion (the migration path for existing reference data)
# ---------------------------------------------------------------------------

# analyze_gold_vrt.py:170 — columns that are NOT per-OCR-source payload
NON_OCR_COLS = (
    "token wordnum lineword line page novel_id lemma pos sentword "
    "gold_infreq"
).split()

# analyze_gold_vrt.py:179 conf['generalized_attrs'] — the per-source slice
GENERALIZED_ATTRS = "ocrtok leven ratio cer levcat subst".split()


def read_wide_vrt(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_datasets: int,
    generalized: list[str] | None = None,
    typed: bool = True,
) -> DataFrame:
    """Ingest an *existing* wide VRT file (one token per line, tab-
    separated, N per-OCR-source column groups after the fixed columns)
    into the long typed token table — the Spark re-expression of
    ``transform_vrt`` + ``make_datasets`` (analyze_gold_vrt.py:156-193):
    instead of pandas column slicing into ``n_datasets`` frames, one
    ``stack()`` unpivot tags every row with its OCR source, so all
    downstream per-source analyses are a ``groupBy('src')`` away.

    Structural lines (``<corpus>``/``<text>``/``<sentence>`` and their
    closers) are dropped exactly like the reference's regex.  With
    ``typed=True`` the reference dtype map is applied ('NA' → NULL ratio,
    int64 position columns); ``typed=False`` keeps every field a raw
    string — the lossless mode the byte-stable round-trip test uses.

    Scale: ``spark.read.text`` splits by line across executors; the
    unpivot is a per-row expression (no shuffle, no Python)."""
    gen = list(generalized or GENERALIZED_ATTRS)
    lines = spark.read.text(path)
    tok_lines = lines.where(
        ~F.col("value").rlike(r"^</?(corpus|text|sentence)")
    )
    parts = F.split(F.col("value"), "\t")
    wide = tok_lines.select(
        *[parts.getItem(i).alias(c) for i, c in enumerate(cols)]
    )
    ocr_cols = [c for c in cols if c not in NON_OCR_COLS]
    width = len(ocr_cols) // n_datasets
    if width * n_datasets != len(ocr_cols) or width != len(gen):
        raise ValueError(
            f"{len(ocr_cols)} OCR columns do not split into {n_datasets}"
            f" groups of {len(gen)}"
        )
    chunks = [ocr_cols[i * width : (i + 1) * width] for i in range(n_datasets)]
    stack_args = ", ".join(
        "'" + ch[0] + "', " + ", ".join(f"`{c}`" for c in ch)
        for ch in chunks
    )
    fixed = [c for c in cols if c in NON_OCR_COLS]
    long = wide.selectExpr(
        *fixed,
        f"stack({n_datasets}, {stack_args}) AS (src, "
        + ", ".join(gen)
        + ")",
    )
    if not typed:
        return long
    typed_cols = [F.col("src"), F.col("token")]
    for c in ("lineword", "sentword", "line", "page", "wordnum"):
        if c in fixed:
            typed_cols.append(F.col(c).cast("long").alias(c))
    for c in fixed:
        if c not in ("token", "lineword", "sentword", "line", "page",
                     "wordnum"):
            typed_cols.append(F.col(c))
    for g in gen:
        if g == "ratio":
            typed_cols.append(
                F.when(F.col("ratio") == "NA", None)
                .otherwise(F.col("ratio"))
                .cast("double")
                .alias("ratio")
            )
        else:
            typed_cols.append(F.col(g))
    return long.select(*typed_cols)


def wide_vrt_token_lines(
    long: DataFrame,
    cols: list[str],
    n_datasets: int,
    generalized: list[str] | None = None,
) -> DataFrame:
    """Inverse of ``read_wide_vrt(typed=False)``: pivot the per-source
    rows back into one tab-joined wide token line per (fixed-cols) key —
    byte-stable when keys are unique, which real VRT guarantees via
    (novel_id, page, line, lineword).

    Output: (sort keys..., vrt_line string); caller appends structural
    tags.  The pivot is one shuffle on the fixed key with a literal
    src list (no second pass to discover sources)."""
    gen = list(generalized or GENERALIZED_ATTRS)
    fixed = [c for c in cols if c in NON_OCR_COLS]
    ocr_cols = [c for c in cols if c not in NON_OCR_COLS]
    width = len(gen)
    chunks = [ocr_cols[i * width : (i + 1) * width] for i in range(n_datasets)]
    src_order = [ch[0] for ch in chunks]  # read_wide_vrt's src tag
    p = long.groupBy(*fixed).pivot("src", src_order).agg(
        F.first(F.struct(*gen))
    )
    out_fields = []
    for c in cols:
        if c in NON_OCR_COLS:
            out_fields.append(F.col(c))
        else:
            for i, ch in enumerate(chunks):
                if c in ch:
                    out_fields.append(
                        F.col(f"`{src_order[i]}`").getField(gen[ch.index(c)])
                    )
                    break
    return p.select(
        *fixed, F.concat_ws("\t", *out_fields).alias("vrt_line")
    )


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """The primary input table (BASELINE.json input_hint schema), from
    parquet/Iceberg-style storage.  'NA' strings → real NULLs on the
    nullable string columns (the reference's NA convention)."""
    df = spark.read.parquet(path)
    for c in ("role", "tool", "text"):
        if c in df.columns:
            df = df.withColumn(
                c, F.when(F.col(c) == "NA", None).otherwise(F.col(c))
            )
    return df
