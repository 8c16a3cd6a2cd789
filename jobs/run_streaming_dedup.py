"""Streaming near-duplicate curation: a document feed deduplicated
against the corpus-so-far via the persisted delta-LSH band index.

This is the streaming completion of the incremental dedup family
(operators/dedup.py: ``incremental_minhash_dedup`` judged ONE delta in
batch mode; here every micro-batch is a delta and the index the next
batch joins is the one this batch appended).  Each ``foreachBatch``
round:

1. reads the current state — kept documents (``kept/``) and the
   ``(id, band, bucket)`` LSH index (``bands/``) — both plain parquet
   appended by prior rounds (empty-safe on the very first batch);
2. judges the micro-batch with ``incremental_minhash_dedup``: index
   join for candidates, exact shingle verification of candidates only,
   batch-internal smaller-id dominance;
3. appends the kept docs, their band rows (``merge_band_delta``
   semantics — append-only, prior rows never rewritten) and the
   per-doc verdicts.

Exactly-once: ``foreachBatch`` may REPLAY a batch after a crash, and a
blind append would double rows, so every write lands under its own
``batch=<id>`` subdirectory with ``mode("overwrite")`` — a replay
overwrites its own output and the net state is idempotent (the same
reasoning as checkpoint manifests in plans/checkpoint.py, done with
the directory layout instead of a manifest because the stream's
checkpoint already serializes batch ids).

Scale shape: per micro-batch cost is ∝ batch size × bands for the
candidate lookup (shuffle-free over a (band,bucket)-bucketed index —
sources/bucketed.py; plain parquet here keeps the demo deps small) and
∝ candidates for verification; corpus text is touched only for
candidate ids (semi-join pushdown inside the operator).  State on
executors is ZERO between batches — the corpus lives in the parquet
index, not in Spark state stores, so a year-long stream holds no
growing state (contrast streaming/correct_stream.py, whose watermark
bounds genuine event-time state).

Usage:
  python jobs/run_streaming_dedup.py --demo <work_dir>
  python jobs/run_streaming_dedup.py <src_dir> <out_dir> [--threshold 0.5]

``--demo`` plants near/exact duplicates across three micro-batch files
(one per trigger), asserts every verdict, and replays the SAME file
sequence through direct batch-mode ``incremental_minhash_dedup``
rounds — streaming and batch must elect the identical kept set.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMA = "doc_id long, text string"
_BANDS_SCHEMA = "id long, band int, bucket long"

N_SHINGLE = 3
NUM_HASHES = 64
BANDS = 16


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Parquet read that degrades to an empty, schema-stable frame: the
    first micro-batch has no prior state, and a dir probe is not enough
    (a killed write can leave an unreadable directory — the
    run_streaming.py lesson)."""
    try:
        df = spark.read.parquet(path)
        # partition-discovery may add the batch=N column; project it off
        return df.select(
            *[f.split(" ")[0] for f in schema.split(", ")]
        )
    except Exception:
        return spark.createDataFrame([], schema)


def _sink_factory(out_dir: str, threshold: float):
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_band_table,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        existing = _read_or_empty(spark, f"{out_dir}/kept", SCHEMA)
        existing_bands = _read_or_empty(
            spark, f"{out_dir}/bands", _BANDS_SCHEMA
        )
        verdict = incremental_minhash_dedup(
            existing,
            existing_bands,
            batch_df,
            n=N_SHINGLE,
            num_hashes=NUM_HASHES,
            bands=BANDS,
            threshold=threshold,
        )
        kept_docs = batch_df.join(
            verdict.where(F.col("keep") == 1).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        # recompute band rows for the KEPT docs only (merge_band_delta
        # appends kept rows; recomputing beats carrying the full-batch
        # band table across the sink boundary)
        kept_bands = lsh_band_table(
            kept_docs, n=N_SHINGLE, num_hashes=NUM_HASHES, bands=BANDS
        )
        # per-batch overwrite => replay-idempotent appends
        kept_docs.write.mode("overwrite").parquet(
            f"{out_dir}/kept/batch={batch_id}"
        )
        kept_bands.write.mode("overwrite").parquet(
            f"{out_dir}/bands/batch={batch_id}"
        )
        verdict.withColumn(
            "batch_id", F.lit(int(batch_id))
        ).write.mode("overwrite").parquet(
            f"{out_dir}/verdicts/batch={batch_id}"
        )
        # incremental_minhash_dedup caches batch-sized intermediates
        # (its documented contract); release them before the next round
        spark.catalog.clearCache()

    return _sink


def run(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
) -> dict:
    reader = spark.readStream.schema(SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            _sink_factory(out_dir, threshold)
        )
        .option("checkpointLocation", f"{out_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    verdicts = _read_or_empty(
        spark,
        f"{out_dir}/verdicts",
        "doc_id long, n_existing_dups long, n_batch_prior_dups long,"
        " keep int, batch_id long",
    )
    n_in = verdicts.count()
    n_kept = (
        verdicts.where(F.col("keep") == 1).count() if n_in else 0
    )
    return {
        "docs_in": n_in,
        "docs_kept": n_kept,
        "docs_dropped": n_in - n_kept,
        "batches": (
            verdicts.select("batch_id").distinct().count() if n_in else 0
        ),
    }


def _demo(work_dir: str) -> dict:
    """Deterministic three-micro-batch demo with planted duplicates in
    every relationship the operator distinguishes, plus a streaming-
    equals-batch replay check."""
    import shutil
    import time

    from memo_fraktur_ocr_code_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_band_table,
        merge_band_delta,
    )
    from memo_fraktur_ocr_code_spark.session import get_spark

    shutil.rmtree(work_dir, ignore_errors=True)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("WARN")

    mk = "the quick brown fox jumps over the lazy dog while {} birds sing"
    files = [
        [  # batch 0: 10 is a near-copy of 3 (same batch, larger id)
            (1, mk.format("seven")),
            (2, "completely different second document about parquet"
                " partition layouts and shuffle hash joins"),
            (3, "streaming state stores hold aggregation buffers keyed"
                " by watermark-bounded event time windows"),
            (10, "streaming state stores hold aggregation buffers keyed"
                 " by watermark-bounded event-time windows"),
        ],
        [  # batch 1: 11 near-copies 1 (established), 4 is fresh
            (11, mk.format("seven hungry")),
            (4, "byte pair encoding learns merges from the word"
                " frequency table not the raw corpus"),
        ],
        [  # batch 2: 12 exact-copies 4 (established), 5 is fresh
            (12, "byte pair encoding learns merges from the word"
                 " frequency table not the raw corpus"),
            (5, "anchor text aggregation elects the mode with a"
                " lexicographic tie break per canonical url"),
        ],
    ]
    src = os.path.join(work_dir, "src")
    out = os.path.join(work_dir, "out")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"f{i}"))
        time.sleep(0.05)  # distinct mtimes => deterministic file order

    summary = run(
        spark, f"{src}/f*", out, max_files_per_trigger=1
    )

    v = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{out}/verdicts").collect()
    }
    assert summary["batches"] == 3, summary
    assert v[1]["keep"] == 1 and v[2]["keep"] == 1 and v[3]["keep"] == 1
    assert v[10]["keep"] == 0 and v[10]["n_batch_prior_dups"] > 0, v[10]
    assert v[11]["keep"] == 0 and v[11]["n_existing_dups"] > 0, v[11]
    assert v[4]["keep"] == 1
    assert v[12]["keep"] == 0 and v[12]["n_existing_dups"] > 0, v[12]
    assert v[5]["keep"] == 1
    kept_stream = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/kept").select("doc_id")
        .collect()
    }
    assert kept_stream == {1, 2, 3, 4, 5}, kept_stream

    # the index grew by exactly kept-docs x BANDS rows
    n_band_rows = spark.read.parquet(f"{out}/bands").count()
    assert n_band_rows == len(kept_stream) * BANDS, n_band_rows

    # streaming == batch: replay the same file sequence through direct
    # incremental_minhash_dedup rounds
    existing = spark.createDataFrame([], SCHEMA)
    bands = spark.createDataFrame([], _BANDS_SCHEMA)
    for rows in files:
        batch = spark.createDataFrame(rows, SCHEMA)
        verd = incremental_minhash_dedup(
            existing, bands, batch,
            n=N_SHINGLE, num_hashes=NUM_HASHES, bands=BANDS,
        )
        kept = batch.join(
            verd.where(F.col("keep") == 1).select("doc_id"),
            "doc_id", "left_semi",
        ).localCheckpoint()
        existing = existing.unionByName(kept).localCheckpoint()
        bands = merge_band_delta(
            bands,
            lsh_band_table(
                kept, n=N_SHINGLE, num_hashes=NUM_HASHES, bands=BANDS
            ),
            kept.select(F.col("doc_id").alias("id")),
        ).localCheckpoint()
        spark.catalog.clearCache()
    kept_batch = {r["doc_id"] for r in existing.select("doc_id").collect()}
    assert kept_batch == kept_stream, (kept_batch, kept_stream)

    summary["demo_checks"] = "ok"
    return summary


def main(argv: list[str]) -> None:
    if argv and argv[0] == "--demo":
        summary = _demo(argv[1] if len(argv) > 1 else "/tmp/sdedup_demo")
        print(json.dumps(summary))
        return
    if len(argv) < 2:
        print(__doc__)
        raise SystemExit(2)
    src_dir, out_dir = argv[0], argv[1]
    threshold = 0.5
    if "--threshold" in argv:
        threshold = float(argv[argv.index("--threshold") + 1])
    from memo_fraktur_ocr_code_spark.session import job_session

    spark = job_session("memo-streaming-dedup")
    print(json.dumps(run(spark, src_dir, out_dir, threshold)))


if __name__ == "__main__":
    main(sys.argv[1:])
