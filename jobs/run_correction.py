"""Cluster job: per-turn OCR correction over a transcripts table.

Submit with scripts/submit.sh (spark-submit --py-files).  Reads the
transcripts (and optional alt-channel) table, runs the fused single-
shuffle correction pipeline, writes corrected turns bucketed by conv
hash, with per-bucket checkpoint manifests for resume.

Args: <transcripts_path> <lexicon_path> <out_dir> [alt_path] [flags]

``lexicon_path``: parquet or ``token count`` text (the reference's
unigram format, correct_ocr.py:208).

Flags (optional, any order after the positional args):
  --augment-per-conv[=LOWER,UPPER]  per-conversation dictionary
        augmentation (the reference's production per-novel mode,
        correct_ocr.py:210-229); default bounds 2,250
  --auto-skew[=THRESHOLD]  route conversations longer than THRESHOLD
        turns (default 1000000) to the per-turn staged plan
  --resume  continue an interrupted run: buckets already recorded in
        ``out_dir/_manifest`` for this stage are anti-joined away
        BEFORE compute (plans/checkpoint.py), so a killed job never
        recomputes finished buckets.  Without --resume, writing into
        an out_dir that already has a manifest for this stage is
        refused — partial output must be resumed explicitly, not
        silently appended to.  Resume validates lineage: a different
        <transcripts_path> than the manifest records is refused
        (mixing corpora), and bucket partitions left on disk by a
        crash between data commit and manifest append are reclaimed
        and recomputed exactly once.
  --bucketed-input  treat <transcripts_path> (and alt_path) as session-
        catalog table names read via ``spark.table`` so a conv_id
        bucket spec written by sources/bucketed.py reaches the planner,
        and default to the conv-grouped cogroup plan — over same-bucket
        tables its two shuffles are elided entirely
        (tests/test_bucketed.py proves zero Exchange).
  --iceberg  read <transcripts_path> as an Iceberg catalog identifier
        (``db.table``) via ``format("iceberg")``.  Explicit, not
        guessed: the old slash-count heuristic misrouted ordinary
        relative paths like ``data/t.parquet`` to the Iceberg reader
        and read real ``db.table`` identifiers as parquet paths
        (ADVICE r3).  Default without the flag: parquet path.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def load_lexicon(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    if path.endswith(".txt"):
        df = spark.read.csv(path, sep=" ", schema="token string, freq bigint")
    else:
        df = spark.read.parquet(path)
    rows = df.orderBy(F.desc("freq"), "token").collect()
    return [(r["token"], int(r["freq"])) for r in rows]


def main(argv: list[str]) -> None:
    pos = [a for a in argv if not a.startswith("--")]
    opts = [a for a in argv if a.startswith("--")]
    transcripts_path, lexicon_path, out_dir = pos[:3]
    alt_path = pos[3] if len(pos) > 3 else None
    augment: bool | tuple = False
    fused: bool | str = True
    resume = False
    bucketed = False
    iceberg = False
    threshold = 1_000_000
    for o in opts:
        if o.startswith("--augment-per-conv"):
            augment = (
                tuple(int(x) for x in o.split("=", 1)[1].split(","))
                if "=" in o
                else True
            )
        elif o.startswith("--auto-skew"):
            fused = "auto"
            if "=" in o:
                threshold = int(o.split("=", 1)[1])
        elif o == "--resume":
            resume = True
        elif o == "--bucketed-input":
            bucketed = True
        elif o == "--iceberg":
            iceberg = True
        else:
            raise SystemExit(f"unknown flag: {o}")

    from memo_fraktur_ocr_code_spark.session import job_session

    spark = job_session("memo-correct-turns")
    from memo_fraktur_ocr_code_spark.plans.checkpoint import (
        completed_buckets,
        run_stage_checkpointed,
    )
    from memo_fraktur_ocr_code_spark.plans.pipeline import correct_pipeline

    stage = "corrected_turns"
    done = completed_buckets(spark, out_dir, stage)
    if done and not resume:
        raise SystemExit(
            f"{out_dir} already has {len(done)} completed bucket(s) for"
            f" stage '{stage}' — pass --resume to continue that run, or"
            " use a fresh out_dir"
        )

    if bucketed:
        # catalog read keeps the bucket spec; a path read would lose it
        transcripts = spark.table(transcripts_path)
        alt = spark.table(alt_path) if alt_path else None
        if fused is True:
            fused = "cogroup"  # the plan whose shuffles buckets elide
    else:
        transcripts = spark.read.format(
            "iceberg" if iceberg else "parquet"
        ).load(transcripts_path)
        alt = spark.read.parquet(alt_path) if alt_path else None
    lexicon = load_lexicon(spark, lexicon_path)

    corrected = correct_pipeline(
        spark, transcripts, alt, lexicon,
        fused=fused, long_conv_threshold=threshold,
        augment_per_conv=augment,
    )
    summary = run_stage_checkpointed(
        spark,
        corrected,
        out_dir,
        stage=stage,
        n_buckets=1024,
        input_fingerprint=transcripts_path,
    )
    print(summary)


if __name__ == "__main__":
    main(sys.argv[1:])
