"""Bucketed-table maintenance job: small-file inspection + compaction.

Drives sources/bucketed.py's maintenance surface (bucket_file_stats /
compact_bucketed / table_checksum) as an executable job — the piece a
long-lived ingest table needs on a schedule: steady micro-batch appends
write one file per (writer task × bucket) per batch, scan overhead
grows with file count, and a periodic compaction folds each bucket back
to ~one file.  This is Iceberg's ``rewrite_data_files`` role,
re-expressed for the session-catalog bucket stand-in.  Two modes:

* catalog-table mode — compact src_table into dst_table; the swap-in
  is a reader re-point (no atomic flip on a bare catalog table).
* ``--snapshot <root>`` mode (r6) — compact the CURRENT version of a
  versioned snapshot table (sources/bucketed.write_snapshot) into the
  next version and flip atomically via the commit marker; the prior
  version stays readable by number (time travel) until an explicit
  expire.  This is the full ``rewrite_data_files`` contract.

Usage:
  python jobs/run_maintenance.py --demo <work_dir>
  python jobs/run_maintenance.py --snapshot <root> [--parallelism N]
  python jobs/run_maintenance.py <src_table> <dst_table> <dst_path>
      [--parallelism N] [--threshold-files-per-bucket K] [--no-verify]

``--threshold-files-per-bucket`` makes the job a no-op (exit 0, JSON
says "skipped") when the table is not fragmented enough to be worth
rewriting — the shape a cron scheduler wants.

``--demo`` synthesises a fragmented ingest (16 writer tasks × 8
buckets) from the transcripts-like fixture, compacts it, and asserts
one-file-per-populated-bucket + checksum equality, printing the
before/after layout as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from memo_fraktur_ocr_code_spark.session import job_session  # noqa: E402
from memo_fraktur_ocr_code_spark.sources.bucketed import (  # noqa: E402
    bucket_file_stats,
    compact_bucketed,
    write_bucketed,
)


def _demo(spark, work_dir: str) -> dict:
    from memo_fraktur_ocr_code_spark.sources.fixtures import make_fixture

    base_rows, _, _ = make_fixture(n_convs=40)
    df = spark.createDataFrame(
        [
            (r["conv_id"], r["turn_idx"], r["role"], r["text"],
             r["tool"], r["ts"])
            for r in base_rows
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    frag_t, comp_t = "maint_demo_frag", "maint_demo_compact"
    for t in (frag_t, comp_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # fragmented ingest: 16 writer tasks, each touching every bucket it
    # holds rows for
    write_bucketed(
        df.repartition(16), frag_t, n_buckets=8,
        path=os.path.join(work_dir, "frag"),
    )
    report = compact_bucketed(
        spark, frag_t, comp_t,
        os.path.join(work_dir, "compact"), parallelism=1,
    )
    assert report["before"]["max_files_per_bucket"] > 1
    assert report["after"]["max_files_per_bucket"] == 1
    assert "verified" in report
    report["demo"] = "ok"
    print(json.dumps(report))
    for t in (frag_t, comp_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return report


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("src_table", nargs="?")
    ap.add_argument("dst_table", nargs="?")
    ap.add_argument("dst_path", nargs="?")
    ap.add_argument("--parallelism", type=int, default=1)
    ap.add_argument(
        "--threshold-files-per-bucket", type=int, default=0,
        help="skip compaction when max files/bucket <= this",
    )
    ap.add_argument("--no-verify", action="store_true")
    ap.add_argument("--demo", metavar="WORK_DIR")
    ap.add_argument(
        "--snapshot", metavar="ROOT",
        help="compact the current version of the snapshot table at"
        " ROOT into a new version with an atomic flip",
    )
    args = ap.parse_args(argv)

    # NOTE: main() never calls spark.stop() — job_session is getOrCreate,
    # so an in-process caller (tests, a scheduler embedding the job)
    # shares the session and stopping it here would kill the caller's
    # context (code-review r5).  The __main__ guard below stops it.
    spark = job_session("bucket-maintenance")
    if args.demo:
        return _demo(spark, args.demo)
    if args.snapshot:
        from memo_fraktur_ocr_code_spark.sources.bucketed import (
            compact_snapshot,
        )

        report = compact_snapshot(
            spark,
            args.snapshot,
            parallelism=args.parallelism,
            verify=not args.no_verify,
        )
        print(json.dumps(report))
        return report

    if not (args.src_table and args.dst_table and args.dst_path):
        ap.error(
            "src_table, dst_table and dst_path are required (or --demo)"
        )
    before = bucket_file_stats(spark, args.src_table)
    if (
        args.threshold_files_per_bucket
        and before["max_files_per_bucket"]
        <= args.threshold_files_per_bucket
    ):
        report = {"skipped": True, "before": before}
        print(json.dumps(report))
        return report
    report = compact_bucketed(
        spark,
        args.src_table,
        args.dst_table,
        args.dst_path,
        parallelism=args.parallelism,
        verify=not args.no_verify,
        before=before,
    )
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    try:
        main()
    finally:
        job_session("bucket-maintenance").stop()
