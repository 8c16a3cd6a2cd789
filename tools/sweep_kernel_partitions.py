"""Kernel-stage partition sweep behind ``pipeline.KERNEL_TASK_MIN_BYTES``.

Times the partition-walk correction pass (``correct_pipeline`` with the
default plan, materialized as ``count`` + ``sum(length)``) at
``num_partitions`` = P, 2P and 4P, P = ``defaultParallelism``, over
parquet-written ``make_fixture`` inputs at multiples (default 1x, 4x,
16x and 64x) of the benchmark's 160 conversations of 20 turns.  Each
scale gets one untimed warm-up pass, then ``passes`` rounds that time
every count once, in an order rotated per round.  Also prints
Catalyst's size estimate of the kernel input (the rule's ``S``) and
``S / P``, the per-core size that ``KERNEL_TASK_MIN_BYTES`` is compared
against.

Usage: python tools/sweep_kernel_partitions.py [work_dir] [passes] [scales]
(``scales`` comma-separated, e.g. ``1,4``).
Prints one JSON line per (scale, partitions); table quoted in CHANGES.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SCALES = (1, 4, 16, 64)
CONVS, TURNS = 160, 20


def _write(path: str, rows: list[dict], files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(
            pa.Table.from_pylist(rows[i * step : (i + 1) * step]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kernel_sweep"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    scales = (
        [int(s) for s in sys.argv[3].split(",")] if len(sys.argv) > 3
        else SCALES
    )

    from memo_fraktur_ocr_code_spark.plans.pipeline import (
        _estimated_bytes,
        correct_pipeline,
    )
    from memo_fraktur_ocr_code_spark.session import get_spark
    from memo_fraktur_ocr_code_spark.sources.fixtures import make_fixture

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    p = spark.sparkContext.defaultParallelism
    for scale in scales:
        base_rows, alt_rows, lexicon = make_fixture(
            n_convs=CONVS * scale, turns_per_conv=TURNS
        )
        d = os.path.join(work, f"x{scale}")
        _write(os.path.join(d, "base"), base_rows)
        _write(os.path.join(d, "alt"), alt_rows)
        base = spark.read.parquet(os.path.join(d, "base"))
        alt = spark.read.parquet(os.path.join(d, "alt"))
        # the kernel input as the partition walk builds it
        u = base.select(
            "conv_id", "turn_idx", "text", F.lit(0).alias("side"), "ts"
        ).unionByName(
            alt.select(
                "conv_id", "turn_idx", "text", F.lit(1).alias("side"),
                F.lit(None).cast(base.schema["ts"].dataType).alias("ts"),
            )
        )
        size = _estimated_bytes(u)

        def one_pass(n: int) -> float:
            t0 = time.perf_counter()
            correct_pipeline(
                spark, base, alt, lexicon, num_partitions=n
            ).agg(F.count("*"), F.sum(F.length("corrected_text"))).collect()
            return time.perf_counter() - t0

        counts = [p, 2 * p, 4 * p]
        one_pass(4 * p)  # warm-up
        took: dict[int, list[float]] = {n: [] for n in counts}
        for r in range(passes):
            for n in counts[r % 3 :] + counts[: r % 3]:
                took[n].append(one_pass(n))
        for n in counts:
            print(
                json.dumps(
                    {
                        "scale": scale,
                        "turns": len(base_rows),
                        "est_bytes": size,
                        "est_bytes_per_core": size // p,
                        "partitions": n,
                        "median_s": round(statistics.median(took[n]), 3),
                        "passes_s": [round(t, 3) for t in took[n]],
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
