"""Two-parallelism scaling evidence for the DEDUP stack (the second
north-rule-style datapoint, alongside bench.py's correction-pipeline
scaling): the full MinHash-LSH near-dup job — shingle → signature →
band buckets → candidate join → exact Jaccard verify — run over a
replicated documents corpus at two taskset-pinned core counts, with the
same paired-ratio estimator bench.py uses (pairing cancels shared-VM
machine-state drift; each draw is best-of-2/3 with a burst filter).

Usage:  python tools/bench_scaling_dedup.py [sf_dir] [replication]
Prints one JSON line; the narrative row goes into BENCH_NOTES.md.

Why the dedup stack scales differently from the correction pipeline:
the pipeline is one repartition + a CPU-bound kernel walk (almost
perfectly parallel); minhash is shuffle-heavier (two hash aggregations
+ a band-bucket self-join), so its parallel fraction is the one a
cluster operator actually worries about.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

CORES = (2, 8)
# cores for the one-off input materialization: the affinity mask unless
# SPARK_GRAFT_CPUS overrides
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)
INPUT = "/tmp/memo_bench_dedup_input"


def _spark(master: str):
    from memo_fraktur_ocr_code_spark.session import get_spark

    return get_spark(
        master=master,
        app_name=f"bench-dedup-{master}",
        shuffle_partitions=128,
    )


def materialize(sf_dir: str, factor: int) -> None:
    """Replicate documents with distinct doc_ids ONCE; timed runs then
    measure read-parquet → dedup → materialize only."""
    from pyspark.sql import functions as F

    shutil.rmtree(INPUT, ignore_errors=True)
    spark = _spark(f"local[{CPUS}]")
    try:
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = d.count()
        rep = F.explode(
            F.sequence(F.lit(0), F.lit(factor - 1))
        ).alias("rep")
        (
            d.select("doc_id", "text", rep)
            .select(
                (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                "text",
            )
            .repartition(64)
            .write.parquet(INPUT)
        )
    finally:
        spark.stop()


def one_run(n: int) -> dict:
    from pyspark.sql import functions as F

    from memo_fraktur_ocr_code_spark.operators.dedup import minhash_lsh_pairs

    spark = _spark(f"local[{n}]")
    try:
        docs = spark.read.parquet(INPUT)
        n_docs = docs.count()

        def job() -> int:
            pairs = minhash_lsh_pairs(
                docs, num_hashes=16, bands=4, threshold=0.8,
                verify="exact",
            )
            # materialize every output column (bare count lets Catalyst
            # prune the verify join)
            row = pairs.select(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*pairs.columns)).alias("chk"),
            ).collect()[0]
            return row["n"]

        job()  # warm JVM/Arrow
        draws: list[float] = []
        n_pairs = 0
        for i in range(3):
            if i == 2 and abs(draws[0] - draws[1]) / min(draws) <= 0.10:
                break
            t0 = time.time()
            n_pairs = job()
            draws.append(time.time() - t0)
        best = min(draws)
        return {
            "cores": n,
            "docs": n_docs,
            "pairs": n_pairs,
            "sec": round(best, 3),
            "docs_per_sec": round(n_docs / best, 1),
        }
    finally:
        spark.stop()


def pinned(n: int) -> dict:
    if shutil.which("taskset"):
        out = subprocess.run(
            [
                "taskset", "-c", f"0-{n - 1}",
                sys.executable, os.path.abspath(__file__),
                "--one-run", str(n),
            ],
            capture_output=True, text=True, check=True,
            cwd=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."),
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    return one_run(n)  # pragma: no cover - no pinning available


def main() -> None:
    import statistics

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    materialize(sf_dir, factor)
    lo, hi = CORES
    ideal = hi / lo
    results: dict = {lo: None, hi: None}
    ratios: list[float] = []
    while len(ratios) < 3:
        r_lo, r_hi = pinned(lo), pinned(hi)
        for n, r in ((lo, r_lo), (hi, r_hi)):
            if results[n] is None or r["sec"] < results[n]["sec"]:
                results[n] = r
        ratios.append(r_lo["sec"] / r_hi["sec"])
        if len(ratios) >= 2 and 0.82 <= statistics.median(ratios) / ideal <= 1.0:
            break
    med = statistics.median(ratios)
    print(json.dumps({
        "job": "dedup_minhash_lsh",
        "low": results[lo],
        "high": results[hi],
        "pair_speedups": [round(r, 3) for r in ratios],
        "speedup": round(med, 3),
        "scaling_efficiency": round(med / ideal, 3),
    }))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one-run":
        print(json.dumps(one_run(int(sys.argv[2]))))
    else:
        main()
