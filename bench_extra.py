"""Per-query isolation harness for the optimization round (guide §1).

``bench.py`` is frozen for measurement; this file exists so individual
queries can be timed and their plans captured WITHOUT touching it:

* same session shape as bench.py (local[$SPARK_GRAFT_CPUS], 128 shuffle
  partitions, console progress off);
* same materialization contract (xxhash64 checksum over every output
  column + bit_xor aggregate — forces full evaluation of every column);
* min-of-N draws (default 3) with per-query cache release between
  queries, identical to the frozen harness;
* optionally writes ``plans/<tag>/<query>_<suffix>.txt`` with the
  ``explain("formatted")`` output of each timed query.

Usage::

    python bench_extra.py QUERY [QUERY ...] [--draws N]
        [--plans plans/r07 --suffix before] [--sf DIR]

Prints one JSON line: {"queries": {name: min_sec}, "draws": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: the cores this process may run on (its affinity mask)
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def _spark():
    from memo_fraktur_ocr_code_spark.session import get_spark

    return get_spark(
        master=f"local[{CPUS}]",
        app_name="bench-extra",
        shuffle_partitions=128,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _materialize(df):
    df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.expr("bit_xor(_h)")
    ).collect()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--draws", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write explain('formatted') files")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=SF_DIR)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        release_operator_caches,
    )

    qs = dict(entry.queries())
    qs.update(entry.extra_queries())
    spark = _spark()
    out: dict = {"queries": {}, "draws": {}}
    try:
        for name in args.names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"bench-extra:{name}")
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                df = fn(spark, args.sf)
                mode = (
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                )
                plan = df._jdf.queryExecution().explainString(mode)
                with open(
                    os.path.join(
                        args.plans, f"{name}_{args.suffix}.txt"
                    ),
                    "w",
                ) as f:
                    f.write(plan)
            draws = []
            for _ in range(args.draws):
                t0 = time.time()
                _materialize(fn(spark, args.sf))
                draws.append(round(time.time() - t0, 3))
            release_operator_caches()
            out["queries"][name] = min(draws)
            out["draws"][name] = draws
            print(f"{name}: {min(draws)} {draws}", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
