"""Benchmark of the OCR correction pipeline and the curation operators.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads and metrics are declared in BENCHMARK.json.  The inputs are
generated from ``--seed``; outputs are checked against the spec oracle
(correction workloads) or the DuckDB oracle SQL (curation queries).  The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  Spans and the
run's inputs, seed and pinned cores are written to
``.perfbench/runs/<workload>-s<seed>-t<trace>.jsonl``.

Spark runs on ``local[n]`` with n the cores of this process's affinity
mask; fewer than four cores is an error.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("memo_fraktur_ocr_code_spark/__init__.py", "__spark_entry__.py")


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for every process this
    one started."""
    from pyspark import SparkContext

    from procs import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from harness import Harness
    from procs import core_levels
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    try:
        levels = core_levels()
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 3

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    runs_dir = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    h = Harness(
        os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}"),
        levels[1], args.seconds, run_id,
    )
    wl = WORKLOADS[args.workload](h, args.seed, bool(args.trace), levels)
    try:
        with h.rss:
            end_to_end, per_layer = wl.run()
    finally:
        h.close()
        _stop_jvm()

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    measured = per_layer if args.trace else end_to_end
    names = {m["name"] for m in wanted}
    if set(measured) - names:
        raise RuntimeError(f"not in BENCHMARK.json: {set(measured) - names}")
    if not args.trace and names - set(measured):
        raise RuntimeError(f"not measured: {names - set(measured)}")
    metrics = {
        m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]}
        for m in wanted
    }
    with open(os.path.join(runs_dir, f"{run_id}.jsonl"), "w") as f:
        f.write(json.dumps({**wl.meta, "cores": levels[1],
                            "attempted": wl.attempted, "failed": wl.failed,
                            "self_s": h.tracer.self_times(),
                            "metrics": metrics}) + "\n")
        for s in h.tracer.spans:
            f.write(json.dumps(s) + "\n")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
