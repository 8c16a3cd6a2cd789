"""Stdlib parser for Spark's JSON-lines event log.

The session writes an uncompressed log (``spark.eventLog.compress=false``);
Spark 4 rolls it into ``eventlog_v2_<app>/events_<n>_<app>`` files, older
layouts write one file per application.  Jobs carry the benchmark's span
id in the ``perfbench.span`` local property, so every task is summed into
the span that launched it.
"""

from __future__ import annotations

import json
import os
import re
import statistics

SPAN_PROPERTY = "perfbench.span"

# task-level SQL metrics (accumulables) summed per span; timings are
# converted to seconds by the metric type the plan declares for them
SQL_METRICS = (
    "time to run Python workers",
    "time to start Python workers",
    "time to initialize Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
    "sort time",
    "scan time",
)
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def log_files(path: str) -> list[str]:
    """Event-log files under ``path`` (a file, a rolling-log directory,
    or the event-log directory holding either), in write order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            out.extend(log_files(full))
        elif not name.startswith((".", "appstatus")):
            out.append(full)
    # rolling logs are numbered events_<n>_<app>
    return sorted(out, key=lambda f: (os.path.dirname(f), _roll_index(f)))


def _roll_index(path: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def read_events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for c in plan.get("children", ()):
        _metric_types(c, out)


def _new_totals() -> dict:
    return {
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_write_s": 0.0,
        "shuffle_read_bytes": 0,
        "fetch_wait_s": 0.0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "sql": {name: 0.0 for name in SQL_METRICS},
    }


def summarize(events) -> dict:
    """Per-span totals: ``{span: {"totals": {...}, "stages": {stage:
    {"python_run_s", "task_s": [...]}}}}``.  Tasks of jobs without a span
    land under ``None``."""
    metric_type: dict[int, str] = {}
    stage_span: dict[int, object] = {}
    out: dict = {}
    for ev in events:
        kind = ev["Event"]
        if "sparkPlanInfo" in ev:
            _metric_types(ev["sparkPlanInfo"], metric_type)
        elif kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            span = int(span) if span not in (None, "") else None
            for sid in ev["Stage IDs"]:
                stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                continue
            sid = ev["Stage ID"]
            rec = out.setdefault(
                stage_span.get(sid), {"totals": _new_totals(), "stages": {}}
            )
            t = rec["totals"]
            t["tasks"] += 1
            t["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            sr = tm.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            t["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            stage = rec["stages"].setdefault(
                sid, {"python_run_s": 0.0, "task_s": []}
            )
            stage["task_s"].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name not in t["sql"] or acc.get("Update") is None:
                    continue
                scale = _TIME_SCALE.get(metric_type.get(acc.get("ID")), 1)
                value = float(acc["Update"]) * scale
                t["sql"][name] += value
                if name == "time to run Python workers":
                    stage["python_run_s"] += value
    return out


def merge(records) -> dict:
    """Fold several spans' records into one."""
    merged = {"totals": _new_totals(), "stages": {}}
    t = merged["totals"]
    for rec in records:
        for k, v in rec["totals"].items():
            if k == "sql":
                for name, x in v.items():
                    t["sql"][name] += x
            else:
                t[k] += v
        merged["stages"].update(rec["stages"])
    return merged


def kernel_task_skew(rec: dict) -> float:
    """max / median task time of the stage that spent the most time in
    Python workers (the correction kernel's stage); of the stage with the
    most task time when no stage ran Python."""
    stages = [s for s in rec["stages"].values() if s["task_s"]]
    if not stages:
        return 0.0
    key = (
        (lambda s: s["python_run_s"])
        if any(s["python_run_s"] for s in stages)
        else (lambda s: sum(s["task_s"]))
    )
    times = max(stages, key=key)["task_s"]
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


def count_exchanges(plan_text: str) -> int:
    """Shuffle and broadcast Exchange nodes in a physical plan's tree
    string.  An adaptive plan prints its final plan before its initial
    one; only the final plan counts.  ``ReusedExchange`` re-reads an
    earlier exchange and is not counted."""
    final = plan_text.split("== Initial Plan ==")[0]
    return len(
        re.findall(r"^[\s:+\-*|()0-9]*(?:Broadcast)?Exchange\b", final, re.M)
    )
