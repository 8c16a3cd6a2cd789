"""In-memory spans around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, run id).  Spans stay in memory
and are written once, as JSON lines, when the benchmark ends.  A span's
self time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True, on_enter=None):
        """``on_enter(span_id | None)`` is called with the innermost open
        span on every enter and exit (the benchmark tags Spark jobs with
        it, so event-log tasks map back to spans)."""
        self.run_id = run_id
        self.enabled = enabled
        self.on_enter = on_enter
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.on_enter:
            self.on_enter(sid)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.on_enter:
                self.on_enter(self._stack[-1] if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        return aggregate_self_times(self.spans)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def aggregate_self_times(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - covered(
            children.get(s["id"], ()), s["start"], s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
