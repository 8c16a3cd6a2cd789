import os

import pytest

from procs import core_levels, tree_pids, tree_rss_bytes
from spans import Tracer, aggregate_self_times, covered


def test_core_levels_one_against_all():
    assert core_levels({3, 1, 0, 2}) == ([0], [0, 1, 2, 3])
    assert core_levels(range(8)) == ([0], list(range(8)))


def test_core_levels_refuses_small_masks():
    with pytest.raises(RuntimeError, match="at least 4"):
        core_levels({0, 1})


def test_core_levels_default_reads_affinity():
    cores = sorted(os.sched_getaffinity(0))
    if len(cores) < 4:
        pytest.skip("fewer than 4 cores here")
    assert core_levels() == (cores[:1], cores)


def test_tree_contains_self_and_counts_rss():
    assert tree_pids()[0] == os.getpid()
    assert tree_rss_bytes() > 0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "run": "r"}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(0, 10), (2, 3)], 0, 10) == 10


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "pass", 0, 10),
        _span(1, "read", 1, 3, 0),
        _span(2, "plan", 2, 5, 0),  # overlaps read
        _span(3, "run", 8, 12, 0),  # outlives its parent
        _span(4, "inner", 8, 9, 3),
        _span(5, "pass", 20, 23),
    ]
    self_s = aggregate_self_times(spans)
    assert self_s["pass"] == (10 - 6) + 3
    assert self_s["read"] == 2 and self_s["plan"] == 3
    assert self_s["run"] == 3 and self_s["inner"] == 1


def test_tracer_nests_and_reports_innermost_span():
    seen = []
    tr = Tracer("run-1", on_enter=seen.append)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert [s["parent"] for s in tr.spans] == [None, outer]
    assert seen == [outer, inner, outer, None]
    assert all(s["run"] == "run-1" and s["end"] >= s["start"] for s in tr.spans)
    assert set(tr.self_times()) == {"outer", "inner"}


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False, on_enter=lambda s: pytest.fail("called"))
    with tr.span("x") as sid:
        assert sid is None
    assert tr.spans == []
