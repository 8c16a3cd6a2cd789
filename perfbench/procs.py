"""Core levels from the affinity mask, process-tree RSS and pinning.

Everything here reads ``/proc`` of the local Linux host; the benchmark
runs Spark in ``local[n]`` mode, so the driver, its JVM and the Python
workers the JVM forks are all descendants of this process.
"""

from __future__ import annotations

import os
import threading

MIN_CORES = 4


def core_levels(cpus=None, min_cores: int = MIN_CORES) -> tuple[list, list]:
    """(low, high) core sets for the scaling pair: one core against every
    core of the affinity mask.  Raises when fewer than ``min_cores`` are
    available, because a 1-vs-n pair with a small n measures nothing the
    benchmark reports on."""
    cores = sorted(os.sched_getaffinity(0) if cpus is None else cpus)
    if len(cores) < min_cores:
        raise RuntimeError(
            f"{len(cores)} core(s) in the affinity mask {cores};"
            f" the benchmark needs at least {min_cores}"
        )
    return cores[:1], cores


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(_rss_bytes(p) for p in tree_pids(root))


class RssSampler:
    """Samples the summed RSS of this process tree on a thread; ``peak``
    is the largest sum seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes())

    def reset(self) -> None:
        self.peak = tree_rss_bytes()

    def __enter__(self) -> "RssSampler":
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def pin_tree(cpus) -> list[int]:
    """Set the affinity of every thread of every process in this tree to
    ``cpus`` (what ``taskset`` does at launch; threads and processes
    created later inherit it).  Returns the cores actually pinned, read
    back from this process."""
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # the thread ended between listing and pinning
    return sorted(os.sched_getaffinity(0))
