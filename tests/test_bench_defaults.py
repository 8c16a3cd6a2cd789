"""The bench scripts default their core count to the process's affinity
mask (a fixed 32 silently over-subscribed smaller hosts), and
``SPARK_GRAFT_CPUS`` still overrides it."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "path", ["bench.py", "bench_extra.py", "tools/bench_scaling_dedup.py"]
)
@pytest.mark.parametrize("override", [None, "3"])
def test_bench_cpus_default_to_affinity(path, override):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if override is not None:
        env["SPARK_GRAFT_CPUS"] = override
    probe = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('m', {str(ROOT / path)!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "print(m.CPUS)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=ROOT,
        capture_output=True, text=True, check=True,
    ).stdout
    want = override or str(len(os.sched_getaffinity(0)))
    assert out.split()[-1] == want
