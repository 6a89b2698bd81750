"""Every workload end to end at a tiny size, untraced and traced.

Each run gets its own interpreter: the library's module-level UDFs bind
to the first JVM gateway of a process."""

import json
import os
import subprocess
import sys

import pytest

from geobench import layers, run
from geobench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

TINY = """
import sys
from geobench import run
from geobench.workloads import PointPolygonJoin, WindowScan
WindowScan.n_points = 4_000
PointPolygonJoin.n_points = 2_000
PointPolygonJoin.n_zones = 40
PointPolygonJoin.grid = 8
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_workload_runs_and_checks(workload, traced):
    p = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = p.stdout.strip().splitlines()
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = layers.UNITS if traced else run.E2E_UNITS
    assert list(res["metrics"]) == list(want)
    for k, m in res["metrics"].items():
        assert m["unit"] == want[k]
        assert isinstance(m["value"], float)
    if traced:
        assert any(line.startswith("tracing overhead") for line in out)
        trace = os.path.join(ROOT, ".geobench", "traces",
                             f"{workload}-seed3.json")
        with open(trace) as f:
            doc = json.load(f)
        names = {s["name"].split(".")[0] for s in doc["spans"]}
        assert {"workload", "op", "plan", "action", "harvest", "spark",
                "kernels"} <= names
    else:
        assert all(res["metrics"][k]["value"] > 0 for k in want)
