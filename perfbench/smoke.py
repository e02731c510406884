"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced; every metric named in BENCHMARK.json must be printed with its unit
and every output check must pass.

    python3 -m pytest perfbench/smoke.py -q     # or
    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run_tiny(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    res = run_tiny(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert {w["name"]: w["unit"] for w in wanted} == \
        {k: v["unit"] for k, v in res["metrics"].items()}
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], float), name
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values()), res


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
