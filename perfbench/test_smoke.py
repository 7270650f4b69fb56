"""Smoke test of the benchmark harness: every BENCHMARK.json workload
at scale 0.001 for one measured round (and one traced round with
``--trace 1``).

Run from the repository root:
  python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, *SPEC["command"][1:]]
    cmd += ["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    cmd += ["--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    context, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        assert context["trace_state"]["eventLog"] == "true"
    else:
        # the untraced run enables no event log and no streaming listener
        assert context["trace_state"] == {"eventLog": "false", "listeners": 0}
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
