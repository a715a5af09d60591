"""Smoke test of the benchmark harness; takes about five minutes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs every workload briefly on sf0.001, untraced and traced, and checks that
each metric BENCHMARK.json names is printed with its unit; then checks that
a corrupted expected value makes the run report failures.
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


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--scale", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_corrupted_expected_value_is_a_failure():
    res = _run("render_hot", 0, "--corrupt-expected")
    assert not res["correct"]
    # every render_hot render is checked against an oracle
    assert res["failed"] == res["attempted"] > 0
