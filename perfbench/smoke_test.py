"""Smoke test of the benchmark itself, at tiny size.

Runs every workload once untraced and once traced on a 5k-file fixture with
the shortest run length, and asserts that each run prints every metric of
BENCHMARK.json with its unit, and that no operation failed. Takes about five
minutes on 4 cores:

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--files", "5000",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int, spec: dict) -> None:
    out = run_once(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True and out["failed"] == 0, out
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, (workload, trace, set(got) ^ set(want))
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
    result = os.path.join(ROOT, ".perfbench", "results",
                          f"{workload}-seed1-trace{trace}.json")
    with open(result) as f:
        record = json.load(f)
    assert record["failed_frac"] == 0, record["failures"]
    if trace:
        # the action counts the runner's code implies for these granularities
        actions = {"contract_run": 2, "contract_batched4": 31}[workload]
        assert out["metrics"]["runner.actions"]["value"] == actions, out["metrics"]
        assert out["metrics"]["runner.resume_partitions"]["value"] == 16


def test_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            check(workload, trace, spec)
            print(f"ok {workload} trace={trace}", flush=True)


if __name__ == "__main__":
    test_smoke()
