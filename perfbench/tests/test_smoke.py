"""Tiny-size end-to-end runs of every workload through the command line,
as the benchmark is run: last stdout line is the result object."""

import json
import os
import subprocess
import sys

import pytest

from perfbench import run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace_flag: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace_flag), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_untraced(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced():
    res = _run("curate_docs", 1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == trace.per_layer_names()
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in ("sources", "dedup", "text", "similarity"):
        assert m[f"{layer}.jobs"] > 0 and m[f"{layer}.tasks"] > 0
    assert m["estimate.jobs"] == 0 and m["session.wall_s"] > 0
