"""Seed determinism of the inputs, metric names against BENCHMARK.json,
the latency percentile rule, and what makes a run incorrect."""

import hashlib
import json
import os
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import data, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, d: data.make_panel(seed, d, 60, 5, 12),
        lambda seed, d: data.make_docs(seed, d, 200),
        lambda seed, d: data.make_embeddings(seed, d, 300, n_pairs=6),
    ],
    ids=["panel", "docs", "embeddings"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = make(5, str(tmp_path / "a"))["path"]
    b = make(5, str(tmp_path / "b"))["path"]
    c = make(6, str(tmp_path / "c"))["path"]
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_planted_documents(tmp_path):
    info = data.make_docs(3, str(tmp_path), 300)
    assert info["rows"] == 300 + sum(info["planted"].values())
    assert info["planted"] == {"exact": 12, "case": 12, "near": 12, "reorder": 9}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == trace.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile_leaves_ten_samples_above():
    xs = [float(i) for i in range(1, 101)]
    pct, v = run.tail_percentile(xs)
    assert pct == 90.0 and v == 90.0 and sum(x > v for x in xs) == 10
    pct, v = run.tail_percentile(xs[:24])
    assert sum(x > v for x in xs[:24]) >= 10
    # too few samples for a percentile above the median: the slowest call
    assert run.tail_percentile(xs[:12]) == (100.0, 12.0)
    assert run.tail_percentile([3.0, 1.0]) == (100.0, 3.0)


def test_traced_job_count_mismatch_fails_the_run():
    untraced = {"sources": 0.0, "estimate": 12.0, "dedup": 3.0}
    assert run.jobs_mismatch({"estimate": 12.0, "dedup": 3.0, "text": 0.0}, untraced) == {}
    mismatch = run.jobs_mismatch({"estimate": 13.0, "dedup": 3.0}, untraced)
    assert mismatch == {"estimate": [13.0, 12.0]}
    records = [{"ok": True}, {"ok": True}]
    assert run.result(records, {}, {})["correct"]
    res = run.result(records, {}, mismatch)
    assert not res["correct"] and res["failed"] == 0 and res["attempted"] == 2
    assert not run.result([{"ok": True}, {"ok": False}], {}, {})["correct"]


def test_apply_check_accepts_a_firm_with_one_row():
    want = pd.DataFrame({"fe1": [1, 2], "n": [3, 1], "mean_y": [0.5, 2.0], "sd_y": [1.0, np.nan]})
    panel = SimpleNamespace(firm_stats=want)
    assert workloads.PanelLarge._verify_apply(panel, want.iloc[::-1].copy())
    wrong = want.copy()
    wrong.loc[1, "sd_y"] = 0.0
    assert not workloads.PanelLarge._verify_apply(panel, wrong)


def test_metrics_come_from_undisturbed_passes():
    quiet = [{"steal_share": 0.0}, {"steal_share": run.MAX_STEAL_SHARE}]
    stolen = [{"steal_share": 0.3}, {"steal_share": 0.2}]
    assert run.measured(stolen + quiet) == quiet
    # every pass disturbed: the least disturbed one
    assert run.measured(stolen) == [stolen[1]]
