"""Round-15 optimization guards: two-way (CGM) cluster-robust
one-pass sandwich (`_pooled_cluster2_onepass`).

Same contract as the one-way guards in test_opt_r15.py: the
optimization must be invisible in results — every test pins the
one-pass output against the exact four-pass path on the same data
(forced by patching ``_pooled_cluster2_onepass`` to decline).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdfe_spark.operators import estimate as E


@pytest.fixture()
def panel(spark):
    rows = []
    rng = np.random.RandomState(7)
    for i in range(400):
        g = i % 13
        h = i % 5
        x1 = float(rng.randint(0, 100)) / 7.0
        x2 = float(rng.randint(0, 50)) / 3.0
        y = 2.0 * x1 - 1.5 * x2 + g * 0.5 + h * 2.0 + float(rng.randint(0, 10)) / 11.0
        rows.append((i, g, h, x1, x2, y))
    return spark.createDataFrame(
        rows, "id long, g long, h long, x1 double, x2 double, y double"
    )


def test_cluster2_onepass_parity(panel, monkeypatch):
    """One-pass CGM sandwich == exact four-pass path (b and V)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, cluster=["g", "h"]
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    slow = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, cluster=["g", "h"]
    )
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)
    assert fast.n == slow.n
    assert fast.v_coef_names == slow.v_coef_names


def test_cluster2_onepass_triggers_on_clean_data(panel):
    res = E._pooled_cluster2_onepass(
        panel, "y", ["x1", "x2"], "g", "h", False, 1e-9
    )
    assert res is not None
    assert res.n == 400


def test_cluster2_onepass_declines_nulls_and_nans(panel, spark):
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("x1"))
    )
    assert (
        E._pooled_cluster2_onepass(
            with_null, "y", ["x1", "x2"], "g", "h", False, 1e-9
        )
        is None
    )
    with_nan = panel.withColumn(
        "y",
        F.when(F.col("id") == 5, F.lit(float("nan"))).otherwise(F.col("y")),
    )
    assert (
        E._pooled_cluster2_onepass(
            with_nan, "y", ["x1", "x2"], "g", "h", False, 1e-9
        )
        is None
    )


def test_cluster2_null_input_same_answer(panel, monkeypatch):
    """Null-containing input → internal fallback → identical output."""
    with_null = panel.withColumn(
        "x2", F.when(F.col("id") % 41 == 0, F.lit(None)).otherwise(F.col("x2"))
    )
    a = E.estimate(
        with_null, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["g", "h"],
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    b = E.estimate(
        with_null, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["g", "h"],
    )
    assert np.allclose(a.b, b.b, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_cluster2_rank_repair_parity(panel, monkeypatch):
    """A collinear regressor survives identically: same dropped
    column, same V on the surviving block."""
    coll = panel.withColumn("x3", F.col("x1") * 2.0)
    fast = E.estimate(
        coll, "y", ["x1", "x2", "x3"], check_rank=True,
        estimate_variance=True, cluster=["g", "h"],
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    slow = E.estimate(
        coll, "y", ["x1", "x2", "x3"], check_rank=True,
        estimate_variance=True, cluster=["g", "h"],
    )
    assert fast.v_coef_names == slow.v_coef_names
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)


def test_cluster2_key_as_regressor(panel, monkeypatch):
    """A clustering key reused as a regressor (the projected column
    list dedupes) still matches the exact path."""
    fast = E.estimate(
        panel, "y", ["x1", "g"], estimate_variance=True, cluster=["g", "h"]
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    slow = E.estimate(
        panel, "y", ["x1", "g"], estimate_variance=True, cluster=["g", "h"]
    )
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)
