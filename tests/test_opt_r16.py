"""Round-16 optimization guards.

Every optimization must be invisible in results: each test pins the
fast path's output against a reference on the same data — the exact
path (forced by patching the fast-path function to decline, the same
``None`` contract production uses) or an independent model (the
test_opt_r15* contract).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdfe_spark.operators import estimate as E


@pytest.fixture()
def panel(spark):
    rows = []
    rng = np.random.RandomState(11)
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


# ------------------------------------------------ se_cluster2 pair gate


def test_cluster2_pair_gate_declines_row_identity_keys(panel):
    """pairs ≈ rows (id × g is row-identity here) → the gate sends the
    call down the exact four-pass path (one-pass returns None)."""
    assert (
        E._pooled_cluster2_onepass(
            panel, "y", ["x1", "x2"], "id", "g", False, 1e-9
        )
        is None
    )


def test_cluster2_pair_gate_passes_low_cardinality_keys(panel):
    """pairs ≪ rows (13×5 = 65 pairs / 400 rows) → one-pass still
    selected through the gate."""
    res = E._pooled_cluster2_onepass(
        panel, "y", ["x1", "x2"], "g", "h", False, 1e-9
    )
    assert res is not None
    assert res.n == 400


def test_cluster2_gate_ratio_env_override(panel, monkeypatch):
    """Forcing the ratio to 1.1 re-enables one-pass on row-identity
    keys, and its values still match the exact path (the r15 parity
    contract is independent of the gate)."""
    monkeypatch.setenv("HDFE_CLUSTER2_PAIR_RATIO", "1.1")
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["id", "g"],
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    slow = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["id", "g"],
    )
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)


def test_cluster2_gated_exact_path_same_answer(panel, monkeypatch):
    """With the gate declining (row-identity keys), the default call
    must equal the forced-exact path bit-for-bit (both run the same
    four-pass plan)."""
    a = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["id", "g"],
    )
    monkeypatch.setattr(E, "_pooled_cluster2_onepass", lambda *a, **k: None)
    b = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["id", "g"],
    )
    assert np.allclose(a.b, b.b, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


# ------------------------------- Plan B variance via the moment fast path


def test_within_variance_moment_parity(panel, monkeypatch):
    """Homoskedastic-SE within regression: moment fast path == window
    path (b, V, n, names) — small-FE branch (13 levels → full FE
    covariance block)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = E.estimate(
        panel, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    assert np.allclose(fast.slopes, slow.slopes, rtol=1e-9)
    assert fast.n == slow.n
    assert fast.v_coef_names == slow.v_coef_names
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-6)


def test_within_variance_moment_parity_many_levels(spark, monkeypatch):
    """> 2000 FE levels → the slopes-only V branch; moment path must
    match the window path there too."""
    rows = []
    rng = np.random.RandomState(3)
    for i in range(4400):
        g = i % 2200
        x1 = float(rng.randint(0, 100)) / 7.0
        y = 1.5 * x1 + (g % 7) * 0.25 + float(rng.randint(0, 10)) / 13.0
        rows.append((g, x1, y))
    df = spark.createDataFrame(rows, "g long, x1 double, y double")
    fast = E.estimate(
        df, "y", ["x1"], categorical_controls=["g"], estimate_variance=True
    )
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = E.estimate(
        df, "y", ["x1"], categorical_controls=["g"], estimate_variance=True
    )
    assert np.allclose(fast.slopes, slow.slopes, rtol=1e-9)
    assert fast.v_coef_names == slow.v_coef_names == ["x1"]
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-6)


def test_within_variance_null_fallback_same_answer(panel, monkeypatch):
    """NULL x → moment pass declines internally → window path → output
    identical to the forced-exact call."""
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") % 37 == 0, F.lit(None)).otherwise(F.col("x1"))
    )
    a = E.estimate(
        with_null, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    b = E.estimate(
        with_null, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    assert np.allclose(a.slopes, b.slopes, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_within_variance_perfect_fit_guard(spark, monkeypatch):
    """R² = 1 (y exactly linear in x within groups) trips the RSS
    cancellation guard; the exact residual scan must take over and the
    two paths still agree."""
    rows = [(i % 9, float(i % 31), 3.0 * (i % 31) + (i % 9) * 2.0) for i in range(300)]
    df = spark.createDataFrame(rows, "g long, x double, y double")
    fast = E.estimate(
        df, "y", ["x"], categorical_controls=["g"], estimate_variance=True
    )
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = E.estimate(
        df, "y", ["x"], categorical_controls=["g"], estimate_variance=True
    )
    assert np.allclose(fast.slopes, slow.slopes, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-6, atol=1e-18)


def test_rss_from_moments_guard():
    """Direct guard check: catastrophic cancellation → None."""
    # rss == 0 against large positive parts → decline
    yy = [100.0]
    G = np.array([[100.0]])
    Xty = np.array([[100.0]])
    b = np.array([[1.0]])
    assert E._rss_from_moments(yy, Xty, G, b) is None
    # healthy case → exact closed form
    yy = [10.0]
    Xty = np.array([[2.0]])
    G = np.array([[4.0]])
    b = np.array([[0.5]])
    out = E._rss_from_moments(yy, Xty, G, b)
    assert out is not None and np.isclose(out[0], 10.0 - 2.0 + 1.0)


def test_residuals_schema_no_dm_leak_rank_repair(panel, monkeypatch):
    """Window path + check_rank dropping a collinear regressor must
    not leak the dropped regressor's __dm_* column into the public
    residual frame (ADVICE r15)."""
    coll = panel.withColumn("x3", F.col("x1") * 2.0).withColumn(
        "x2", F.when(F.col("id") == 7, F.lit(None)).otherwise(F.col("x2"))
    )  # NULL forces the window path; x3 is collinear with x1
    res = E.estimate(
        coll, "y", ["x1", "x2", "x3"], categorical_controls=["g"],
        check_rank=True, get_residual=True,
    )
    assert not [c for c in res.residuals.columns if c.startswith("__dm_")]


# ----------------------------------------------- fit_stats moment path


def test_fit_stats_moment_parity(panel, monkeypatch):
    from hdfe_spark.operators.estimate import fit_stats

    fast = fit_stats(panel, "y", ["x1", "x2"], categorical_controls=["g"])
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = fit_stats(panel, "y", ["x1", "x2"], categorical_controls=["g"])
    assert fast["n"] == slow["n"]
    assert fast["n_groups"] == slow["n_groups"]
    for key in ("r2", "adj_r2", "f_stat", "rss", "tss"):
        assert np.isclose(fast[key], slow[key], rtol=1e-7), key
    assert np.allclose(fast["b"], slow["b"], rtol=1e-9)


def test_fit_stats_near_perfect_fit_guard(spark, monkeypatch):
    """Review r16 (CONFIRMED finding): near R²=1 with large absorbed
    group means, the moment M's loss-amplified error would corrupt the
    closed-form RSS — the guard must route to the window path so both
    calls agree."""
    from hdfe_spark.operators.estimate import fit_stats

    rows = []
    rng = np.random.RandomState(5)
    for i in range(4000):
        g = i % 10
        x = float(i % 40)
        y = 2.0 * x + g * 300.0 + float(rng.uniform(-1e-5, 1e-5))
        rows.append((g, x, y))
    df = spark.createDataFrame(rows, "g long, x double, y double")
    fast = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    assert np.isclose(fast["rss"], slow["rss"], rtol=1e-6)
    assert np.isclose(fast["f_stat"], slow["f_stat"], rtol=1e-6)


def test_fit_stats_moment_null_fe_level(spark, monkeypatch):
    """A NULL FE level is its own absorbed group on both paths."""
    from hdfe_spark.operators.estimate import fit_stats

    rows = [
        (None if i % 5 == 0 else i % 4, float(i % 11), 2.0 * (i % 11) + (i % 4))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    fast = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    monkeypatch.setattr(E, "_within_moments_gram", lambda *a, **k: None)
    slow = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    assert fast["n_groups"] == slow["n_groups"] == 5
    assert np.isclose(fast["r2"], slow["r2"], rtol=1e-7)


# ------------------------------------------------ pooled one-pass SEs


def test_pooled_homosked_onepass_parity(panel, monkeypatch):
    fast = E.estimate(panel, "y", ["x1", "x2"], estimate_variance=True)
    monkeypatch.setattr(E, "_pooled_hc1_onepass", lambda *a, **k: None)
    monkeypatch.setattr(E, "_pooled_homosked_onepass", lambda *a, **k: None)
    slow = E.estimate(panel, "y", ["x1", "x2"], estimate_variance=True)
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert fast.n == slow.n
    assert fast.v_coef_names == slow.v_coef_names
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)


def test_pooled_hc1_onepass_parity(panel, monkeypatch):
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, robust=True
    )
    monkeypatch.setattr(E, "_pooled_hc1_onepass", lambda *a, **k: None)
    monkeypatch.setattr(E, "_pooled_homosked_onepass", lambda *a, **k: None)
    slow = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, robust=True
    )
    assert np.allclose(fast.b, slow.b, rtol=1e-9)
    assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)


def test_pooled_onepass_null_fallback(panel, monkeypatch):
    """NULL anywhere → internal decline → exact path → identical.
    (NaN also declines, but the exact path itself propagates NaN into
    the Gram and raises — pre-existing behavior on both sides, not
    testable as a value.)"""
    bad = panel.withColumn(
        "x2",
        F.when(F.col("id") == 11, F.lit(None)).otherwise(F.col("x2")),
    )
    for extra in ({"robust": True}, {}):
        a = E.estimate(bad, "y", ["x1", "x2"], estimate_variance=True, **extra)
        with monkeypatch.context() as m:
            m.setattr(E, "_pooled_hc1_onepass", lambda *a, **k: None)
            m.setattr(E, "_pooled_homosked_onepass", lambda *a, **k: None)
            b = E.estimate(
                bad, "y", ["x1", "x2"], estimate_variance=True, **extra
            )
        assert np.allclose(a.b, b.b, rtol=0, atol=0)
        assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_pooled_onepass_rank_repair_parity(panel, monkeypatch):
    coll = panel.withColumn("x3", F.col("x1") * 2.0)
    for extra in ({"robust": True}, {}):
        fast = E.estimate(
            coll, "y", ["x1", "x2", "x3"], check_rank=True,
            estimate_variance=True, **extra,
        )
        with monkeypatch.context() as m:
            m.setattr(E, "_pooled_hc1_onepass", lambda *a, **k: None)
            m.setattr(E, "_pooled_homosked_onepass", lambda *a, **k: None)
            slow = E.estimate(
                coll, "y", ["x1", "x2", "x3"], check_rank=True,
                estimate_variance=True, **extra,
            )
        assert fast.v_coef_names == slow.v_coef_names
        assert np.allclose(fast.b, slow.b, rtol=1e-9)
        assert np.allclose(fast.V[0], slow.V[0], rtol=1e-7)


def test_pooled_onepass_triggers_on_clean_data(panel):
    assert (
        E._pooled_hc1_onepass(panel, "y", ["x1", "x2"], False, 1e-9)
        is not None
    )
    assert (
        E._pooled_homosked_onepass(panel, ["y"], ["x1", "x2"], False, 1e-9)
        is not None
    )


# --------------------------------------------- _spread_by_keys probing


def test_spread_by_keys_ignores_user_identifiers(spark):
    """A column named 'SortKey' must not disable the spread (the old
    substring probe matched it against the Sort node name)."""
    df = spark.range(0, 1000, 1, 1).select(
        (F.col("id") % 7).alias("SortKey"), F.col("id").alias("v")
    )
    out = E._spread_by_keys(df, ["SortKey"])
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_spread_by_keys_still_skips_real_aggregates(spark):
    df = (
        spark.range(0, 1000, 1, 1)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert E._spread_by_keys(df, ["k"]) is df


# -------------------------------------- grouped_transform collision


def test_grouped_transform_collision_keeps_window_semantics(spark):
    from pyspark.sql import Window

    from hdfe_spark.operators.groupby import grouped_transform

    df = spark.createDataFrame(
        [(1, 2.0, -1.0), (1, 4.0, -1.0), (2, 10.0, -1.0)],
        "k int, v double, mean_v double",
    )
    out = grouped_transform(df, "k", ["v"])
    # withColumn semantics: exactly one mean_v column, holding the
    # group mean (the pre-existing column is replaced, not duplicated)
    assert out.columns.count("mean_v") == 1
    got = {(r["k"], r["v"]): r["mean_v"] for r in out.collect()}
    assert got[(1, 2.0)] == 3.0 and got[(2, 10.0)] == 10.0
    ref = df.withColumn("mean_v", F.avg("v").over(Window.partitionBy("k")))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


# ------------------------------------------- py_stage_partitions width


def test_py_stage_partitions_data_aware(spark, monkeypatch):
    from hdfe_spark.session import py_stage_partitions

    df = spark.range(0, 10_000)
    cores = spark.sparkContext.defaultParallelism
    floor = max(8, cores // 4)
    # huge target → size below one block → floor (local-default shape)
    monkeypatch.setenv("HDFE_PY_STAGE_TARGET_BYTES", str(1 << 40))
    assert py_stage_partitions(spark, df) == floor
    # tiny target → width grows but is capped at 2×cores
    monkeypatch.setenv("HDFE_PY_STAGE_TARGET_BYTES", "1")
    assert py_stage_partitions(spark, df) == max(floor, cores * 2)
    monkeypatch.delenv("HDFE_PY_STAGE_TARGET_BYTES")
    # explicit env still wins
    monkeypatch.setenv("HDFE_PY_STAGE_PARTITIONS", "5")
    assert py_stage_partitions(spark, df) == 5


# ----------------------------------------------- dedup persist registry


def test_query_scoped_persist_bounded_and_releasable(spark, monkeypatch):
    from hdfe_spark.operators import dedup as D

    D.release_query_caches()
    monkeypatch.setenv("HDFE_SCOPED_PERSIST_CAP", "4")
    frames = [spark.range(0, 10 + i) for i in range(6)]
    for f in frames:
        D._query_scoped_persist(f)
    assert len(D._SCOPED_PERSISTS) == 4
    D.release_query_caches()
    assert not D._SCOPED_PERSISTS


def _word_shingles(text, k):
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_setsim_fused_values_identical(spark):
    """The fused setsim_join == a pure-Python all-pairs Jaccard over
    the same word 5-shingle sets (lowercased whitespace tokens)."""
    from hdfe_spark.operators.setjoin import setsim_join

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "a completely different sentence with other words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = setsim_join(df, tau=0.5).collect()
    sets = {i: _word_shingles(t, 5) for i, t in rows}
    ref = []
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                jac = inter / (len(sets[a]) + len(sets[b]) - inter)
                if jac >= 0.5:
                    ref.append((a, b, jac))
    key = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in fused)
    assert key == sorted(ref)
    assert key  # non-empty: the near-dup pairs were found


def test_ngram_fused_values_identical(spark, sf_dir):
    """The fused ngram_jaccard_pairs == a pure-Python Jaccard over the
    same sets (UTF-8 byte 5-grams of the lowercased text)."""
    from hdfe_spark.operators.dedup import ngram_jaccard_pairs
    from hdfe_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"))
        .withColumn("id_b", F.col("id_a") + 1)
        .join(docs.select(F.col("doc_id").alias("id_b")), on="id_b")
    )
    fused = ngram_jaccard_pairs(docs, pairs, "text", "doc_id", 5).collect()

    def grams(t):
        b = (t or "").lower().encode("utf-8")
        return {b[i:i + 5] for i in range(len(b) - 4)}

    sets = {r["doc_id"]: grams(r["text"]) for r in docs.collect()}
    ref = []
    for r in fused:
        sa, sb = sets[r["id_a"]], sets[r["id_b"]]
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        ref.append((r["id_a"], r["id_b"], inter / union if union else 0.0))
    assert len(fused) == pairs.count()
    assert sorted(
        [(r["id_a"], r["id_b"], r["jaccard"]) for r in fused]
    ) == sorted(ref)
