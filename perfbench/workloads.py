"""The benchmark's workloads: seeded inputs, the public calls of one
pass, and the checks of their outputs.

A ``Call`` wraps one public library call. ``run`` calls it and
materializes the result (a noop sink for wide frames, a collect for
small ones) and returns what the checks read. ``verify`` is cheap and
runs after every timed call, outside its timing; ``check`` may run
Spark actions and runs once per run, after the first pass.
"""

from __future__ import annotations

import itertools
import os
import re
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import hdfe_spark
from hdfe_spark.operators import dedup, text
from hdfe_spark.operators.groupby import demean
from hdfe_spark.sources.tables import load_table

from perfbench import data, oracle

EXACT_RTOL = 1e-7  # closed-form plans: numpy vs distributed sums
AP_RTOL = 1e-5  # alternating projections stop at ap_tol=1e-8


@dataclass
class Call:
    name: str
    fn: Callable  # the public function; its module names the layer
    run: Callable[[], Any]
    table_bytes: int  # on-disk size of the input table the call reads
    verify: Callable[[Any], bool] | None = None
    check: Callable[[Any], bool] | None = None


def noop(df):
    """Compute every column of every row and write nothing."""
    df.write.format("noop").mode("overwrite").save()
    return df


def _close(got, want, rtol: float) -> bool:
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    return got.shape == want.shape and bool(np.allclose(got, want, rtol=rtol, atol=1e-9))


def _duck(sql: str, **paths) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, path in paths.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        return con.execute(sql).df()
    finally:
        con.close()


# ------------------------------------------------------------------ panels


@dataclass(frozen=True)
class Spec:
    """One ``estimate`` specification."""

    name: str
    x: tuple[str, ...]
    fes: tuple[str, ...] = ()
    variance: str | None = None  # None | homosked | hc1 | cluster
    cluster: tuple[str, ...] = ()
    alternating: bool = False
    residuals: bool = False

    def kwargs(self) -> dict:
        return {
            "categorical_controls": list(self.fes) or None,
            "estimate_variance": self.variance is not None,
            "robust": self.variance == "hc1",
            "cluster": list(self.cluster) or None,
            "within_if_fe": not self.alternating,
            "get_residual": self.residuals,
        }

    @property
    def plan(self) -> str:
        if not self.fes:
            return "pooled"
        return "alternating" if self.alternating else "within"


class Panel:
    """Shared machinery of the two panel workloads."""

    def __init__(self, seed: int, work: str, n_units: int, n_periods: int, n_firms: int):
        self.info = data.make_panel(seed, work, n_units, n_periods, n_firms)
        self.path = self.info["path"]
        self.work = work
        self.rows = self.info["rows"]
        self.bytes = self.info["bytes"]
        self.tables = {"events": self.bytes}
        self.pdf = pq.read_table(self.path).to_pandas()
        self.df = None
        self._fits: dict[Spec, dict] = {}

    def load(self, spark):
        self.df = load_table(spark, "events", self.work)
        return self.df

    # -- estimate -------------------------------------------------------

    def want(self, spec: Spec) -> dict:
        if spec not in self._fits:
            p = self.pdf
            self._fits[spec] = oracle.fit(
                p["y"].to_numpy(),
                p[list(spec.x)].to_numpy(),
                fes=[p[f].to_numpy() for f in spec.fes],
                variance=spec.variance,
                cluster=[p[c].to_numpy() for c in spec.cluster],
            )
        return self._fits[spec]

    def estimate_call(self, spec: Spec) -> Call:
        want = self.want(spec)
        rtol = AP_RTOL if spec.alternating else EXACT_RTOL

        def run():
            res = hdfe_spark.estimate(self.df, "y", list(spec.x), **spec.kwargs())
            if spec.residuals:
                noop(res.residuals)
            return res

        def verify(res) -> bool:
            ok = res.plan == spec.plan and _close(res.slopes[:, 0], want["slopes"], rtol)
            if spec.variance is not None:
                idx = [res.v_coef_names.index(c) for c in spec.x]
                se = np.sqrt(np.clip(np.diag(res.V[0])[idx], 0, None))
                ok = ok and _close(se, np.sqrt(np.clip(np.diag(want["V"]), 0, None)), rtol)
            return ok

        def check(res) -> bool:
            if not spec.residuals:
                return True
            row = res.residuals.agg(
                F.sum(F.col("resid_y") ** 2).alias("rss"), F.count(F.lit(1)).alias("n")
            ).first()
            return row["n"] == want["n"] and _close(row["rss"], want["rss"], rtol)

        return Call(f"estimate:{spec.name}", hdfe_spark.estimate, run, self.bytes, verify, check)

    def load_call(self, spark) -> Call:
        return Call("load_table:events", load_table, lambda: self.load(spark), self.bytes)

    # -- grouped ops ------------------------------------------------------

    def demean_call(self, key: str, cols: list[str], sample: np.ndarray) -> Call:
        def check(out) -> bool:
            got = (
                out.filter(F.col(key).isin([int(s) for s in sample]))
                .select("unit", "t", *[f"{c}_dm" for c in cols])
                .toPandas()
            )
            want = _duck(
                f"SELECT unit, t, "
                + ", ".join(f"{c} - avg({c}) OVER (PARTITION BY {key}) AS w_{c}" for c in cols)
                + f" FROM p WHERE {key} IN ({','.join(str(int(s)) for s in sample)})",
                p=self.path,
            )
            m = got.merge(want, on=["unit", "t"])
            return len(m) == len(want) == len(got) and all(
                _close(m[f"{c}_dm"], m[f"w_{c}"], 1e-9) for c in cols
            )

        return Call(
            f"demean:{key}",
            demean,
            lambda: noop(demean(self.df, key, cols)),
            self.bytes,
            check=check,
        )


def _firm_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group Python function for ``Groupby.apply``."""
    return pd.DataFrame(
        {
            "fe1": [int(pdf["fe1"].iloc[0])],
            "n": [len(pdf)],
            "mean_y": [float(pdf["y"].mean())],
            "sd_y": [float(pdf["y"].std())],
        }
    )


class PanelLarge(Panel):
    """Every panel operator on one unit x period panel with a firm FE
    (320 levels at scale 1) and a unit FE (1.6k levels)."""

    name = "panel_large"
    SPECS = (
        Spec("pooled_hc1", ("const", "x1", "x2", "x3"), variance="hc1"),
        Spec("within_cluster", ("x1", "x2", "x3"), ("unit",), "cluster", ("cl",)),
        Spec("within_cluster2", ("x1", "x2", "x3"), ("fe1",), "cluster", ("cl", "t")),
        Spec("twofe_alternating", ("x1", "x2", "x3"), ("fe1", "unit"), "homosked", alternating=True),
        Spec("residuals", ("x1", "x2", "x3"), ("fe1",), residuals=True),
    )

    def __init__(self, seed: int, work: str, scale: float):
        super().__init__(seed, work, max(int(1600 * scale), 40), 8, max(int(320 * scale), 20))
        rng = np.random.default_rng([seed, 10])
        self.sample_units = rng.choice(self.pdf["unit"].unique(), 20, replace=False)
        self.sample_firms = rng.choice(self.pdf["fe1"].unique(), 5, replace=False)
        self.firm_stats = _duck(
            "SELECT fe1, count(*) AS n, avg(y) AS mean_y, stddev_samp(y) AS sd_y "
            "FROM p GROUP BY fe1 ORDER BY fe1",
            p=self.path,
        )
        p = self.pdf
        X = p[["const", "x1", "x2", "x3"]].to_numpy()
        self.gram_want = (X.T @ X, X.T @ p[["y"]].to_numpy(), len(p))
        for spec in self.SPECS:
            self.want(spec)

    def calls(self, spark) -> list[Call]:
        x = ["const", "x1", "x2", "x3"]
        return [
            self.load_call(spark),
            Call(
                "grouped_transform",
                hdfe_spark.grouped_transform,
                lambda: noop(hdfe_spark.grouped_transform(self.df, "fe1", ["y", "x1"])),
                self.bytes,
                check=self._check_transform,
            ),
            self.demean_call("unit", ["y", "x1", "x2"], self.sample_units),
            Call(
                "Groupby.apply",
                hdfe_spark.Groupby.apply,
                lambda: hdfe_spark.Groupby(self.df, "fe1")
                .apply(_firm_stats, "fe1 long, n long, mean_y double, sd_y double")
                .toPandas(),
                self.bytes,
                verify=self._verify_apply,
            ),
            Call(
                "make_lags",
                hdfe_spark.make_lags,
                lambda: noop(hdfe_spark.make_lags(self.df, 2, 1, "y", "unit", "t")[0]),
                self.bytes,
                check=self._check_lags,
            ),
            Call(
                "make_dummies",
                hdfe_spark.make_dummies,
                lambda: noop(hdfe_spark.make_dummies(self.df, "kind")[0]),
                self.bytes,
                check=self._check_dummies,
            ),
            Call(
                "gram_matrix",
                hdfe_spark.gram_matrix,
                lambda: hdfe_spark.gram_matrix(self.df, x, ["y"]),
                self.bytes,
                verify=lambda g: _close(g[0], self.gram_want[0], EXACT_RTOL)
                and _close(g[1], self.gram_want[1], EXACT_RTOL)
                and g[2] == self.gram_want[2],
            ),
            *[self.estimate_call(s) for s in self.SPECS],
        ]

    def _check_transform(self, out) -> bool:
        firms = [int(f) for f in self.sample_firms]
        got = out.filter(F.col("fe1").isin(firms)).select("fe1", "mean_y", "mean_x1").toPandas()
        want = _duck(
            f"SELECT fe1, avg(y) AS w_y, avg(x1) AS w_x1, count(*) AS n FROM p "
            f"WHERE fe1 IN ({','.join(map(str, firms))}) GROUP BY fe1",
            p=self.path,
        )
        m = got.merge(want, on="fe1")
        return len(m) == len(got) == int(want["n"].sum()) and _close(
            m["mean_y"], m["w_y"], 1e-9
        ) and _close(m["mean_x1"], m["w_x1"], 1e-9)

    def _verify_apply(self, got: pd.DataFrame) -> bool:
        got = got.sort_values("fe1").reset_index(drop=True)
        want = self.firm_stats
        return (
            len(got) == len(want)
            and (got["fe1"].to_numpy() == want["fe1"].to_numpy()).all()
            and (got["n"].to_numpy() == want["n"].to_numpy()).all()
            and _close(got["mean_y"], want["mean_y"], 1e-9)
            # a firm with one row has no sample sd: NaN on both sides
            and bool(np.allclose(got["sd_y"], want["sd_y"], rtol=1e-9, atol=1e-9, equal_nan=True))
        )

    def _check_lags(self, out) -> bool:
        units = ",".join(str(int(u)) for u in self.sample_units)
        cols = ["y_lag_-1", "y_lag_1", "y_lag_2"]
        got = (
            out.filter(F.col("unit").isin([int(u) for u in self.sample_units]))
            .select("unit", "t", *[F.col(f"`{c}`") for c in cols])
            .toPandas()
        )
        want = _duck(
            "SELECT unit, t, LEAD(y, 1) OVER w AS w_m1, LAG(y, 1) OVER w AS w_1, "
            f"LAG(y, 2) OVER w AS w_2 FROM p WHERE unit IN ({units}) "
            "WINDOW w AS (PARTITION BY unit ORDER BY t)",
            p=self.path,
        )
        m = got.merge(want, on=["unit", "t"])
        return len(m) == len(got) == len(want) and all(
            bool(np.allclose(m[c].astype(float), m[w].astype(float), rtol=0, atol=0, equal_nan=True))
            for c, w in zip(cols, ["w_m1", "w_1", "w_2"])
        )

    def _check_dummies(self, out) -> bool:
        levels = sorted(int(v) for v in self.pdf["kind"].unique())
        row = out.agg(*[F.sum(f"kind_is_{v}").alias(str(v)) for v in levels]).first()
        want = _duck("SELECT kind, count(*) AS n FROM p GROUP BY kind", p=self.path)
        want = dict(zip(want["kind"].astype(int), want["n"].astype(int)))
        return all(int(row[str(v)]) == want[v] for v in levels)


class PanelSmallMany(Panel):
    """Fixed-cost side of the estimate layer: many specifications on a
    small panel, drawn by seed and stratified so every pass has one spec
    per (plan, variance) cell."""

    name = "panel_small_many"
    PER_CELL = 2  # specs per (plan, variance) cell
    PLANS = (((), False), (("fe1",), False), (("fe1", "unit"), True))
    VARIANCES = ((None, ()), ("homosked", ()), ("hc1", ()), ("cluster", ("cl",)), ("cluster", ("cl", "t")))

    def __init__(self, seed: int, work: str, scale: float):
        super().__init__(seed, work, max(int(5000 * scale), 40), 10, max(int(200 * scale), 20))
        rng = np.random.default_rng([seed, 20])
        subsets = [
            c for r in (1, 2, 3) for c in itertools.combinations(("x1", "x2", "x3"), r)
        ]
        self.specs = []
        for (fes, alt), (var, cl) in itertools.product(self.PLANS, self.VARIANCES):
            for _ in range(self.PER_CELL):
                xs = subsets[rng.integers(len(subsets))]
                if not fes:
                    xs = ("const",) + xs
                name = f"{'-'.join(fes) or 'pooled'}:{var or 'none'}{'-'.join(cl)}:{'+'.join(xs)}"
                self.specs.append(Spec(name, xs, fes, var, cl, alternating=alt))
        self.sample_firms = rng.choice(self.pdf["fe1"].unique(), 5, replace=False)
        self.agg_want = _duck(
            "SELECT fe1, avg(y) AS mean_y, sum(y) AS sum_y, max(x1) AS max_x1 "
            "FROM p GROUP BY fe1 ORDER BY fe1",
            p=self.path,
        )
        for spec in self.specs:
            self.want(spec)

    def calls(self, spark) -> list[Call]:
        return [
            self.load_call(spark),
            Call(
                "grouped_agg",
                hdfe_spark.grouped_agg,
                lambda: hdfe_spark.grouped_agg(
                    self.df, "fe1", {"y": ["mean", "sum"], "x1": "max"}
                ).toPandas(),
                self.bytes,
                verify=self._verify_agg,
            ),
            self.demean_call("fe1", ["y"], self.sample_firms),
            *[self.estimate_call(s) for s in self.specs],
        ]

    def _verify_agg(self, got: pd.DataFrame) -> bool:
        got = got.sort_values("fe1").reset_index(drop=True)
        want = self.agg_want
        return (
            len(got) == len(want)
            and (got["fe1"].to_numpy() == want["fe1"].to_numpy()).all()
            and _close(got["mean_y"], want["mean_y"], 1e-9)
            and _close(got["sum_y"], want["sum_y"], 1e-9)
            and _close(got["max_x1"], want["max_x1"], 0)
        )


# -------------------------------------------------------------- documents

_JAVA_SPACE = "[ \t\n\x0b\f\r]+"


def normalize_py(s: str) -> str:
    """``normalize_text``'s contract: lower(trim(s)) with whitespace runs
    collapsed (Spark's trim drops spaces only; Java's \\s is ASCII)."""
    return re.sub(_JAVA_SPACE, " ", s.strip(" ").lower())


def tokens_py(s: str) -> list[str]:
    return [w for w in re.split(_JAVA_SPACE, s.lower()) if w]


def simhash_py(texts: list[str]) -> list[int]:
    """Charikar SimHash as documented in ``functions/hashing.py``: bit b
    is the majority of bit b over the token-hash multiset."""
    from hdfe_spark.functions.hashing import token_hashes_np

    bits = np.arange(64, dtype=np.uint64)
    out = []
    for t in texts:
        toks = t.lower().split()
        if not toks:
            out.append(0)
            continue
        h = token_hashes_np(toks)
        votes = ((h[:, None] >> bits[None, :]) & np.uint64(1)).sum(axis=0)
        out.append(int((((votes * 2) > len(toks)).astype(np.uint64) << bits).sum(dtype=np.uint64)))
    return out


SPAN_NGRAM = 8  # ``dup_ngram_spans``' default n-gram length


def dup_spans_py(docs: pd.DataFrame) -> pd.DataFrame:
    """Per document: n-gram count and how many of its n-gram positions
    also occur in another document."""
    grams = {
        d: [" ".join(t[i : i + SPAN_NGRAM]) for i in range(len(t) - SPAN_NGRAM + 1)]
        for d, t in zip(docs["doc_id"], map(tokens_py, docs["text"]))
    }
    n_docs = Counter(g for gs in grams.values() for g in set(gs))
    return pd.DataFrame(
        {
            "doc_id": list(grams),
            "n_grams": [len(gs) for gs in grams.values()],
            "n_dup": [sum(n_docs[g] > 1 for g in gs) for gs in grams.values()],
        }
    )


def lang_py(s: str) -> str:
    toks = set(tokens_py(s))
    scores = {l: len(toks & set(ws)) for l, ws in sorted(text.LANG_STOPWORDS.items())}
    best = max(scores.values())
    return "und" if best <= 0 else next(l for l, v in scores.items() if v == best)


class CurateDocs:
    """LLM-data curation chain over a Zipfian corpus with planted
    duplicates and a seeded embedding table with planted neighbours."""

    name = "curate_docs"
    N_QUERIES = 32
    TOP_K = 5

    def __init__(self, seed: int, work: str, scale: float):
        n_base = max(int(1200 * scale), 100)
        self.work = work
        self.docs_info = data.make_docs(seed, work, n_base)
        n = self.docs_info["rows"]
        self.emb_info = data.make_embeddings(seed, work, n, n_pairs=max(n // 100, 4))
        self.rows = n
        self.tables = {"documents": self.docs_info["bytes"], "embeddings": self.emb_info["bytes"]}
        docs = pq.read_table(self.docs_info["path"]).to_pandas()
        self.docs = docs
        planted, nb = self.docs_info["planted"], self.docs_info["n_base"]
        self.want_exact = nb + planted["near"] + planted["reorder"]
        self.want_minhash = nb + planted["reorder"]
        self.want_simhash = len(set(simhash_py([normalize_py(t) for t in docs["text"]])))
        self.want_spans = dup_spans_py(docs).sort_values("doc_id").reset_index(drop=True)
        rng = np.random.default_rng([seed, 30])
        dotted = docs["doc_id"][docs["text"].str.contains("İ")].to_numpy()
        self.sample = np.concatenate(
            [rng.choice(docs["doc_id"].to_numpy(), 100, replace=False), dotted[:50]]
        )
        vecs = self.emb_info["vectors"]
        self.queries = [vecs[i] for i in self.emb_info["sources"][: self.N_QUERIES]]
        Vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        Q = np.stack(self.queries)
        S = (Q / np.linalg.norm(Q, axis=1, keepdims=True)) @ Vn.T
        self.want_knn = {
            q: set(np.argsort(-S[q], kind="stable")[: self.TOP_K].tolist()) for q in range(len(Q))
        }
        self.docs_df = self.emb_df = None

    def calls(self, spark) -> list[Call]:
        def load_docs():
            self.docs_df = load_table(spark, "documents", self.work)
            return self.docs_df

        def load_emb():
            self.emb_df = load_table(spark, "embeddings", self.work)
            return self.emb_df

        def norm():
            return text.normalize_text(self.docs_df)

        docs_bytes, emb_bytes = self.docs_info["bytes"], self.emb_info["bytes"]

        return [
            Call("load_table:documents", load_table, load_docs, docs_bytes),
            Call("load_table:embeddings", load_table, load_emb, emb_bytes),
            Call(
                "exact_dedup_by_hash",
                dedup.exact_dedup_by_hash,
                lambda: dedup.exact_dedup_by_hash(norm(), text_col="norm_text").count(),
                docs_bytes,
                verify=lambda c: c == self.want_exact,
                # the normalized text, dotted capital I included, is what
                # every dedup call hashes
                check=lambda _: self._check_sample(
                    norm(), ["norm_text"], lambda r: r.norm_text == normalize_py(r.text)
                ),
            ),
            Call(
                "minhash_dedup",
                dedup.minhash_dedup,
                lambda: dedup.minhash_dedup(norm(), text_col="norm_text").count(),
                docs_bytes,
                verify=lambda c: c == self.want_minhash,
            ),
            Call(
                "simhash_dedup",
                dedup.simhash_dedup,
                lambda: dedup.simhash_dedup(norm(), text_col="norm_text").count(),
                docs_bytes,
                verify=lambda c: c == self.want_simhash,
            ),
            Call(
                "token_stats+quality_score+lang_id",
                text.token_stats,
                lambda: noop(text.lang_id(text.quality_score(text.token_stats(self.docs_df)))),
                docs_bytes,
                check=lambda out: self._check_sample(out, self.TEXT_COLS, self._text_row_ok),
            ),
            Call(
                "dup_ngram_spans",
                text.dup_ngram_spans,
                lambda: text.dup_ngram_spans(self.docs_df).toPandas(),
                docs_bytes,
                verify=self._verify_spans,
            ),
            Call(
                "embedding_neardup_pairs",
                dedup.embedding_neardup_pairs,
                # 6 planes per table keeps buckets ~n/64 wide; recall at
                # the planted cosine (> 0.999) stays above 1 - 1e-10.
                lambda: dedup.embedding_neardup_pairs(self.emb_df, threshold=0.95, n_planes=6)
                .select("id_a", "id_b")
                .collect(),
                emb_bytes,
                verify=lambda rows: {(r[0], r[1]) for r in rows} == self.emb_info["pairs"]
                and len(rows) == len(self.emb_info["pairs"]),
            ),
            Call(
                "knn_join",
                hdfe_spark.knn_join,
                lambda: hdfe_spark.knn_join(self.emb_df, self.queries, k=self.TOP_K).toPandas(),
                emb_bytes,
                verify=self._verify_knn,
            ),
        ]

    TEXT_COLS = ["n_tokens_ws", "n_tokens_bpe", "q_n_chars", "q_n_tokens", "q_upper_ratio", "lang_pred"]

    @staticmethod
    def _text_row_ok(r) -> bool:
        return (
            r.n_tokens_ws == r.q_n_tokens == len(tokens_py(r.text))
            and r.n_tokens_bpe == len(re.findall(text.BPE_TOKEN_RE, r.text))
            and r.q_n_chars == len(r.text)
            and abs(r.q_upper_ratio - len(re.findall("[A-Z]", r.text)) / max(len(r.text), 1)) < 1e-12
            and r.lang_pred == lang_py(r.text)
        )

    def _check_sample(self, out, cols: list[str], ok_row) -> bool:
        """``ok_row`` holds for every sampled document (the sample
        includes the documents with a dotted capital I)."""
        ids = [int(i) for i in self.sample]
        got = out.filter(F.col("doc_id").isin(ids)).select("doc_id", "text", *cols).toPandas()
        return len(got) == len(set(ids)) and all(ok_row(r) for r in got.itertuples())

    def _verify_spans(self, got: pd.DataFrame) -> bool:
        got = got.sort_values("doc_id").reset_index(drop=True)
        want = self.want_spans
        return (
            len(got) == len(want)
            and (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
            and (got["n_grams"].to_numpy() == want["n_grams"].to_numpy()).all()
            and (got["n_dup"].to_numpy() == want["n_dup"].to_numpy()).all()
        )

    def _verify_knn(self, got: pd.DataFrame) -> bool:
        have = got.groupby("query_id")["vec_id"].apply(set).to_dict()
        return have == self.want_knn


WORKLOADS = {w.name: w for w in (PanelLarge, PanelSmallMany, CurateDocs)}


def build(name: str, seed: int, work: str, scale: float):
    os.makedirs(work, exist_ok=True)
    return WORKLOADS[name](seed, work, scale)
