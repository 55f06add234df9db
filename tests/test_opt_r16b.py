"""Round-16 optimization guards, part B: higher-order-function hoists.

A Spark HOF lambda re-evaluates any captured outer EXPRESSION once
per element; hoisting the expression behind a projection boundary
must be invisible in results. Each test pins the hoisted path's
output against a reference built from the inline shingle Columns
(``shingle_array`` / ``shingles``) plus a pure-Python pair model on
the same data, including the short-text / NULL-text edges the hoists'
guard conditions rewrote.
"""

import pytest
from pyspark.sql import functions as F

from hdfe_spark.operators.dedup import containment_pairs
from hdfe_spark.operators.dedup import release_query_caches
from hdfe_spark.operators.setjoin import (
    setsim_join,
    shingle_array,
    word_shingle_frame,
)
from hdfe_spark.operators.text import dup_ngram_spans, shingles


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "entirely different words compose this one document here now"),
        (4, "short doc"),
        (5, "tiny"),
        (6, ""),
        (7, None),
        (8, "  leading and trailing   whitespace   tokens collapse here  "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_word_shingle_frame_matches_shingle_array(docs):
    """The hoisted frame form is bit-identical to the inline Column
    form for every doc, including < k-token, empty, and NULL texts."""
    for k in (2, 5):
        hoisted = _rows(word_shingle_frame(docs, "doc_id", "text", k, "sh"))
        inline = _rows(
            docs.select(
                F.col("doc_id").alias("id"),
                shingle_array(F.col("text"), k).alias("sh"),
            )
        )
        assert hoisted == inline


def _inline_sets(df, col):
    """{id: set of shingles} from an inline shingle Column."""
    return {r[0]: set(r[1]) for r in df.select("doc_id", col).collect()}


def _inline_containment(df, k, threshold):
    sets = _inline_sets(
        df, F.array_distinct(shingles(F.lower(F.col("text")), k))
    )
    out = []
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and sa:
                n = len(sa & sb)
                if n and n / len(sa) >= threshold:
                    out.append((a, b, n, len(sa), n / len(sa)))
    return sorted(out)


def test_setsim_hoist_parity_with_inline_shingles(docs):
    out = setsim_join(docs, "doc_id", "text", tau=0.5, shingle_k=3)
    hoisted = _rows(out.select("id_a", "id_b", "jaccard"))
    sets = _inline_sets(docs, shingle_array(F.col("text"), 3))
    inline = []
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a < b and sa and sb:
                inter = len(sa & sb)
                jac = inter / (len(sa) + len(sb) - inter)
                if jac >= 0.5:
                    inline.append((a, b, jac))
    assert hoisted == sorted(inline)
    assert len(hoisted) > 0  # docs 0/1/2 overlap


def test_dup_ngram_spans_hoist_and_fused_parity(docs):
    fused = _rows(dup_ngram_spans(docs, "doc_id", "text", k=3))
    grams = {
        r[0]: list(r[1])
        for r in docs.select("doc_id", shingle_array(F.col("text"), 3)).collect()
    }
    holders = {}
    for i, gs in grams.items():
        for g in gs:
            holders.setdefault(g, set()).add(i)
    for i, n_grams, n_dup, dup_frac in fused:
        gs = grams[i]
        assert n_grams == len(gs)
        assert n_dup == sum(len(holders[g]) > 1 for g in gs)
        assert dup_frac == pytest.approx(n_dup / max(n_grams, 1), abs=1e-6)
    # every input doc present, including the gram-less short/NULL ones
    assert len(fused) == 9
    by_id = {r[0]: r for r in fused}
    assert by_id[5][1] == 0 and by_id[5][2] == 0  # "tiny": no 3-grams
    # identical dup docs 0/1 have every gram duplicated
    assert by_id[0][1] == by_id[0][2] > 0


def test_dup_ngram_spans_fused_plan_has_cache(docs):
    plan = dup_ngram_spans(docs, "doc_id", "text", k=3)._jdf.queryExecution().toString()
    assert "InMemoryRelation" in plan


def _assert_no_reinlined_transform(plan):
    # the inline form's giveaway: a filter condition computing the
    # shingle transform per row
    for line in plan.splitlines():
        if "Filter" in line and "transform" in line:
            raise AssertionError(f"shingle transform re-inlined into a filter: {line[:200]}")


def test_dup_ngram_spans_evicted_persist_not_reinlined(docs):
    """The query-scoped persist can be FIFO-evicted before the action
    runs; the recomputed lineage must still keep the token hoist (no
    inferred size(__grams) > 0 filter pushed below it with the full
    transform substituted back in)."""
    out = dup_ngram_spans(docs, "doc_id", "text", k=3)
    release_query_caches()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan
    _assert_no_reinlined_transform(plan)


def test_containment_hoist_parity_and_edges(docs):
    hoisted = _rows(
        containment_pairs(docs, "text", "doc_id", shingle_k=5, threshold=0.3)
    )
    assert hoisted == _inline_containment(docs, 5, 0.3)
    assert len(hoisted) > 0
    # docs shorter than k (4-char "tiny", "", NULL) never appear on
    # either side — the pre-filter matches the old size(__s)>0 filter
    ids = {r[0] for r in hoisted} | {r[1] for r in hoisted}
    assert ids.isdisjoint({5, 6, 7})


def test_containment_prefilter_on_lowered_length(spark):
    """lower() can lengthen a string ('İ' lowers to 'i' + a combining
    dot), so a doc whose RAW text is shorter than k can still have a
    k-shingle — the pre-filter must measure the lowered text."""
    docs = spark.createDataFrame(
        [(0, "İabcd"), (1, "xx i̇abcd yy"), (2, "İabcd zz")],
        "doc_id long, text string",
    )
    got = _rows(
        containment_pairs(docs, "text", "doc_id", shingle_k=6, threshold=0.1)
    )
    assert got == _inline_containment(docs, 6, 0.1)
    assert len(got) == 6


def test_containment_hoist_prefilter_not_reinlined(docs):
    """The hoisted plan's scan-level filter must be the cheap
    length(lower(text)) >= k predicate, not the substituted-back
    shingle transform (the predicate-pushdown trap the prefilter
    avoids)."""
    plan = (
        containment_pairs(docs, "text", "doc_id", shingle_k=5, threshold=0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "length(lower(text" in plan
    _assert_no_reinlined_transform(plan)
