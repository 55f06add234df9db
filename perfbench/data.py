"""Seeded input generators for the benchmark workloads.

Every table is built with numpy from ``numpy.random.default_rng`` and
written with pyarrow, so the same seed and size give byte-identical
parquet files. The library only ever sees these files. Each generator
also returns the planted facts the correctness checks compare against
(planted slopes, duplicate counts, neighbour pairs).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word lists are lowercase ASCII except these: the upper-case form
# 'İ' (U+0130) lowers to two code points ('i' + U+0307), so a
# case-changed copy grows by one character per 'İ' when normalized.
DOTTED_WORDS = ["i̇stanbul", "i̇zmir", "i̇lk", "i̇yi"]

# Planted near-duplicate classes of ``make_docs``, as shares of the
# base documents.
DOC_PLANTS = {"exact": 0.04, "case": 0.04, "near": 0.04, "reorder": 0.03}

N_FILES = 8  # parquet parts per table
SHINGLE = 5  # characters per shingle in ``jaccard``
EMBED_DIM = 64


def _write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``N_FILES`` parquet parts under ``path``."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy"
        )


def table_bytes(path: str) -> int:
    """On-disk size of a parquet directory (the scan_ratio base)."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ------------------------------------------------------------------ panel


def make_panel(seed: int, out_dir: str, n_units: int, n_periods: int, n_firms: int) -> dict:
    """Unbalanced worker-firm panel written to ``out_dir/events.parquet``.

    Columns: ``unit`` (FE2, ``n_units`` levels), ``t``, ``fe1`` (firm,
    ``n_firms`` levels; 20% of rows sit at a random firm so the two FE
    graphs are connected), ``cl`` (cluster = firm // 10), ``kind`` (6
    levels, for dummies), ``const`` and ``x1..x3`` and ``y`` with
    planted slopes (1.5, -0.8, 0.3), unit and firm effects, and
    cluster-by-period shocks. About 10% of unit-periods are dropped.

    The table sits in the ``events`` slot because
    ``hdfe_spark.sources.tables.load_table`` only reads its fixed
    table names.
    """
    rng = np.random.default_rng([seed, 1])
    unit = np.repeat(np.arange(n_units, dtype=np.int64), n_periods)
    t = np.tile(np.arange(n_periods, dtype=np.int64), n_units)
    keep = rng.random(unit.size) >= 0.1
    unit, t = unit[keep], t[keep]
    n = unit.size
    home = rng.integers(0, n_firms, n_units)
    moved = rng.random(n) < 0.2
    fe1 = np.where(moved, rng.integers(0, n_firms, n), home[unit]).astype(np.int64)
    cl = fe1 // 10
    n_cl = int(cl.max()) + 1
    a_unit = rng.normal(0.0, 1.0, n_units)
    g_firm = rng.normal(0.0, 1.0, n_firms)
    x1 = 0.5 * a_unit[unit] + rng.normal(size=n)
    x2 = 0.3 * g_firm[fe1] + rng.normal(size=n)
    x3 = rng.normal(size=n)
    shock = rng.normal(0.0, 0.5, (n_cl, n_periods))
    eps = rng.normal(size=n) * (0.5 + 0.5 * np.abs(x3)) + shock[cl, t]
    slopes = np.array([1.5, -0.8, 0.3])
    y = slopes[0] * x1 + slopes[1] * x2 + slopes[2] * x3 + a_unit[unit] + g_firm[fe1] + eps
    table = pa.table(
        {
            "unit": unit,
            "t": t,
            "fe1": fe1,
            "cl": cl,
            "kind": rng.integers(0, 6, n).astype(np.int64),
            "const": np.ones(n),
            "x1": x1,
            "x2": x2,
            "x3": x3,
            "y": y,
        }
    )
    path = os.path.join(out_dir, "events.parquet")
    _write_parquet(table, path)
    return {"path": path, "rows": n, "bytes": table_bytes(path), "slopes": slopes}


# ------------------------------------------------------------- documents


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        length = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, length)))
    return np.array(sorted(words) + DOTTED_WORDS)


def _shingles(text: str) -> set[str]:
    return {text[i : i + SHINGLE] for i in range(len(text) - SHINGLE + 1)}


def jaccard(a: str, b: str) -> float:
    """Character-shingle Jaccard of the lowercased texts."""
    sa, sb = _shingles(a.lower()), _shingles(b.lower())
    return len(sa & sb) / max(len(sa | sb), 1)


def _case_variant(rng: np.random.Generator, toks: list[str]) -> str:
    """Same text after normalization: capitalized words, dotted-I
    words in upper case, and runs of spaces and tabs between words."""
    out = []
    for w in toks:
        if w in DOTTED_WORDS:
            w = "İ" + w[2:]
        elif rng.random() < 0.2:
            w = w.upper() if rng.random() < 0.3 else w.capitalize()
        out.append(w)
    seps = rng.choice(np.array([" ", "  ", " \t", " \n "]), len(out) - 1, p=[0.7, 0.1, 0.1, 0.1])
    text = out[0] + "".join(s + w for s, w in zip(seps, out[1:]))
    return "  " + text + " "


def make_docs(seed: int, out_dir: str, n_base: int) -> dict:
    """Zipfian corpus written to ``out_dir/documents.parquet``.

    ``n_base`` distinct base documents (lowercase, single-spaced, each
    with a unique leading id word, 40-100 tokens over a 5k-word
    Zipfian vocabulary with a few dotted-I words) plus planted copies,
    each derived from its own base document and given a larger id:

    - ``exact``: the same text;
    - ``case``: the same text after lower/trim/collapse-whitespace;
    - ``near``: one extra word appended (shingle Jaccard >= 0.93);
    - ``reorder``: the same words shuffled (shingle Jaccard < 0.7).

    Rows are stored in a seeded random order.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 5000)
    p = 1.0 / np.arange(1, vocab.size + 1) ** 1.1
    p /= p.sum()
    rng.shuffle(p)  # dotted words get random ranks
    base_toks = []
    for i in range(n_base):
        n_tok = int(rng.integers(40, 101))
        base_toks.append([f"d{i}x"] + list(vocab[rng.choice(vocab.size, n_tok - 1, p=p)]))
    texts = [" ".join(t) for t in base_toks]
    counts = {k: int(round(share * n_base)) for k, share in DOC_PLANTS.items()}
    sources = rng.permutation(n_base)[: sum(counts.values())]
    kinds = ["base"] * n_base
    pos = 0
    for kind, cnt in counts.items():
        for src in sources[pos : pos + cnt]:
            toks = base_toks[src]
            if kind == "exact":
                text = texts[src]
            elif kind == "case":
                text = _case_variant(rng, toks)
            elif kind == "near":
                text = texts[src] + " " + str(vocab[rng.integers(vocab.size)]) + "q"
                if jaccard(text, texts[src]) < 0.93:
                    raise ValueError("near-duplicate below its planted Jaccard")
            else:
                while True:
                    text = " ".join(rng.permutation(np.array(toks, dtype=object)))
                    if jaccard(text, texts[src]) < 0.7:
                        break
            texts.append(text)
            kinds.append(kind)
        pos += cnt
    order = rng.permutation(len(texts))
    table = pa.table(
        {
            "doc_id": pa.array(order, pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    _write_parquet(table, path)
    return {
        "path": path,
        "rows": len(texts),
        "bytes": table_bytes(path),
        "n_base": n_base,
        "planted": counts,
    }


def make_embeddings(seed: int, out_dir: str, n: int, n_pairs: int) -> dict:
    """Gaussian ``EMBED_DIM``-d vectors written to ``out_dir/embeddings.parquet``.

    The last ``n_pairs`` vectors are planted neighbours: each is a
    copy of one earlier vector plus small noise (cosine > 0.999);
    every other pair has cosine far below 0.95.
    """
    rng = np.random.default_rng([seed, 3])
    vecs = rng.normal(size=(n, EMBED_DIM))
    src = rng.choice(n - n_pairs, n_pairs, replace=False)
    vecs[n - n_pairs :] = vecs[src] + rng.normal(0.0, 0.02, (n_pairs, EMBED_DIM))
    pairs = {(int(a), int(b)) for a, b in zip(src, range(n - n_pairs, n))}
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), EMBED_DIM).cast(
                pa.list_(pa.float64())
            ),
        }
    )
    path = os.path.join(out_dir, "embeddings.parquet")
    _write_parquet(table, path)
    return {
        "path": path,
        "rows": n,
        "bytes": table_bytes(path),
        "vectors": vecs,
        "pairs": pairs,
        "sources": src,
    }
