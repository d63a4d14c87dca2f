"""Seeded input generators.  Same seed, same bytes; nothing here reads
outside the run's work directory.

The shapes follow the repository's sf0.1 test tables, scaled to what a
run on a small host can repeat: a ``lineitem`` of orders with one to
seven uniformly drawn parts, a ``documents`` corpus with planted
near-duplicates, and an ``embeddings`` table with planted near-duplicate
vectors.  Each table is a fixed base table from which ``seed`` keeps a
~90% sample, so input sizes barely move from seed to seed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_SEED = 20_261_016
SAMPLE = 0.9


def _keep(seed: int, n: int, salt: int) -> np.ndarray:
    return np.random.default_rng([seed, salt]).random(n) < SAMPLE


def lineitem(seed: int, n_orders: int, n_parts: int) -> pd.DataFrame:
    """[l_orderkey, l_partkey]: orders of 1-7 lines, parts uniform."""
    rng = np.random.default_rng(_BASE_SEED)
    lines = rng.integers(1, 8, n_orders)
    order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    part = rng.integers(0, n_parts, len(order)).astype(np.int64)
    keep = _keep(seed, n_orders, 1)[order]
    return pd.DataFrame({"l_orderkey": order[keep], "l_partkey": part[keep]})


def copurchase_pairs(li: pd.DataFrame) -> np.ndarray:
    """The co-purchase edge set [src < dst] computed in numpy: the
    reference the Spark derivation is checked against."""
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    pairs = np.stack([m.l_partkey_x.to_numpy(), m.l_partkey_y.to_numpy()], axis=1)
    return np.unique(pairs, axis=0) if len(pairs) else pairs.reshape(0, 2)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return ["".join(rng.choice(letters, k)) for k in lens]


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """[doc_id, text]: random texts over a 3,000-word vocabulary, one in
    five a lightly edited copy of another (1-3 words replaced)."""
    rng = np.random.default_rng(_BASE_SEED + 1)
    vocab = _words(rng, 3000)
    n_base = n_docs * 4 // 5
    texts = [
        " ".join(vocab[w] for w in rng.integers(0, len(vocab), rng.integers(12, 60)))
        for _ in range(n_base)
    ]
    for _ in range(n_docs - n_base):
        toks = texts[rng.integers(0, n_base)].split(" ")
        for pos in rng.integers(0, len(toks), rng.integers(1, 4)):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(toks))
    ids = rng.permutation(n_docs).astype(np.int64)
    keep = _keep(seed, n_docs, 2)
    return pd.DataFrame({"doc_id": ids[keep], "text": np.array(texts, dtype=object)[keep]})


def embeddings(seed: int, n_items: int, dim: int = 64) -> pd.DataFrame:
    """[vec_id, embedding]: ten clusters, one item in six a near copy."""
    rng = np.random.default_rng(_BASE_SEED + 2)
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n_base = n_items * 5 // 6
    base = centers[rng.integers(0, 10, n_base)] + rng.standard_normal((n_base, dim)) * (
        1.5 / np.sqrt(dim)
    )
    src = rng.integers(0, n_base, n_items - n_base)
    near = base[src] + rng.standard_normal((len(src), dim)) * (0.3 / np.sqrt(dim))
    vecs = np.concatenate([base, near]).astype(np.float32)
    keep = _keep(seed, n_items, 3)
    return pd.DataFrame(
        {"vec_id": np.arange(n_items, dtype=np.int64)[keep], "embedding": list(vecs[keep])}
    )


def triangle_sum(edges: np.ndarray) -> int:
    """Σ over edges of |N(src) ∩ N(dst)|, i.e. 3 × triangles, from the
    dense adjacency matrix: independent of the program's kernels."""
    verts, inv = np.unique(edges, return_inverse=True)
    inv = inv.reshape(edges.shape)
    a = np.zeros((len(verts), len(verts)), dtype=np.float32)
    a[inv[:, 0], inv[:, 1]] = a[inv[:, 1], inv[:, 0]] = 1.0
    return int(((a @ a) * a).sum(dtype=np.float64)) // 2


def write_parquet(df: pd.DataFrame, path: str) -> None:
    if "embedding" in df:
        table = pa.table(
            {
                "vec_id": pa.array(df.vec_id.to_numpy()),
                "embedding": pa.array([v.tolist() for v in df.embedding], pa.list_(pa.float32())),
            }
        )
    else:
        table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def shingles(text: str, n: int = 3) -> set[str]:
    """Character n-gram set of the normalized text, as functions.dedup
    defines it (trim, collapse whitespace, lower-case)."""
    norm = re.sub(r"\s+", " ", text.strip(" ")).lower()
    return {norm[i : i + n] for i in range(max(len(norm) - n + 1, 1))} - {""}
