"""Approximate (edge-sampled) graphlet census.

The reference README documents ``graphlet_approximation(frac)``
(README.md:290-307) but the snapshot only ships the sampled-edge
ordering plumbing (sort_edges overload, cpp:836-851).  We implement
the documented capability: run the exact per-edge kernels on a
deterministic Bernoulli sample of edges and scale the Σ-terms by 1/p
before the closure equations — an unbiased Horvitz-Thompson estimator
for every Σ-based total (n, m stay exact).  The sample's sums come from
the same census moments as the exact census (driver tag or one Spark
aggregation), and its totals from the same closure
(``graphlets._closure``), here with the sums scaled and each division
rounded half up.

Sampling is hash-based and PORTABLE (affine maps of the canonical
endpoint pair mod 2^31-1 — the same arithmetic numpy, Catalyst, and
ANSI SQL all express exactly), so it is reproducible across runs,
partitions, and strategies, pushes down as a cheap filter (at 100 TB
this samples at the scan, not after a materialization), and the whole
estimator is oracle-checkable value-for-value in an independent SQL
engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from pgd_spark.graph import Graph

#: portable sampling hash h(a<=b) = ((a%M)*A1%M + (b%M)*A2%M + seed) % M
SAMPLE_MOD = 2_147_483_647
SAMPLE_A1 = 1_103_515_245
SAMPLE_A2 = 2_654_435_761


def sample_mask(v: np.ndarray, u: np.ndarray, denom: int, limit: int, seed: int) -> np.ndarray:
    """numpy twin of the Column filter in approximate_macro_counts (the
    broadcast census applies it on the driver): keep edge iff
    h(min, max) % denom < limit.  All products stay < 2^63, so the int64
    arithmetic needs no wraparound semantics."""
    M = np.int64(SAMPLE_MOD)
    a = np.minimum(v, u).astype(np.int64) % M
    b = np.maximum(v, u).astype(np.int64) % M
    h = (a * np.int64(SAMPLE_A1) % M + b * np.int64(SAMPLE_A2) % M + np.int64(seed)) % M
    return (h % np.int64(denom)) < np.int64(limit)


def approximate_macro_counts(
    g: Graph, fraction: float = 0.1, seed: int = 42, strategy: str = "auto"
) -> dict:
    from pgd_spark.operators.graphlets import (
        _closure,
        _edge_counts_broadcast,
        _macro_sums,
        _moments,
        _placement,
        edge_graphlet_counts,
        macro_counts,
        release_internal_caches,
    )

    if not (0 < fraction <= 1):
        raise ValueError("fraction in (0,1]")
    if fraction == 1.0:
        return macro_counts(g, strategy=strategy)

    denom = 1_000_003  # prime → near-uniform buckets
    limit = int(fraction * denom)

    # kernels run ONLY on the sampled edges (counts stay full-graph-
    # relative).  Both strategies apply the SAME portable hash to the
    # canonical endpoint pair, so they sample identical edge sets; the
    # estimator divides by the REALIZED inclusion rate (unbiased).
    if _placement(g, strategy) == "distributed":
        a = F.least("v", "u") % SAMPLE_MOD
        b = F.greatest("v", "u") % SAMPLE_MOD
        h = ((a * F.lit(SAMPLE_A1)) % SAMPLE_MOD + (b * F.lit(SAMPLE_A2)) % SAMPLE_MOD
             + F.lit(seed)) % SAMPLE_MOD
        keep = F.pmod(h, F.lit(denom)) < limit
        sampled = edge_graphlet_counts(g, strategy="distributed", edge_predicate=keep)
    else:
        sampled = _edge_counts_broadcast(g, sample=(denom, limit, seed))
    # read after the kernel pass: the broadcast census records both
    # sizes from its driver-side edge copy (no count job)
    n, m = g.num_vertices(), g.num_edges()
    # the moments read the sample once and count its edges: nothing to
    # persist, only the distributed census's two-hop base to release
    moments = _moments(sampled, n, m)
    release_internal_caches(sampled)
    scount = moments[0]
    if scount == 0:
        raise ValueError("sample empty — raise fraction")
    totals = _closure(n, m, _macro_sums(n, m, moments), scale=m / scount)
    totals["_sample_fraction"] = scount / m
    return totals
