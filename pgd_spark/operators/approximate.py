"""Approximate (edge-sampled) graphlet census.

The reference README documents ``graphlet_approximation(frac)``
(README.md:290-307) but the snapshot only ships the sampled-edge
ordering plumbing (sort_edges overload, cpp:836-851).  We implement
the documented capability: run the exact per-edge kernels on a
deterministic Bernoulli sample of edges and scale the Σ-terms by 1/p
before the closure equations — an unbiased Horvitz-Thompson estimator
for every Σ-based total (n, m stay exact).

Sampling is hash-based and PORTABLE (affine maps of the canonical
endpoint pair mod 2^31-1 — the same arithmetic numpy, Catalyst, and
ANSI SQL all express exactly), so it is reproducible across runs,
partitions, and strategies, pushes down as a cheap filter (at 100 TB
this samples at the scan, not after a materialization), and the whole
estimator is oracle-checkable value-for-value in an independent SQL
engine.
"""

from __future__ import annotations

import math

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
    from pgd_spark.operators.graphlets import edge_graphlet_counts, macro_counts

    if not (0 < fraction <= 1):
        raise ValueError("fraction in (0,1]")
    if fraction == 1.0:
        return macro_counts(g, strategy=strategy)

    m = g.num_edges()
    denom = 1_000_003  # prime → near-uniform buckets
    limit = int(fraction * denom)

    from pgd_spark.operators.graphlets import _edge_counts_broadcast

    # kernels run ONLY on the sampled edges (counts stay full-graph-
    # relative).  Both strategies apply the SAME portable hash to the
    # canonical endpoint pair, so they sample identical edge sets; the
    # estimator divides by the REALIZED inclusion rate (unbiased).
    if strategy == "distributed" or (strategy == "auto" and m > 5_000_000):
        a = F.least("v", "u") % SAMPLE_MOD
        b = F.greatest("v", "u") % SAMPLE_MOD
        h = ((a * F.lit(SAMPLE_A1)) % SAMPLE_MOD + (b * F.lit(SAMPLE_A2)) % SAMPLE_MOD
             + F.lit(seed)) % SAMPLE_MOD
        keep = F.pmod(h, F.lit(denom)) < limit
        sampled = edge_graphlet_counts(g, strategy="distributed", edge_predicate=keep).persist()
    else:
        sampled = _edge_counts_broadcast(g, sample=(denom, limit, seed)).persist()
    scount = sampled.count()
    if scount == 0:
        raise ValueError("sample empty — raise fraction")
    # read after the kernel pass: the broadcast strategy records the
    # vertex count from its driver-side edge copy (no degrees shuffle)
    n = g.num_vertices()

    totals = _scaled_closure(g, sampled, n, m, scale=m / scount)
    totals["_sample_fraction"] = scount / m if m else 1.0
    return totals


def _scaled_closure(g: Graph, counts, n: int, m: int, scale: float) -> dict:
    """macro closure with every per-edge Σ multiplied by ``scale``."""
    from pgd_spark.operators.graphlets import macro_counts

    # reuse the exact machinery: aggregate the sample, then scale the
    # raw sums before closure by monkey-free parameterization — the
    # closure in macro_counts reads sums from the DataFrame, so we
    # scale columns up front (doubles; rounded to nearest int at the end).
    t = macro_counts(g, counts=counts)
    s = t["_nsums"]
    ks = t["_ksums"]  # exact raw kernel sums over the SAMPLED edges
    raw = {
        "s_tri": ks["t_tri"],
        "s_star": ks["t_star"],
        "s_disc": ks["t_disc"],
        "s_cliq": ks["t_cliq"],
        "s_cyc": ks["t_cyc"],
        **s,
    }
    # floor(x+0.5) (half-up), NOT Python round (half-even): the same
    # rounding is expressible verbatim in the SQL oracle
    rnd = lambda x: int(math.floor(x + 0.5))  # noqa: E731
    r = {k: v * scale for k, v in raw.items()}
    out: dict = {}
    out["total_2_1edge"] = m
    out["total_2_indep"] = n * (n - 1) // 2 - m
    out["total_3_tris"] = rnd(r["s_tri"] / 3)
    out["total_2_star"] = rnd(r["s_star"] / 2)
    out["total_3_1edge"] = rnd(r["s_disc"])
    out["total_3_indep"] = n * (n - 1) * (n - 2) // 6 - (
        out["total_3_tris"] + out["total_2_star"] + out["total_3_1edge"]
    )
    out["total_wedges"] = 3 * out["total_3_tris"] + out["total_2_star"]
    out["global_cc"] = (
        3 * out["total_3_tris"] / out["total_wedges"] if out["total_wedges"] else 0.0
    )
    out["total_4_clique"] = rnd(r["s_cliq"] / 6)
    out["total_4_chordcycle"] = rnd(r["n3"] - r["s_cliq"])
    out["total_4_cycle"] = rnd(r["s_cyc"] / 4)
    out["total_4_path"] = rnd(r["n5"] - r["s_cyc"])
    out["total_4_tailed_tris"] = rnd((r["n4"] - 4 * (r["n3"] - r["s_cliq"])) / 2)
    out["total_3_star"] = rnd((r["n6"] - out["total_4_tailed_tris"]) / 3)
    out["total_4_2edge"] = rnd(
        (
            r["n7"]
            - 6 * out["total_4_clique"]
            - 4 * out["total_4_cycle"]
            - 4 * out["total_4_chordcycle"]
            - 2 * out["total_4_path"]
            - 2 * out["total_4_tailed_tris"]
        )
        / 2
    )
    out["total_4_1edge"] = rnd(r["n8"] - 2 * out["total_4_2edge"])
    out["total_4_2star"] = rnd((r["n9"] - 2 * out["total_4_path"]) / 2)
    out["total_4_tri"] = rnd((r["n10"] - out["total_4_tailed_tris"]) / 3)
    k4 = [
        "total_4_clique", "total_4_chordcycle", "total_4_tailed_tris", "total_4_cycle",
        "total_3_star", "total_4_path", "total_4_1edge", "total_4_2edge",
        "total_4_2star", "total_4_tri",
    ]
    out["total_4_indep"] = n * (n - 1) * (n - 2) * (n - 3) // 24 - sum(out[x] for x in k4)
    return out
