"""Probes timed from outside the program on the census_dense full graph:
the kernel layers and the Arrow/pandas-UDF boundary, each by itself."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.workloads import CensusDense

COUNT_SCHEMA = "v long, u long, deg_v long, deg_u long, tri long, cliq long, cyc long"
LOOP_SAMPLE = 200


def _timed(fn, reps: int) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _oriented(indptr: np.ndarray, uniq: np.ndarray, edges: np.ndarray):
    """Dense (v, u) with (deg, id)(v) < (deg, id)(u), the census orientation."""
    deg = np.diff(indptr)
    s, d = np.searchsorted(uniq, edges[:, 0]), np.searchsorted(uniq, edges[:, 1])
    flip = (deg[d] < deg[s]) | ((deg[d] == deg[s]) & (d < s))
    return np.where(flip, d, s), np.where(flip, s, d), deg


def run(spark, seed: int, size: str) -> dict[str, float]:
    from pgd_spark.graph import Graph
    from pgd_spark.operators.ckernel import edge_counts_batch_c
    from pgd_spark.operators.graphlets import edge_graphlet_counts
    from pgd_spark.operators.kernels import build_csr, edge_counts_batch

    p = CensusDense.SIZES[size]
    edges = inputs.copurchase_pairs(inputs.lineitem(seed, p["orders"], p["parts"]))
    src, dst = edges[:, 0].copy(), edges[:, 1].copy()
    out: dict[str, float] = {}
    out["kernels.csr_build_s"], (uniq, indptr, indices) = _timed(lambda: build_csr(src, dst), 3)
    v, u, deg = _oriented(indptr, uniq, edges)
    n = len(uniq)
    out["ckernel.entries"] = int((deg[v] + deg[u]).sum())
    single, (tri, _, _) = _timed(lambda: edge_counts_batch_c(v, u, indptr, indices, n), 3)
    out["ckernel.single_thread_s"] = single
    out["ckernel.ns_per_entry"] = single * 1e9 / out["ckernel.entries"]
    pick = np.random.default_rng(seed).choice(len(v), min(LOOP_SAMPLE, len(v)), replace=False)
    loop_s, (loop_tri, _, _) = _timed(
        lambda: edge_counts_batch(v[pick], u[pick], indptr, indices, n), 3
    )
    if not np.array_equal(loop_tri, tri[pick]):
        raise RuntimeError("numpy loop kernel disagrees with the C kernel")
    out["kernels.loop_us_per_edge"] = loop_s * 1e6 / len(pick)

    # zero-work mapInPandas with the census's partition count and schema
    par = spark.sparkContext.defaultParallelism
    m = len(src)

    def nothing(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({c.split()[0]: pd.Series([], dtype="int64") for c in COUNT_SCHEMA.split(", ")})

    ids = spark.range(0, m, 1, min(4 * par, m))

    def passthrough():
        return ids.mapInPandas(nothing, schema=COUNT_SCHEMA).count()

    passthrough()
    out["kernels.udf_passthrough_s"], _ = _timed(passthrough, 2)

    g = Graph(spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst})), already_canonical=True)

    def census():
        return edge_graphlet_counts(g, strategy="broadcast").agg({"tri": "sum"}).first()[0]

    census()
    wall, tri_sum = _timed(census, 1)
    if tri_sum != int(tri.sum()):
        raise RuntimeError("broadcast census disagrees with the single-threaded kernel")
    out["graphlets.parallel_efficiency"] = single / (wall * par)
    g.unpersist()
    return out
