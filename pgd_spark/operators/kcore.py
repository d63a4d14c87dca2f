"""k-core decomposition (coreness per vertex).

The reference peels with a sequential bucket sort
(graphlet_core.cpp:958-1018) — inherently serial.  The distributed
equivalent here is the h-index fixpoint iteration (Lü-Chen-Ren-Zhang
2016, "Vital nodes identification in complex networks"; also Montresor
et al. 2013 distributed k-core): start c(v)=deg(v) and repeatedly set

    c(v) ← H({c(u) : u ∈ N(v)})

where H is the h-index (largest k such that ≥k neighbors have value
≥k).  The sequence is non-increasing and converges exactly to the core
number.  Each round is one shuffle; H is computed with a window (no
Python): with neighbor values sorted desc and row-numbered,
H = max(min(rank, value)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pgd_spark.graph import Graph


def kcore(
    g: Graph,
    max_iter: int = 100,
    check_interval: int = 3,
    checkpoint_dir: str | None = None,
    log=None,
) -> DataFrame:
    """[v, core] — exact coreness. Also usable as the `kcore` edge-
    ordering feature for parity with the reference orderings.

    Job economy (same pattern as pregel.connected_components):
    ``check_interval`` rounds chain lazily into one job, and the
    fixpoint check is an Observation metric on the BLOCK's delta: the
    last chained round's output joined back against the block's input.
    The h-index iterate is non-increasing, so a zero block delta means
    no round in the block changed anything — the block's input was
    already the fixpoint.  A graph that converges inside a block is
    therefore confirmed by one more block.

    ``checkpoint_dir`` gives kcore the same durable resume its pregel
    siblings have: each block's state lands in a (format-indirected)
    table keyed by cumulative round, a killed run resumes from the
    latest complete block, and max_iter exhaustion downgrades to a
    resumable warning.  Resume is exact: the h-index fixpoint is
    determined by the current iterate alone (memoryless), so iterating
    onward from a checkpoint equals the uninterrupted run.
    """
    import time

    from pyspark.sql import Observation

    from pgd_spark.operators.pregel import _cut_lineage, _latest_checkpoint, _nonconverged, suspend_aqe

    edges = g.symmetric()
    labels, start_it = _latest_checkpoint(g.spark, checkpoint_dir, "kcore")
    if labels is None:
        labels = g.degrees().select("v", F.col("degree").cast("long").alias("core"))
        labels = labels.localCheckpoint(eager=True)
        start_it = 0
    converged = False
    k = max(check_interval, 1)
    it = start_it
    with suspend_aqe(g.spark):
        while it < max_iter:
            kk = min(k, max_iter - it)
            t0 = time.time()
            cur = labels
            for _ in range(kk):
                # one round = ONE reference to the previous iterate
                # (linear chaining — see pregel.connected_components).
                # From degree init the h-index iterate is pointwise
                # non-increasing (h_1(v) = H of deg(v) values ≤ deg(v);
                # H is monotone in its multiset), so the explicit
                # min-with-own-core is redundant; and every vertex has
                # degree ≥ 1, so the agg reaches all of them.
                nbr_vals = (
                    cur.select("v", "core").join(edges, "v")
                    .select(F.col("w").alias("v"), F.col("core").alias("nbr_core"))
                )
                w = Window.partitionBy("v").orderBy(F.col("nbr_core").desc())
                cur = (
                    nbr_vals.withColumn("rn", F.row_number().over(w))
                    .withColumn("hterm", F.least(F.col("rn").cast("long"), F.col("nbr_core")))
                    .groupBy("v")
                    .agg(F.max("hterm").alias("core"))
                )
            # monotone ⇒ block-start compare detects the fixpoint
            obs = Observation()
            observed = cur.join(
                labels.select("v", F.col("core").alias("prev")), "v"
            ).observe(
                obs, F.sum((F.col("core") != F.col("prev")).cast("long")).alias("changed")
            ).select("v", "core")
            it += kk
            labels = _cut_lineage(observed, checkpoint_dir, "kcore", it, log)
            changed = int(obs.get["changed"] or 0)
            if log is not None:
                # same convention as pagerank: the entry lands after its
                # block's cut (metrics.jsonl trails by one block)
                log.add(
                    algo="kcore", iter=it, rounds=kk, changed=changed,
                    seconds=round(time.time() - t0, 3),
                )
            if changed == 0:
                converged = True
                break
    if not converged:
        # the h-index wavefront advances one hop per round: exhausting
        # max_iter on a high-diameter graph returns cores that are
        # upper bounds, not the true coreness — loud by default,
        # resumable warning when a checkpoint_dir is given
        _nonconverged("kcore", max_iter, resumable=bool(checkpoint_dir))
    return labels


def max_core(g: Graph) -> int:
    return kcore(g).agg(F.max("core")).first()[0]


def degeneracy_order(g: Graph) -> DataFrame:
    """[v, core, order] — vertices ordered by (core, degree, id); a
    deterministic stand-in for the reference's peel order
    (kcore_order, graphlet_core.h:608-611) used only as an edge-
    scheduling feature, never affecting results."""
    deg = g.degrees()
    kc = kcore(g)
    w = Window.orderBy(F.col("core").asc(), F.col("degree").asc(), F.col("v").asc())
    return kc.join(deg, "v").withColumn("order", F.row_number().over(w))
