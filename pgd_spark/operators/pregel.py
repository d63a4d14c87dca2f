"""Pregel-style iterative link-graph analytics as DataFrame loops.

These operators are required by the engine's charter but absent from
the reference library (which is a graphlet counter); semantics follow
the published algorithms and are oracle-tested against NetworkX /
pure-Python implementations.

Execution model: each iteration is one join + one aggregation on the
symmetrized edge table; lineage is cut every iteration either with
``localCheckpoint`` or — when a ``checkpoint_dir`` is given — with a
parquet state table keyed by (algo, iteration) so a killed run resumes
mid-algorithm (the Iceberg variant swaps the writer, same layout).
Per-iteration counter metrics (delta, active vertices, seconds) are
recorded and written alongside the state.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, Window, functions as F

from pgd_spark.graph import Graph

_aqe_lock = threading.RLock()
#: per-SparkSession re-entrancy state: id(session) -> [depth, saved].
#: Keyed by session (ADVICE r3) so two concurrent sessions each get AQE
#: suspended and restored against THEIR OWN saved value — module-global
#: depth let the inner session skip the disable and restore the other
#: session's value onto its own conf.  Entries are removed at depth 0,
#: so a dead session never pins stale state (id() reuse is then safe).
_aqe_state: dict[int, list] = {}


@contextmanager
def suspend_aqe(spark):
    """AQE off for the duration of an iterative loop: stage sizes are
    static (npart everywhere), AQE's coalescing breaks the agg→join
    co-partitioning that keeps iterations exchange-free, and its
    re-planning added ~4 s per materialization (measured on the 12M-edge
    scaling graph).  Skew inside these loops is handled structurally
    (map-side partial aggregation bounds any hot reduce key).

    Re-entrant per session: nested suspensions (e.g. kcore inside a
    caller's loop) restore the ORIGINAL value once the outermost exits;
    the counter is lock-guarded so overlapping loops on separate
    threads of one SparkSession can't restore a stale value, and the
    state is keyed by session so independent sessions don't interact.
    (The conf itself is session-global — a concurrent unrelated query
    on the SAME session still observes AQE off for the duration.)"""
    key = id(spark)
    with _aqe_lock:
        st = _aqe_state.get(key)
        if st is None:
            st = [0, spark.conf.get("spark.sql.adaptive.enabled", "true")]
            _aqe_state[key] = st
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        st[0] += 1
    try:
        yield
    finally:
        with _aqe_lock:
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set("spark.sql.adaptive.enabled", st[1])
                _aqe_state.pop(key, None)


def auto_npart(spark, work_rows: int, target_rows_per_part: int = 400_000) -> int:
    """Shuffle width for an iterative loop, sized to the per-round work
    volume instead of inherited from ``spark.sql.shuffle.partitions``.

    At web scale the session conf is the cap (a 10^11-entry adjacency
    wants every partition the cluster offers); on small graphs the conf
    width is pure per-task overhead — 20 stages × 32 near-empty tasks
    measured 3× slower than right-sized ones on a 20k-vertex graph.
    With AQE suspended inside the loops (see :func:`suspend_aqe`) this
    static sizing replaces AQE's runtime coalescing."""
    from pgd_spark.session import shuffle_width

    conf_npart = shuffle_width(spark)
    want = max(1, -(-work_rows // max(target_rows_per_part, 1)))
    return max(1, min(conf_npart, want))


@contextmanager
def pinned_shuffle(spark, npart: int):
    """Pin ``spark.sql.shuffle.partitions`` for a loop body so every
    groupBy lands on the SAME width as the loop's persisted tables —
    a width mismatch would re-exchange both join sides every round.
    Save/restore nests correctly (each level restores what it saw)."""
    was = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", str(npart))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)


# --------------------------------------------------------------- utilities
class IterationLog:
    def __init__(self):
        self.entries: list[dict] = []

    def add(self, **kw):
        self.entries.append(kw)


def _nonconverged(what: str, max_iter: int, resumable: bool) -> None:
    """max_iter exhaustion policy: RAISE when the result would silently
    be wrong (no durable state, caller gets a non-converged answer);
    WARN when a checkpoint_dir makes budgeted-run-then-resume the
    intended workflow."""
    msg = (
        f"{what} did not converge within max_iter={max_iter}; "
        "the returned labels are a non-converged snapshot"
    )
    if not resumable:
        raise RuntimeError(msg + " — raise max_iter")
    import warnings

    warnings.warn(msg + " (resume from the checkpoint to continue)", RuntimeWarning, stacklevel=3)


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None, algo: str, it: int,
                 log: IterationLog | None = None) -> DataFrame:
    """Materialize per-iteration state; a durable table (format via
    PGD_SPARK_TABLE_FORMAT — parquet/delta/iceberg, see plans.tables)
    when resumable, else localCheckpoint."""
    if checkpoint_dir:
        from pgd_spark.plans.tables import read_table, write_table

        path = os.path.join(checkpoint_dir, algo, f"iter={it:05d}")
        write_table(df, path)
        if log is not None:
            meta = os.path.join(checkpoint_dir, algo, "metrics.jsonl")
            os.makedirs(os.path.dirname(meta), exist_ok=True)
            with open(meta, "a") as f:
                f.write(json.dumps(log.entries[-1] if log.entries else {"iter": it}) + "\n")
        return read_table(df.sparkSession, path)
    return df.localCheckpoint(eager=True)


def _latest_checkpoint(spark, checkpoint_dir: str | None, algo: str):
    from pgd_spark.plans.tables import read_table, table_format

    if not checkpoint_dir:
        return None, -1
    base = os.path.join(checkpoint_dir, algo)
    if not os.path.isdir(base):
        return None, -1

    def _complete(d: str) -> bool:
        # completeness marker: parquet's _SUCCESS; delta/iceberg commit
        # atomically via their logs, so directory presence suffices
        if table_format() == "parquet":
            return os.path.exists(os.path.join(base, d, "_SUCCESS"))
        return True

    iters = sorted(
        int(d.split("=")[1])
        for d in os.listdir(base)
        if d.startswith("iter=") and _complete(d)
    )
    if not iters:
        return None, -1
    it = iters[-1]
    return read_table(spark, os.path.join(base, f"iter={it:05d}")), it


# ---------------------------------------------------------------- PageRank
def pagerank_prepare(g: Graph, chunk: int = 65536) -> DataFrame:
    """One-time iteration table for :func:`pagerank`: grouped adjacency
    [v, nbrs: array<long>, degree], persisted hash-partitioned on v.

    Grouped beats the flat 2m-row edge table measurably (~30% per
    iteration): the per-iteration join probes n array rows instead of
    2m flat rows, and the 2m neighbor entries stream through a single
    codegen'd explode instead of a cached-columnar scan.

    ``chunk`` bounds the array length per row: a celebrity vertex's
    adjacency is split over ceil(degree/chunk) rows (each keeps the
    full-vertex ``degree``), so no single task ever owns an unbounded
    hub array — the equi-join on v simply duplicates the rank onto each
    chunk row.  Chunking changes nothing numerically (the downstream
    groupBy re-sums all chunks' contributions).
    """
    # iteration width sized to the exploded contribution volume (2m
    # entries/round), capped by the session conf — see auto_npart
    npart = auto_npart(g.spark, 2 * g.num_edges())
    sym = g.symmetric()
    deg = g.degrees()
    adj = (
        sym.join(deg, "v")
        .withColumn("_b", F.pmod(F.xxhash64("w"), F.greatest(F.ceil(F.col("degree") / chunk), F.lit(1))))
        .groupBy("v", "_b")
        .agg(F.collect_list("w").alias("nbrs"), F.first("degree").alias("degree"))
        .select("v", "nbrs", "degree")
        .repartition(npart, "v")
        .persist()
    )
    adj.count()
    return adj


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    log: IterationLog | None = None,
    checkpoint_interval: int = 8,
    adj: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank on the undirected graph (each edge acts
    in both directions).  Matches networkx.pagerank semantics: start
    uniform 1/n, L1 error < n*tol stops.  Returns [v, rank] with
    Σrank = 1.

    Scale: each iteration is ONE shuffle — the ranks→adjacency join is
    zero-exchange (the grouped-adjacency table from
    :func:`pagerank_prepare` is persisted hash-partitioned on the join
    key and the previous iteration's agg leaves ranks partitioned on
    the same key), the 2m neighbor entries stream through a codegen'd
    explode, and only the map-side-combined contributions move in the
    groupBy.  Because the graph is symmetrized and simple, every vertex
    has degree ≥ 1, so every vertex RECEIVES a contribution row: no
    dangling mass, and no per-iteration reconciliation join against the
    vertex set.  Skew: hub SOURCE rows are chunked at prep; hub DST
    keys are bounded by the partial agg (a reducer sees at most npart
    pre-combined rows per hot key).

    Job economy (measured on the 12M-edge scaling graph): per-job fixed
    cost ~2.5 s and an AQE re-planning tax ~4 s per materialization
    dwarfed the ~1.3 s/iteration of actual CPU.  So iterations chain
    LAZILY and materialize only every ``checkpoint_interval`` iterations
    (or every iteration when ``checkpoint_dir`` makes per-iteration
    durability the point), and AQE is suspended inside the loop — the
    loop's stage sizes are known (npart everywhere), AQE's dynamic
    coalescing only breaks the co-partitioning that makes the join
    exchange-free, and skew is already handled by the partial agg.
    Convergence is detected at cut boundaries: the k-step L1 delta
    upper-bounds the single-step delta, so the loop never stops EARLIER
    than a per-iteration check would — it may run up to k-1 extra
    iterations past true convergence (documented overshoot).
    """
    from pgd_spark.session import num_partitions

    spark = g.spark
    n = g.num_vertices()
    if n == 0:
        return spark.createDataFrame([], "v long, rank double")
    deg = g.degrees()
    own_adj = adj is None
    with suspend_aqe(spark):
        if adj is None:
            adj = pagerank_prepare(g)
        log = log if log is not None else IterationLog()
        # every per-iteration groupBy must land on the adjacency
        # table's width or the join re-exchanges both sides each round
        with pinned_shuffle(spark, num_partitions(adj)):
            return _pagerank_loop(
                g, adj, own_adj, alpha, tol, max_iter, checkpoint_dir, log,
                checkpoint_interval, n, deg,
            )


def _pagerank_loop(
    g, adj, own_adj, alpha, tol, max_iter, checkpoint_dir, log,
    checkpoint_interval, n, deg,
):
    spark = g.spark
    try:
        ranks, start_it = _latest_checkpoint(spark, checkpoint_dir, "pagerank")
        if ranks is None:
            ranks = deg.select("v", F.lit(1.0 / n).alias("rank"))
            start_it = -1

        base = 1.0 - alpha
        # Chain depth trades per-job fixed cost against DRIVER-side
        # analysis, which is O(depth²) because every DataFrame op
        # re-analyzes the accumulated plan (measured: ~5 s of driver
        # CPU to build a 20-deep chain vs <0.5 s for 4×5-deep blocks).
        # The default interval sits at that measured sweet spot; tol=0
        # additionally skips all convergence arithmetic at cuts.
        k = max(checkpoint_interval, 1)
        prev_cut = ranks  # state at the last materialization (L1-delta base)
        converged = tol <= 0
        for it in range(start_it + 1, max_iter):
            t0 = time.time()
            # SHUFFLE_HASH on the RANKS side: the n-row rank vector is
            # the hash-build side; the adjacency rows stream through
            # the probe (building on the adjacency side would re-hash
            # it every iteration; sort-merge would re-sort it).
            contribs = (
                ranks.hint("SHUFFLE_HASH").join(adj, "v")
                .select(
                    F.explode("nbrs").alias("v"),
                    (F.col("rank") / F.col("degree")).alias("c"),
                )
                .groupBy("v")
                .agg(F.sum("c").alias("in_sum"))
            )
            new_ranks = contribs.select(
                "v", (F.lit(base / n) + F.lit(alpha) * F.col("in_sum")).alias("rank")
            )
            last = it == max_iter - 1
            cut = bool(checkpoint_dir) or last or (it - start_it) % k == k - 1
            err = None
            if cut:
                if tol > 0:
                    # fold the k-step L1 delta into the cut job: join
                    # the (materialized) previous cut lazily and read
                    # it back as an Observation metric — zero extra
                    # jobs per cut.  Both sides hash on v, so the
                    # join adds no exchange and the output keeps the
                    # v-partitioning the next iteration relies on.
                    obs = Observation()
                    new_ranks = (
                        new_ranks.join(prev_cut.withColumnRenamed("rank", "old"), "v")
                        .observe(obs, F.sum(F.abs(F.col("rank") - F.col("old"))).alias("e"))
                        .select("v", "rank")
                    )
                    new_ranks = _cut_lineage(new_ranks, checkpoint_dir, "pagerank", it, log)
                    err = float(obs.get["e"] or 0.0)
                else:
                    new_ranks = _cut_lineage(new_ranks, checkpoint_dir, "pagerank", it, log)
                prev_cut = new_ranks
            log.add(algo="pagerank", iter=it, l1_delta=err, seconds=time.time() - t0)
            ranks = new_ranks
            if err is not None and err < n * tol:
                converged = True
                break
        if not converged:
            import warnings

            warnings.warn(
                f"pagerank did not reach tol={tol} within max_iter={max_iter} "
                "(returning the last iterate)",
                RuntimeWarning,
                stacklevel=2,
            )
        return ranks
    finally:
        if own_adj:
            adj.unpersist()  # ranks is materialized; the iteration table can go


# ----------------------------------------------------- connected components
def connected_components(
    g: Graph,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    log: IterationLog | None = None,
    algorithm: str = "hashmin",
    check_interval: int = 3,
) -> DataFrame:
    """Connected components; [v, component] with component = min vertex
    id in the component (exact).

    ``hashmin``  — label(v) ← min(label(v), min over neighbors) to
    fixpoint; O(diameter) rounds, one join+agg each.  Right default for
    small-diameter social/transcript graphs.
    ``two_phase`` — alternating large-star/small-star contractions
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): O(log n) rounds regardless of diameter — the web-scale
    path for high-diameter graphs.

    Job economy: round 0 needs no exchange — from identity labels,
    min over N(v) ∪ {v} is ``array_min`` of v's own adjacency row — so
    it rides the first block on top of that block's rounds.  Each
    block chains ``check_interval`` rounds LAZILY into ONE Spark job
    (forced to 1 when ``checkpoint_dir`` makes per-round durability
    the point), and the fixpoint check rides the materializing action
    as an ``Observation`` metric on the LAST chained round's delta,
    taken inside that round's own aggregation: the self entry of
    N(v) ∪ {v} brings v's input label to v's reducer as ``prev``, so
    no join back to the block input is needed.  A fixpoint of hashmin stays fixed,
    so "last round changed nothing" ⇔ fixpoint regardless of where
    inside the block it was reached, and a graph that converges inside
    a block stops at that block's end — at most interval-1 no-op
    rounds past true convergence (cheap: they're chained, not jobs).

    Placement: after a broadcast census the driver already holds the
    graph's CSR (``g._census_state``), so without a ``checkpoint_dir``
    the same rounds run there in numpy (:func:`_cc_hashmin_driver`):
    same labels, same ``max_iter`` contract, no Spark job.
    """
    if algorithm == "two_phase":
        return _cc_two_phase(g, max_iter, checkpoint_dir, log)
    spark = g.spark
    log = log if log is not None else IterationLog()
    if g._census_state is not None and checkpoint_dir is None:
        return _cc_hashmin_driver(g, max_iter, log)

    # Grouped self-loop-augmented adjacency [v, nbrs ∪ {v}], persisted
    # hash-partitioned on v (r7, mirroring pagerank_prepare): one round
    # = join labels to n adjacency rows (ZERO-exchange — the previous
    # round's agg left labels partitioned on the same key and width) +
    # explode + partial-min'd groupBy, so only the map-side-combined
    # (v, component) mins cross the wire.  The r6 plan joined the flat
    # 2m+n edge table each round, re-shuffling both sides (2 exchanges
    # and ~55-120 CPU-s per bench run at sf0.1; this shape measures
    # less than half that).  The union keeps one row per vertex with v
    # prepended — min over N(v) ∪ {v}, one reference to the previous
    # iterate per round, so chained rounds compose into a linear plan.
    npart = auto_npart(spark, 2 * g.num_edges())
    with suspend_aqe(spark), pinned_shuffle(spark, npart):
        adj_plus = (
            g.adjacency()
            .select("v", F.concat(F.array("v"), "nbrs").alias("nbrs"))
            .repartition(npart, "v")
            .persist()
        )
        adj_plus.count()
        try:
            return _cc_hashmin_loop(
                g, adj_plus, max_iter, checkpoint_dir, log, check_interval
            )
        finally:
            adj_plus.unpersist()


def _cc_hashmin_driver(g: Graph, max_iter: int, log: IterationLog) -> DataFrame:
    """Hashmin over the census CSR on the driver, round for round the
    Spark loop: round 0 is the array_min start (min over N(v) ∪ {v}
    from identity labels), round r the same min over the previous
    labels, and the call converges iff a round with index <= max_iter-1
    changes nothing.  Dense ids are a monotonic relabel of the original
    ids (``uniq`` is sorted), so min-id labels equal the Spark path's.
    One log entry in the Spark loop's convention: ``iter`` is the last
    round's index, ``rounds`` the rounds after round 0."""
    import numpy as np

    from pgd_spark.graph import local_frame

    t0 = time.time()
    uniq, indptr, indices = g._census_state[:3]
    label = np.arange(len(uniq), dtype=np.int64)
    # every census vertex has an edge, so no CSR row is empty
    starts = indptr[:-1]
    it, changed = -1, None
    while changed != 0 and it < max_iter - 1:
        it += 1
        new = np.minimum(label, np.minimum.reduceat(label[indices], starts))
        changed = int(np.count_nonzero(new != label))
        label = new
    if it >= 0:
        log.add(
            algo="cc", iter=it, rounds=it, changed=changed,
            seconds=time.time() - t0, placement="driver",
        )
    if changed != 0:
        _nonconverged("connected_components(hashmin)", max_iter, False)
    return local_frame(g.spark, {"v": uniq, "component": uniq[label]})


def _cc_hashmin_loop(g, adj_plus, max_iter, checkpoint_dir, log, check_interval):
    spark = g.spark
    labels, start_it = _latest_checkpoint(spark, checkpoint_dir, "cc")
    k = 1 if checkpoint_dir else max(check_interval, 1)
    it = start_it + 1
    while it < max_iter:
        t0 = time.time()
        if labels is None:
            # round 0 from identity labels needs no exchange: min over
            # N(v) ∪ {v} is the row's own array_min, with the identity
            # label as `prev`.  It rides the first block on top of its
            # k rounds (alone when max_iter=1), derived from adj_plus so
            # the next round's join starts co-partitioned
            cur = adj_plus.select(
                "v", F.array_min("nbrs").alias("component"), F.col("v").alias("prev")
            )
            it += 1
        else:
            cur = labels
        kk = min(k, max_iter - it)
        for _ in range(kk):
            # SHUFFLE_HASH on the LABELS side: the n-row label vector
            # is the hash-build side; the adjacency rows stream through
            # the probe (same choice as pagerank).  Position 0 of
            # N(v) ∪ {v} is v itself, so the self entry carries v's
            # input label to its own reducer as `prev` — the block's
            # delta needs no join back to its input
            cur = (
                cur.select("v", "component").hint("SHUFFLE_HASH")
                .join(adj_plus, "v")
                .select(F.posexplode("nbrs").alias("pos", "v"), "component")
                .groupBy("v")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("pos") == 0, F.col("component"))).alias("prev"),
                )
            )
        obs = Observation()
        observed = cur.observe(
            obs, F.sum((F.col("component") != F.col("prev")).cast("long")).alias("changed")
        ).select("v", "component")
        labels = _cut_lineage(observed, checkpoint_dir, "cc", it + kk - 1, log)
        changed = int(obs.get["changed"] or 0)
        log.add(
            algo="cc", iter=it + kk - 1, rounds=kk, changed=changed,
            seconds=time.time() - t0,
        )
        it += kk
        if changed == 0:
            return labels
    # hashmin propagates min labels one hop per round: exhausting
    # max_iter on a graph with diameter > max_iter returns WRONG labels
    # — fail loudly (use algorithm="two_phase" for high-diameter graphs,
    # it converges in O(log n) rounds regardless of diameter).  With a
    # checkpoint_dir the budgeted-run-then-resume workflow is the
    # point, so warn instead: state is durable and a resume continues.
    _nonconverged("connected_components(hashmin)", max_iter, bool(checkpoint_dir))
    return labels


def _cc_two_phase(
    g: Graph,
    max_iter: int,
    checkpoint_dir: str | None,
    log: IterationLog | None,
) -> DataFrame:
    """Alternating large-star/small-star contractions (SoCC'14)."""
    spark = g.spark
    log = log if log is not None else IterationLog()
    verts = g.degrees().select("v")
    state, _it = _latest_checkpoint(spark, checkpoint_dir, "cc2")
    if state is not None:
        edges = state.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    else:
        edges = g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        edges = edges.localCheckpoint(eager=True)

    def checksum(e: DataFrame):
        row = e.agg(
            F.count("*").alias("c"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["c"], row["h"])

    prev = checksum(edges)
    for it in range(max_iter):
        t0 = time.time()
        sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("x"), F.least(F.col("u"), F.col("mn")).alias("y")
            )
        )
        e1 = (
            ls.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
        )
        # small-star: per node u, the smaller neighbors ∪ {u} all link
        # to their minimum
        low = e1.select(F.col("b").alias("u"), F.col("a").alias("v"))
        lmin = low.groupBy("u").agg(F.min("v").alias("mn"))
        ss_members = low.unionAll(lmin.select(F.col("u"), F.col("u").alias("v")))
        ss = (
            ss_members.join(lmin, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("x"), F.col("mn").alias("y"))
        )
        e2 = (
            ss.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
        )
        e2 = _cut_lineage(
            e2.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            checkpoint_dir,
            "cc2",
            it,
            log,
        ).select(F.col("src").alias("a"), F.col("dst").alias("b"))
        cur = checksum(e2)
        log.add(algo="cc_two_phase", iter=it, edges=int(cur[0]), seconds=time.time() - t0)
        converged = cur == prev
        edges = e2
        prev = cur
        if converged:
            break
    else:
        _nonconverged("connected_components(two_phase)", max_iter, bool(checkpoint_dir))
    # star forest: b is the child side after small-star? edges are
    # canonical (a<b) with a = root candidate; component = min side.
    labels = edges.select(F.col("b").alias("v"), F.col("a").alias("component"))
    out = (
        verts.join(labels, "v", "left")
        .select("v", F.coalesce("component", "v").alias("component"))
    )
    return out


# --------------------------------------------------------- label propagation
def label_propagation(
    g: Graph,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    log: IterationLog | None = None,
    check_interval: int = 3,
) -> DataFrame:
    """Synchronous LPA, fully deterministic: every vertex adopts the
    most frequent label among its neighbors; ties break to the SMALLEST
    label.  Fixed-round (max_iter) with early stop on fixpoint.
    Returns [v, label].

    Unlike CC/kcore, finishing all max_iter rounds is NOT an error:
    synchronous LPA can 2-cycle on bipartite-ish structure, so the
    fixed round count IS the semantic (the standard practice) — the
    result is "labels after max_iter rounds", deterministic either way.

    Job economy mirrors :func:`connected_components`: chained rounds +
    an Observation on the LAST round's delta.  Early stop only on a
    PROVEN fixpoint (zero last-round delta — a fixpoint of the
    deterministic sync update stays fixed, so skipping the remaining
    rounds returns exactly the round-max_iter labels; an oscillation
    never shows a zero last-round delta and runs the full budget).
    """
    spark = g.spark
    edges = g.symmetric()
    log = log if log is not None else IterationLog()

    labels, start_it = _latest_checkpoint(spark, checkpoint_dir, "lpa")
    if labels is None:
        labels = g.degrees().select("v", F.col("v").alias("label"))
        start_it = -1

    k = 1 if checkpoint_dir else max(check_interval, 1)
    it = start_it + 1
    with suspend_aqe(spark):
        while it < max_iter:
            t0 = time.time()
            kk = min(k, max_iter - it)
            cur = labels
            prev_iterate = labels
            for _ in range(kk):
                # one round = ONE reference to the previous iterate
                # (linear chaining; see connected_components).  Every
                # vertex has degree ≥ 1 by construction (vertices are
                # defined by the edge set), so the vote agg reaches all
                # of them — no keep-own-label reconciliation join.
                votes = (
                    cur.select("v", "label").join(edges, "v")
                    .groupBy(F.col("w").alias("v"), "label")
                    .agg(F.count("*").alias("cnt"))
                )
                w_best = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("label").asc())
                prev_iterate = cur
                cur = (
                    votes.withColumn("rn", F.row_number().over(w_best))
                    .filter(F.col("rn") == 1)
                    .select("v", "label")
                )
            # genuine LAST-round delta (a block-start compare would
            # mistake a period-dividing-kk oscillation for a fixpoint):
            # referencing the second-to-last iterate twice costs one
            # extra chain execution in total — still linear.
            obs = Observation()
            observed = cur.join(
                prev_iterate.select("v", F.col("label").alias("prev")), "v"
            ).observe(
                obs, F.sum((F.col("label") != F.col("prev")).cast("long")).alias("changed")
            ).select("v", "label")
            labels = _cut_lineage(observed, checkpoint_dir, "lpa", it + kk - 1, log)
            changed = int(obs.get["changed"] or 0)
            log.add(
                algo="lpa", iter=it + kk - 1, rounds=kk, changed=changed,
                seconds=time.time() - t0,
            )
            it += kk
            if changed == 0:
                break
    return labels


# ------------------------------------------------------------ triangle count
def triangle_count_per_vertex(g: Graph, counts: DataFrame | None = None) -> DataFrame:
    """[v, triangles] — per-vertex triangle participation, derived from
    the per-edge kernel: each triangle at vertex a lies on exactly two
    of a's incident edges, so tri(a) = Σ_{e∋a} tri_e / 2."""
    from pgd_spark.operators.graphlets import _carry_caches, edge_graphlet_counts

    c = counts if counts is not None else edge_graphlet_counts(g)
    per_end = c.select(F.col("v").alias("x"), "tri").unionAll(c.select(F.col("u").alias("x"), "tri"))
    out = (
        per_end.groupBy(F.col("x").alias("v"))
        .agg(F.shiftright(F.sum("tri"), 1).alias("triangles"))
    )
    # vertices with no incident triangle-bearing edges still appear (0)
    out = g.degrees().select("v").join(out, "v", "left").fillna(0, subset=["triangles"])
    return out if counts is not None else _carry_caches(out, c)
