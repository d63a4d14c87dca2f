"""Exact 3/4-node graphlet decomposition (macro + micro) on Spark.

Semantics match the reference macro/micro loops exactly
(graphlet_core.cpp:1366-1474 macro, 1483-1623 micro):

* per edge e=(v,u), oriented so deg(v) <= deg(u):
    tri  = |N(v) ∩ N(u)|                                  (triangle nodes)
    cliq = #adjacent unordered pairs within the triangle-node set
           = #4-cliques containing e
    cyc  = #adjacent pairs (w, x), w ∈ N(u)\\N(v)\\{v},
           x ∈ N(v)\\N(u)\\{u}  = #induced 4-cycles containing e
* everything else is O(1) combinatorial closure
  (solve_graphlet_equations, cpp:1326-1364; totals cpp:1449-1472).

Two physical strategies (like the reference's dense-adjacency vs CSR
split at cpp:602-611):

* ``broadcast``   — graph fits comfortably in the driver: collect the
  canonical edges once per Graph, build the degree-oriented CSR there,
  and run the compiled mark-array kernel (the numpy loop without a C
  toolchain) on driver threads, PGD's own shared-memory loop.  The
  per-edge rows go to Spark as one local DataFrame: no Python worker,
  no shuffle.
* ``distributed`` — pure Catalyst plan: adjacency-array joins +
  ``array_intersect`` for triangles; explode-and-join second hops for
  cliques and cycles.  Everything stays JVM-side (no Python), shuffles
  hash on vertex keys, AQE handles residual skew, and the degree
  orientation bounds exploded fan-out by the smaller endpoint degree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from pgd_spark.graph import Graph

# columns produced by both kernel strategies
EDGE_COUNT_COLS = ["v", "u", "deg_v", "deg_u", "tri", "cliq", "cyc"]

_DEC = "decimal(38,0)"

#: ``auto`` runs the broadcast census up to this many edges
_BROADCAST_MAX_EDGES = 5_000_000


def edge_graphlet_counts(
    g: Graph,
    strategy: str = "auto",
    broadcast_max_edges: int = _BROADCAST_MAX_EDGES,
    edge_predicate=None,
    distributed_hot_threshold: int | None = None,
    max_exact_degree: int = 20_000_000,
) -> DataFrame:
    """Per-edge raw kernel counts [v,u,deg_v,deg_u,tri,cliq,cyc].

    ``auto`` picks broadcast when the graph has at most
    ``broadcast_max_edges`` edges (the common case for anything that
    fits PGD itself), else the fully distributed Catalyst plan.

    ``edge_predicate`` (Column over v/u/deg_v/deg_u) restricts which
    edges get kernel passes — counts stay relative to the FULL graph
    (used by the edge-sampled approximate census).
    """
    if _placement(g, strategy, broadcast_max_edges) == "broadcast":
        return _edge_counts_broadcast(g, edge_predicate)
    return _edge_counts_distributed(
        g,
        edge_predicate,
        hot_degree_threshold=distributed_hot_threshold,
        max_exact_degree=max_exact_degree,
    )


def _placement(g: Graph, strategy: str, broadcast_max_edges: int = _BROADCAST_MAX_EDGES) -> str:
    """The census strategy that ``strategy`` names (``auto`` resolved by
    the graph's edge count)."""
    if strategy == "auto":
        return "broadcast" if g.num_edges() <= broadcast_max_edges else "distributed"
    if strategy not in ("broadcast", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    return strategy


# ---------------------------------------------------------------- broadcast
def _edge_counts_broadcast(
    g: Graph,
    edge_predicate=None,
    sample: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Driver placement: collect the canonical edges once per Graph, run
    the C kernel on driver threads, hand the per-edge rows to Spark.

    ``sample`` = (denom, limit, seed) keeps only the edges the
    approximate census's portable hash selects (approximate.sample_mask)
    before any kernel work.

    Without an ``edge_predicate`` the output frame carries the census
    moments (:func:`_driver_moments`) as ``_pgd_macro_moments``, so
    macro_counts over it launches no aggregation.  ``persist()`` returns
    the same frame, so the tag survives it; any derived frame has none."""
    import numpy as np

    from pgd_spark.graph import local_frame
    from pgd_spark.operators.kernels import _oriented_state, count_edges

    if g._census_state is None:
        edges = g.edges.select("src", "dst").toArrow()
        src = edges["src"].to_numpy().astype(np.int64, copy=False)
        dst = edges["dst"].to_numpy().astype(np.int64, copy=False)
        del edges
        g._census_state = _oriented_state(src, dst)
        # the driver holds every canonical edge, so the graph sizes are
        # free here: later num_vertices()/num_edges() calls (macro
        # closure, CC's shuffle width) then launch no degrees shuffle or
        # count job
        g._m = len(src)
        g._n = len(g._census_state[0])
    uniq, indptr, indices, v, u, deg = g._census_state
    if sample is not None:
        from pgd_spark.operators.approximate import sample_mask

        keep = sample_mask(uniq[v], uniq[u], *sample)
        v, u = v[keep], u[keep]
    par = g.spark.sparkContext.defaultParallelism
    tri, cliq, cyc = count_edges(v, u, indptr, indices, len(uniq), threads=par)
    dv, du = deg[v], deg[u]
    cols = [uniq[v], uniq[u], dv, du, tri, cliq, cyc]
    out = local_frame(g.spark, dict(zip(EDGE_COUNT_COLS, cols)))
    if edge_predicate is not None:
        # generic Column predicates evaluate on the kernel OUTPUT --
        # pass `sample` instead when the point is to skip kernel work
        return out.filter(edge_predicate)
    n, m = g._n, g._m
    if n * n * m < _LONG_SUMS_BOUND:
        out._pgd_macro_moments = (n, m, _driver_moments(dv, du, tri, cliq, cyc))
    return out


# -------------------------------------------------------------- distributed
def _hot_threshold(m: int, n: int) -> int:
    # a healthy multiple of the average degree — hot enough to catch
    # celebrity vertices, low enough that the cold intersect cost per
    # row stays bounded (the old 2m/npart default never fired: a
    # 15k-degree vertex stayed "cold" and one reducer ran 20+ min)
    return max(256, int(8 * (2.0 * m / n)))


class _TwoHop:
    """The one distributed two-hop plan, shared by the census and the
    corrected-tailed pass: physical sizing, the edge-key probe side,
    the hot-vertex set, the ``ori ⋈ N(v) ⋈ N(u)`` base join and the
    hot/cold pair-hit split.

    Two physical regimes per lookup side (edge keys, adjacency):
    BROADCAST while it fits an executor (the pair/wedge streams then
    never leave their mappers and partial aggs collapse in-pipeline);
    SHUFFLE_HASH beyond (sort-merge would sort the m-row edge stream
    for no benefit).  Budgets derive from the session's broadcast
    threshold (the knob admins size to executor memory), charging
    HashedRelation all-in costs — ~48 B/row overhead + payload, ~64
    B/edge for edge keys — rather than raw payload bytes (ADVICE r2).
    The adjacency side (n rows, 2m array entries) pays off
    structurally, not just as a cheaper join: with map-side adjacency
    joins the downstream tables keep a balanced (v,u) partitioning — a
    SHUFFLE_HASH join on u would place EVERY edge of a hub u (each
    carrying the hub's full array) in ONE partition."""

    def __init__(self, g: Graph, hot_threshold: int | None = None):
        from pgd_spark.session import broadcast_budget, shuffle_width

        self.npart = shuffle_width(g.spark)
        m = g.num_edges()
        n = max(g.num_vertices(), 1)
        bcast_bytes = broadcast_budget(g.spark)
        self.small_adj = 48 * n + 16 * 2 * m <= bcast_bytes
        self.adj = g.adjacency()
        ekeys = g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        self.ekeys = F.broadcast(ekeys) if m * 64 <= bcast_bytes else ekeys.hint("SHUFFLE_HASH")
        thr = _hot_threshold(m, n) if hot_threshold is None else hot_threshold
        hot = g.degrees().filter(F.col("degree") > thr).select(F.col("v").alias("x"))
        self.hot = F.broadcast(hot)

    def _nbrs(self, key: str, arr: str) -> DataFrame:
        df = self.adj.select(F.col("v").alias(key), F.col("nbrs").alias(arr))
        return F.broadcast(df) if self.small_adj else df.hint("SHUFFLE_HASH")

    def join(self, ori: DataFrame) -> DataFrame:
        """``ori ⋈ N(v) ⋈ N(u)``: ori's columns, ``nv``/``nu``, and the
        wedge sets ``wu`` = N(u)\\{v}\\N(v) (wedge nodes centered at u,
        marks==2) and ``wv`` = N(v)\\{u}\\N(u) (the marks==1 side
        scanned by the cycle kernel)."""
        if self.small_adj:
            ori = ori.repartition(self.npart, "v", "u")
        return (
            ori.join(self._nbrs("_v", "nv"), F.col("v") == F.col("_v"))
            .drop("_v")
            .join(self._nbrs("_u", "nu"), F.col("u") == F.col("_u"))
            .drop("_u")
            .select(
                "*",
                F.array_except(F.array_remove("nu", F.col("v")), "nv").alias("wu"),
                F.array_except(F.array_remove("nv", F.col("u")), "nu").alias("wv"),
            )
        )

    def spread(self, df: DataFrame) -> DataFrame:
        """Broadcast regime: the rows inherited the balanced (v,u)
        partitioning.  SHUFFLE_HASH regime: the u-keyed join clustered
        hub edges — spread them (pays the hub-partition read once, then
        every explode downstream is balanced)."""
        return df if self.small_adj else df.repartition(self.npart, "v", "u")

    def pair_hits(self, rows: DataFrame) -> DataFrame:
        """rows [v, u, x, s] → [v, u, hits] with Σ hits = Σ |N(x) ∩ s|
        per (v,u): the one operation behind the 4-cycle count (x ∈ W_v,
        s = W_u) and the tailed count (x ∈ s, s = W_u or W_v, each
        unordered pair met twice).  x ∉ N(x), and a (x, x) key never
        matches a canonical src < dst edge key, so x ∈ s adds no hit.

        Each x contributes its own row's hits, so splitting the rows by
        x's degree keeps the total exact.  COLD x: join x's adjacency,
        array_intersect with the carried s — array-native intersection,
        ~10x cheaper per element than exploded rows, and the x-keyed
        shuffle is balanced because the threshold bounds both the
        per-row cost AND any one x's total weight.  HOT x (celebrity
        vertices): explode (w, x) ∈ s × {x} and probe the edge keys —
        O(|s|) per row on near-uniform keys, immune to hub degree.
        Routing EVERYTHING through pair enumeration was tried and is
        balanced but ~10x slower: the pair stream on a 2M-edge skew-1.5
        graph is 10^10 rows, almost all probe misses that the sorted
        intersect rejects at array speed."""
        cold = (
            rows.join(self.hot, "x", "left_anti")
            .join(self._nbrs("x", "nx"), "x")
            .select("v", "u", F.size(F.array_intersect("nx", "s")).cast("long").alias("hits"))
        )
        hot = (
            rows.join(self.hot, "x", "left_semi")
            .select("v", "u", "x", F.explode("s").alias("w"))
            .select("v", "u", F.least("w", "x").alias("a"), F.greatest("w", "x").alias("b"))
            .join(self.ekeys, ["a", "b"])
            .select("v", "u", F.lit(1).cast("long").alias("hits"))
        )
        return cold.unionByName(hot)


def _edge_counts_distributed(
    g: Graph,
    edge_predicate=None,
    hot_degree_threshold: int | None = None,
    max_exact_degree: int = 20_000_000,
) -> DataFrame:
    """Pure-Catalyst per-edge kernel, skew-defended for web-scale runs.

    * triangles: adjacency-array joins + array_intersect (degree
      orientation bounds the carried small-side arrays).
    * 4-cliques: TRIANGLE-PAIR ENUMERATION — explode the unordered
      pairs within each edge's triangle-node set, probe the edge-key
      set.  Keys are edge keys (near-uniform): no hot reducer.
    * 4-cycles: wedge rows (v,u,x∈W_v) — the SMALLER wedge set under
      degree orientation (|W_v| ≤ |W_u| always; same gather choice as
      the numpy kernel) — counted by :meth:`_TwoHop.pair_hits` against
      the carried W_u, split by the far vertex's degree
      (``hot_degree_threshold``, default :func:`_hot_threshold`).

    Lookup sides are sized by :class:`_TwoHop`.

    Hub feasibility gate (replaces r2's documented-only limit): the
    BASE adjacency join carries one array row per vertex, so a vertex
    of degree d is a ~8d-byte row.  Chunking those rows (pagerank-style)
    is NOT sound here — 4-clique counting explodes unordered pairs
    within each edge's triangle-node set, and pairs that straddle two
    chunks of a split array would be silently lost.  It is also
    unnecessary: exact census work is Θ(Σ_e deg(smaller endpoint)), so
    a degree-d hub alone costs Θ(d²) wedge visits — at the d ≈ 10^8
    where a row would break (~800 MB), the work is ~10^16 visits,
    infeasible for ANY exact engine (the reference's shared-memory CSR
    included).  The row-size wall is therefore strictly BEHIND the
    compute wall; we gate on the compute wall explicitly
    (``max_exact_degree``) with an actionable error instead of letting
    a quadratic-runtime job look like an engine row-size bug.
    """
    maxdeg = g.max_degree()
    if maxdeg > max_exact_degree:
        raise ValueError(
            f"max degree {maxdeg:,} exceeds the exact-census feasibility "
            f"gate ({max_exact_degree:,}): a hub of degree d costs Θ(d²) "
            "wedge visits in ANY exact 3/4-graphlet engine. Use "
            "pgd_spark.operators.approximate_macro_counts (edge-sampled "
            "Horvitz-Thompson totals), or restrict the pass with "
            "edge_predicate, or raise max_exact_degree deliberately."
        )

    ori = g.oriented()
    if edge_predicate is not None:
        ori = ori.filter(edge_predicate)
    hop = _TwoHop(g, hot_degree_threshold)
    base = (
        hop.join(ori)
        .select(
            "v",
            "u",
            "deg_v",
            "deg_u",
            F.array_intersect("nv", "nu").alias("tri_arr"),
            "wu",
            "wv",
        )
        .withColumn("tri", F.size("tri_arr").cast("long"))
        # null out arrays no downstream branch reads before persisting:
        # tri_arr only feeds the clique pair-explode (tri >= 2), wu/wv
        # only feed the cycle paths when BOTH are non-empty — on sparse
        # graphs that drops most of the cached array volume (the 5M-edge
        # skew-1.5 proof graph carries ~10^9 array entries otherwise)
        .select(
            "v",
            "u",
            "deg_v",
            "deg_u",
            "tri",
            F.when(F.col("tri") >= 2, F.col("tri_arr")).alias("tri_arr"),
            F.when((F.size("wu") > 0) & (F.size("wv") > 0), F.col("wu")).alias("wu"),
            F.when((F.size("wu") > 0) & (F.size("wv") > 0), F.col("wv")).alias("wv"),
        )
    )
    base = base.persist()
    spread = hop.spread(base)

    # 4-cliques: unordered pairs within the triangle-node set that are
    # themselves edges.  tri_arr is sorted (array_intersect of sorted
    # inputs), so a < b pairs match canonical (src < dst) edge keys.
    cliq = (
        spread.filter(F.col("tri") >= 2)
        .select("v", "u", F.explode("tri_arr").alias("a"), F.col("tri_arr"))
        .select("v", "u", "a", F.explode("tri_arr").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .join(hop.ekeys, ["a", "b"])
        .groupBy("v", "u")
        .agg(F.count("*").cast("long").alias("cliq"))
    )

    # 4-cycles: EXPLODE THE Wv SIDE: degree orientation (deg_v ≤ deg_u)
    # makes |Wv| = deg_v−tri−1 ≤ |Wu| unconditionally, so enumerating
    # x ∈ Wv and intersecting N(x) with the carried Wu array is the
    # cheaper gather — the same choice the numpy kernel makes per edge
    # (kernels.edge_counts_batch); the r2 plan exploded Wu and its
    # intersect stage alone was half the 5M-edge proof wall time.  The
    # carried array is now the bigger Wu, but in the broadcast-adjacency
    # regime wedge rows never cross a shuffle (map-side join), and in
    # the SHUFFLE_HASH regime only the x-keyed repartition moves them
    # once.
    wedge_rows = spread.filter((F.size("wu") > 0) & (F.size("wv") > 0)).select(
        "v", "u", F.col("wu").alias("s"), F.explode("wv").alias("x")
    )
    cyc = hop.pair_hits(wedge_rows).groupBy("v", "u").agg(F.sum("hits").cast("long").alias("cyc"))

    out = (
        base.select("v", "u", "deg_v", "deg_u", "tri")
        .join(cliq, ["v", "u"], "left")
        .join(cyc, ["v", "u"], "left")
        .fillna(0, subset=["cliq", "cyc"])
    )
    # the persisted two-hop base must outlive this (lazy) frame — tag it
    # so terminal consumers can release it (release_internal_caches);
    # eagerly materializing `out` here instead would force the m-row
    # per-edge table onto executor storage even for totals-only callers
    out._pgd_internal_caches = [base]
    return out


def release_internal_caches(counts: DataFrame) -> None:
    """Unpersist lookup tables :func:`edge_graphlet_counts` persisted
    while building ``counts`` (the distributed strategy persists its
    two-hop base).  Call once the frame's consumers are done; a no-op
    for the broadcast strategy or frames derived by further transforms
    (best-effort hygiene, never required for correctness).  Operators
    that build the counts themselves (micro_counts,
    vertex_micro_counts, triangle_count_per_vertex) carry the tag onto
    their output, so it releases the same way."""
    for c in getattr(counts, "_pgd_internal_caches", []):
        c.unpersist()


def _carry_caches(out: DataFrame, counts: DataFrame) -> DataFrame:
    """Tags ``out``, derived from an operator-built ``counts`` frame,
    with the caches :func:`release_internal_caches` releases for it."""
    out._pgd_internal_caches = getattr(counts, "_pgd_internal_caches", [])
    return out


# ------------------------------------------------------------------- micro
def _pairs(x: Column) -> Column:
    """C(x, 2) of a non-negative long column in long arithmetic: x(x-1)
    is even, so halving it is a shift (a double ``Divide`` rounds past
    2^53)."""
    return F.shiftright(x * (x - 1), 1)


def micro_counts(
    g: Graph,
    strategy: str = "auto",
    pgd_quirk: bool = True,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-edge micro graphlet counts, reference output semantics.

    Columns mirror the reference micro CSV header
    (graphlet_core.cpp:1676-1684): src, dst, triangle, two_star,
    clique4, chordal_cycle4, tailed_tri4, cycle4, star3, path4.

    ``pgd_quirk=True`` reproduces the reference exactly: the
    ``local_4_tailed_tris`` vector is never assigned in the snapshot
    (resized cpp:1501, read cpp:1541/1575/1698) so ``tailed_tri4`` is
    always 0 and ``star3`` does not subtract it.  ``pgd_quirk=False``
    computes the corrected value: #induced tailed-triangles in which e
    is the tail edge (adjacent pairs within W_u plus within W_v — the
    unwired cycle_micro kernel, cpp:1193-1204, from both endpoints).
    """
    c = census = counts if counts is not None else edge_graphlet_counts(g, strategy)
    tri, dv, du = F.col("tri"), F.col("deg_v"), F.col("deg_u")
    rv = dv - tri - 1  # 2-star ends at v
    ru = du - tri - 1
    tailed = F.lit(0).cast("long")
    if not pgd_quirk:
        tailed = F.col("tailed_raw")
        c = _with_tailed_raw(g, c)
    out = c.select(
        F.least("v", "u").alias("src"),
        F.greatest("v", "u").alias("dst"),
        tri.alias("triangle"),
        (rv + ru).cast("long").alias("two_star"),
        F.col("cliq").alias("clique4"),
        (_pairs(tri) - F.col("cliq")).alias("chordal_cycle4"),
        tailed.alias("tailed_tri4"),
        F.col("cyc").alias("cycle4"),
        (_pairs(rv) + _pairs(ru) - tailed).alias("star3"),
        (rv * ru - F.col("cyc")).cast("long").alias("path4"),
    )
    return out if counts is not None else _carry_caches(out, census)


def _with_tailed_raw(g: Graph, counts: DataFrame) -> DataFrame:
    """Adds ``tailed_raw``: adjacent pairs within W_u + within W_v
    (the corrected per-edge tailed-triangle count; e as tail edge).

    One stream of rows (v, u, x ∈ s, s) over both wedge sets of the
    census's two-hop plan (:class:`_TwoHop`), counted by its 4-cycles'
    hot/cold pair-hit split: Σ_x |N(x) ∩ s| meets each adjacent pair
    in s twice, so the halved sum is the count."""
    hop = _TwoHop(g)
    base = hop.spread(hop.join(g.oriented().select("v", "u")).select("v", "u", "wu", "wv"))
    # both wedge sides leave ONE projection of the join: pair_hits reads
    # its rows twice (hot and cold x), so a union of per-side streams
    # would plan the un-persisted two-hop join once per side and branch
    rows = (
        base.select("v", "u", F.explode(F.array("wu", "wv")).alias("s"))
        .filter(F.size("s") >= 2)
        .select("v", "u", "s", F.explode("s").alias("x"))
    )
    tailed = (
        hop.pair_hits(rows)
        .groupBy("v", "u")
        .agg(F.shiftright(F.sum("hits"), 1).alias("tailed_raw"))
    )
    return counts.join(tailed, ["v", "u"], "left").fillna(0, subset=["tailed_raw"])


# ------------------------------------------------------------------- macro
MACRO_KEYS = [
    "total_2_1edge",
    "total_2_indep",
    "total_3_tris",
    "total_2_star",
    "total_3_1edge",
    "total_3_indep",
    "total_4_clique",
    "total_4_chordcycle",
    "total_4_tailed_tris",
    "total_4_cycle",
    "total_3_star",
    "total_4_path",
    "total_4_1edge",
    "total_4_2edge",
    "total_4_2star",
    "total_4_tri",
    "total_4_indep",
]


#: n*n*m below this, every census moment fits a long exactly (Σ over m
#: edges of products < n²), on the driver and in Spark alike
_LONG_SUMS_BOUND = 1 << 62


#: the second moments Σtri², Σa², Σb², Σab, Σtri·a, Σtri·b, as index
#: pairs into (tri, a, b): one order for both moment sources
_PAIRS = ((0, 0), (1, 1), (2, 2), (1, 2), (0, 1), (0, 2))


def _driver_moments(dv, du, tri, cliq, cyc) -> tuple:
    """The census moments (see :func:`_macro_sums`) of numpy int64
    per-edge arrays, as Python ints: one pass each, no per-term array.
    Under n*n*m < :data:`_LONG_SUMS_BOUND` each sum is exact in int64."""
    import numpy as np

    x = (tri, dv - tri - 1, du - tri - 1)
    return (
        len(tri),
        *(int(v.sum()) for v in x),
        *(int(np.dot(x[i], x[j])) for i, j in _PAIRS),
        int(cliq.sum()),
        int(cyc.sum()),
    )


def _spark_moments(c: DataFrame, big: str) -> DataFrame:
    """The census moments of a per-edge counts frame as one Spark
    ``agg`` row, in :func:`_driver_moments` order.  Every factor is cast
    to ``big`` (``long``, or ``decimal(38,0)`` past the long bound)
    before it is multiplied, so nothing divides or rounds in Spark."""
    tri = F.col("tri")
    x = [v.cast(big) for v in (tri, F.col("deg_v") - tri - 1, F.col("deg_u") - tri - 1)]
    return c.agg(
        F.count(F.lit(1)),
        *(F.sum(v) for v in x),
        *(F.sum(x[i] * x[j]) for i, j in _PAIRS),
        F.sum(F.col("cliq").cast(big)),
        F.sum(F.col("cyc").cast(big)),
    )


def _moments(c: DataFrame, n: int, m: int) -> tuple:
    """The census moments of ``c``: the driver's, when the broadcast
    census tagged them on ``c`` for a graph of these sizes, else one
    Spark aggregation, in decimal only when longs could overflow."""
    tag = getattr(c, "_pgd_macro_moments", None)
    if tag is not None and tag[:2] == (n, m):
        return tag[2]
    big = _DEC if n * n * m >= _LONG_SUMS_BOUND else "long"
    return tuple(int(x or 0) for x in _spark_moments(c, big).first())


def _macro_sums(n: int, m: int, moments: tuple) -> dict:
    """The fifteen macro sums over the census edges — the raw kernel sums
    Σtri, Σstar, Σdisconn, Σcliq, Σcyc and the per-edge terms N1..N10
    (cpp:1366-1448) — from the census moments, in Python ints.

    Every term is a polynomial of degree <= 2 in tri and the 2-star ends
    a = deg_v-tri-1, b = deg_u-tri-1 (star = a+b; with ts = tri+star,
    disconn = (n-2) - ts), so its sum follows from the edge count k, the
    first moments Σtri, Σa, Σb, the second moments Σtri², Σa², Σb², Σab,
    Σtri·a, Σtri·b, and Σcliq, Σcyc.  Both census placements sum these
    same moments (:func:`_driver_moments`, :func:`_spark_moments`)."""
    k, T, A, B, TT, AA, BB, AB, TA, TB, cliq, cyc = moments
    S, SS, TS = A + B, AA + 2 * AB + BB, TA + TB  # Σstar, Σstar², Σtri·star
    U, UU = T + S, TT + 2 * TS + SS  # Σts, Σts²
    c = n - 2
    D, DD = k * c - U, k * c * c - 2 * c * U + UU  # Σdisconn, Σdisconn²
    return {
        "t_tri": T,
        "t_star": S,
        "t_disc": D,
        "t_cliq": cliq,
        "t_cyc": cyc,
        "n1": (UU - U) // 2,
        "n2": (SS - S) // 2,
        "n3": (TT - T) // 2,
        "n4": TS,
        "n5": AB,
        "n6": (AA - A + BB - B) // 2,
        "n7": k * (m - 1) - S - 2 * T,
        "n8": (DD - D) // 2,
        "n9": c * S - (TS + SS),
        "n10": c * T - (TT + TS),
    }


def _closure(n: int, m: int, sums: dict, scale: float | None = None) -> dict:
    """The closure equations (cpp:1449-1472): all 17 totals plus
    total_wedges and global_cc from the :func:`_macro_sums` of a census.

    Exact (``scale=None``): Python ints and ``//``.  Sampled: every sum
    is multiplied by ``scale`` (the Horvitz-Thompson weight) and every
    division rounds half up, ``floor(x/d + 0.5)`` — not Python's
    half-even ``round``, so the SQL oracle can state it verbatim.  The
    raw-sum forms chordcycle = n3 - Σcliq and path = n5 - Σcyc equal
    the reference's n3 - 6·clique and n5 - 4·cycle on every full census,
    where Σcliq ≡ 0 mod 6 and Σcyc ≡ 0 mod 4."""
    if scale is None:
        s = sums

        def div(x, d=1):
            return x // d
    else:
        s = {key: v * scale for key, v in sums.items()}

        def div(x, d=1):
            return math.floor(x / d + 0.5)

    t: dict = {}
    t["total_2_1edge"] = m
    t["total_2_indep"] = n * (n - 1) // 2 - m
    t["total_3_tris"] = div(s["t_tri"], 3)
    t["total_2_star"] = div(s["t_star"], 2)
    t["total_3_1edge"] = div(s["t_disc"])
    t["total_3_indep"] = n * (n - 1) * (n - 2) // 6 - (
        t["total_3_tris"] + t["total_2_star"] + t["total_3_1edge"]
    )
    t["total_wedges"] = 3 * t["total_3_tris"] + t["total_2_star"]
    t["global_cc"] = (3 * t["total_3_tris"] / t["total_wedges"]) if t["total_wedges"] else 0.0
    t["total_4_clique"] = div(s["t_cliq"], 6)
    t["total_4_chordcycle"] = div(s["n3"] - s["t_cliq"])
    t["total_4_cycle"] = div(s["t_cyc"], 4)
    t["total_4_path"] = div(s["n5"] - s["t_cyc"])
    t["total_4_tailed_tris"] = div(s["n4"] - 4 * (s["n3"] - s["t_cliq"]), 2)
    t["total_3_star"] = div(s["n6"] - t["total_4_tailed_tris"], 3)
    t["total_4_2edge"] = div(
        s["n7"]
        - 6 * t["total_4_clique"]
        - 4 * t["total_4_cycle"]
        - 4 * t["total_4_chordcycle"]
        - 2 * t["total_4_path"]
        - 2 * t["total_4_tailed_tris"],
        2,
    )
    t["total_4_1edge"] = div(s["n8"] - 2 * t["total_4_2edge"])
    t["total_4_2star"] = div(s["n9"] - 2 * t["total_4_path"], 2)
    t["total_4_tri"] = div(s["n10"] - t["total_4_tailed_tris"], 3)
    four = sum(t[x] for x in MACRO_KEYS[6:-1])  # the other ten 4-node totals
    t["total_4_indep"] = n * (n - 1) * (n - 2) * (n - 3) // 24 - four
    return t


def macro_counts(g: Graph, strategy: str = "auto", counts: DataFrame | None = None) -> dict:
    """All 17 graphlet totals + wedges/global_cc, exact.

    The census's per-edge counts reduce to twelve moments (edge count,
    first and second moments of tri and the 2-star ends, Σcliq, Σcyc):
    summed on the driver by the broadcast census, which tags them on its
    frame, or else in one Spark ``agg`` (Spark's partial aggregation is
    the analog of the reference's per-thread counters, cpp:1370-1374,
    1431-1448).  The fifteen macro sums and the closure (cpp:1449-1472)
    follow on the driver in exact Python ints.  Past n²·m ≥ 2^62 the
    Spark moments are summed as ``decimal(38,0)``, the one place the
    disconnected terms of 10^9-vertex graphs could overflow a long.
    """
    own_counts = counts is None
    c = counts if counts is not None else edge_graphlet_counts(g, strategy)
    # read after the kernel pass: the broadcast census records the
    # sizes from its driver-side edge copy (no count job)
    n = g.num_vertices()
    m = g.num_edges()
    s = _macro_sums(n, m, _moments(c, n, m))
    if own_counts:
        # totals are final — drop any lookup table the distributed
        # kernel persisted for this one pass (callers who passed their
        # own counts frame release it themselves when done)
        release_internal_caches(c)
    t = _closure(n, m, s)
    t["_nsums"] = {f"n{i}": s[f"n{i}"] for i in range(1, 11)}
    t["_ksums"] = {k: s[k] for k in ("t_tri", "t_star", "t_disc", "t_cliq", "t_cyc")}
    return t


# -------------------------------------------------------------------- GFD
CONNECTED_GFD_KEYS = [
    "total_4_clique",
    "total_4_chordcycle",
    "total_4_tailed_tris",
    "total_4_cycle",
    "total_3_star",
    "total_4_path",
]
DISCONNECTED_GFD_KEYS = [
    "total_4_tri",
    "total_4_2star",
    "total_4_2edge",
    "total_4_1edge",
    "total_4_indep",
]


def _gfd(totals: dict, keys: list[str], force_tail: bool) -> list[float]:
    vals = [totals[k] for k in keys]
    sm = sum(vals)
    out = [(v / sm if sm > 0 else 0.0) for v in vals]
    if force_tail and sm > 0:
        # reference forces the last element to 1 - cumsum (cpp:2002, 2037)
        out[-1] = 1.0 - sum(out[:-1])
    return out


def compute_connected_gfd(totals: dict) -> list[float]:
    return _gfd(totals, CONNECTED_GFD_KEYS, force_tail=False)


def compute_disconnected_gfd(totals: dict) -> list[float]:
    return _gfd(totals, DISCONNECTED_GFD_KEYS, force_tail=True)


def compute_gfd(totals: dict) -> list[float]:
    return _gfd(totals, CONNECTED_GFD_KEYS + DISCONNECTED_GFD_KEYS, force_tail=True)


# ------------------------------------------------------------- invariants
def check_identities(totals: dict) -> dict[str, bool]:
    """The ten ΣN_i ↔ closed-total identities the reference verifies
    under -v (test_graphlet_counts, cpp:1275-1305).  Returns per-
    identity booleans; all must be True on any graph."""
    s = totals["_nsums"]
    t = totals
    checks = {
        "n1": s["n1"]
        == 3 * t["total_3_star"]
        + 3 * t["total_4_tailed_tris"]
        + 4 * t["total_4_cycle"]
        + t["total_4_path"]
        + 5 * t["total_4_chordcycle"]
        + 6 * t["total_4_clique"],
        "n2": s["n2"]
        == 3 * t["total_3_star"]
        + t["total_4_tailed_tris"]
        + 4 * t["total_4_cycle"]
        + t["total_4_path"],
        "n3": s["n3"] == t["total_4_chordcycle"] + 6 * t["total_4_clique"],
        "n4": s["n4"] == 2 * t["total_4_tailed_tris"] + 4 * t["total_4_chordcycle"],
        "n5": s["n5"] == t["total_4_path"] + 4 * t["total_4_cycle"],
        "n6": s["n6"] == 3 * t["total_3_star"] + t["total_4_tailed_tris"],
        "n7": s["n7"]
        == 2 * t["total_4_2edge"]
        + 6 * t["total_4_clique"]
        + 4 * t["total_4_cycle"]
        + 4 * t["total_4_chordcycle"]
        + 2 * t["total_4_path"]
        + 2 * t["total_4_tailed_tris"],
        "n8": s["n8"] == t["total_4_1edge"] + 2 * t["total_4_2edge"],
        "n9": s["n9"] == 2 * t["total_4_2star"] + 2 * t["total_4_path"],
        "n10": s["n10"] == 3 * t["total_4_tri"] + t["total_4_tailed_tris"],
    }
    return checks
