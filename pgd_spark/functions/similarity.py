"""Similarity search over embedding columns (array<float>).

* cosine_topk       — exact brute-force top-k: broadcast the query
                      block, JVM-side dot products (zip_with +
                      aggregate), window top-k.  The correctness
                      baseline and perfectly adequate when queries are
                      a small block (the common batch-scoring shape).
* lsh_cosine_topk   — random-hyperplane LSH: deterministic seeded
                      planes, sign-bit bucket join, exact re-score of
                      candidates only.  The 100 TB path: candidate
                      generation is a bucket equi-join, not a cross
                      join; recall is tunable with tables × bits.
* ivf_cosine_topk   — inverted-file (IVF-flat) variant: items are
                      assigned to their nearest centroid once (the
                      index build), queries probe their nprobe nearest
                      centroid lists and re-score exactly.  Centroids
                      are a deterministic hash-min sample of the items
                      (the standard IVF bootstrap), so the whole
                      operator — selection, assignment, probe,
                      re-score — replays value-for-value in portable
                      SQL; ``refine_sweeps`` optionally runs k-means
                      (Lloyd) update sweeps on the bootstrap for higher
                      recall on clustered data (non-oracle path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from .candidates import (
    INTEGRAL_IDS,
    bucket_pairs,
    fold_dot,
    fold_dot_pairs,
    pair_frame,
    spark_ge,
    spark_gt0,
    spark_round,
)


def _infer_dim(items: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row — a driver-side
    first() callers should avoid in pipelines by passing ``dim``
    explicitly.  Empty input can't be measured: raise a clear error
    instead of the bare TypeError first()'s None produced (ADVICE r5)."""
    row = items.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim from an empty {vec_col!r} input; "
            "pass dim= explicitly"
        )
    return len(row[0])


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


# NOTE (r7): unrolling these folds to fixed-dim codegen arithmetic was
# tried and REVERTED — a 64-dim × 32-plane unroll builds ~2k-node
# expression trees whose Janino compilation cost (~15 s, paid per
# call) dwarfs the interpreted-fold evaluation it saves at any batch
# size this operator sees; the interpreted HOF cost is ~10 CPU-s at
# sf0.1 and the real wins were structural (see embedding_neardup_pairs).
# The sign-LSH bucket (_bucket_expr) is rendered as SQL text, not built
# Column by Column, only to cross the py4j gateway once per expression:
# the text parses to the SAME zip_with + aggregate tree over the same
# double literals, so this note still holds for it.


def _cosine(ivec, qvec, inorm, qnorm):
    """Guarded cosine: a zero-norm vector scores -1.0 instead of NaN —
    Spark orders NaN ABOVE every double, so unguarded zero vectors
    would rank first in every descending top-k."""
    den = inorm * qnorm
    return F.when(den > 0, _dot(ivec, qvec) / den).otherwise(F.lit(-1.0))


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """[query_id, vec_id, rank, sim] — exact cosine top-k per query.

    ``queries``: [query_id, embedding].  Items scan once; queries are
    broadcast.  Ties break deterministically by item id.
    """
    it = items.select(
        F.col(id_col), F.col(vec_col).alias("ivec"), _norm(F.col(vec_col)).alias("inorm")
    )
    qs = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("qvec"), _norm(F.col(vec_col)).alias("qnorm")
    )
    scored = it.crossJoin(F.broadcast(qs)).select(
        query_id_col,
        id_col,
        _cosine(F.col("ivec"), F.col("qvec"), F.col("inorm"), F.col("qnorm")).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed + 7919 * table)
    return rng.standard_normal((bits, dim)).tolist()


def _double_sql(x: float) -> str:
    """A double as SQL literal text that parses back to the same bits
    (repr is the shortest round-tripping decimal; D makes it DOUBLE)."""
    return repr(float(x)) + "D"


def _bucket_expr(vec: str, planes: list[list[float]]) -> str:
    """SQL text of one table's sign-bit bucket over the array column
    named ``vec``: bit i is set iff dot(vec, planes[i]) > 0, the dot
    being _dot's zip_with + aggregate fold.  One 64-value plane costs
    ~260 gateway commands as F.array(F.lit(...)) Columns and none as
    text."""
    terms = ["0L"]
    for i, p in enumerate(planes):
        coef = ", ".join(map(_double_sql, p))
        dot = (
            f"aggregate(zip_with({vec}, array({coef}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {2**i}L ELSE 0 END")
    return " + ".join(terms)


def _explode_buckets(vec: str, dim: int, bits: int, tables: int, seed: int) -> Column:
    """One row per LSH table: explode(array(struct(t, b))) with b the
    sign-bit bucket of the array column ``vec`` in table t.  The whole
    expression goes to the JVM as one SQL string."""
    structs = ", ".join(
        f"named_struct('t', {t}, 'b', {_bucket_expr(vec, _hyperplanes(dim, bits, t, seed))})"
        for t in range(tables)
    )
    return F.expr(f"explode(array({structs})) AS bk")


def lsh_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: per table, items and queries hash to
    sign-bit buckets; candidates = bucket collisions in any table;
    exact cosine re-score + window top-k on candidates.

    Pass ``dim`` (embedding dimensionality) explicitly in pipelines —
    the None fallback runs a driver-side first() just to measure it."""
    if dim is None:
        dim = _infer_dim(items, vec_col)
    it = items.select(
        F.col(id_col), F.col(vec_col).alias("ivec"), _norm(F.col(vec_col)).alias("inorm")
    ).select(
        id_col, "ivec", "inorm", _explode_buckets("ivec", dim, bits, tables, seed)
    ).select(id_col, "ivec", "inorm", "bk.t", "bk.b")
    qs = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    ).select(
        query_id_col, "qvec", "qnorm", _explode_buckets("qvec", dim, bits, tables, seed)
    ).select(query_id_col, "qvec", "qnorm", "bk.t", "bk.b")
    cand = (
        it.join(F.broadcast(qs), ["t", "b"])
        .select(query_id_col, id_col, "ivec", "qvec", "inorm", "qnorm")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        _cosine(F.col("ivec"), F.col("qvec"), F.col("inorm"), F.col("qnorm")).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


#: portable constants for the deterministic centroid sample (shared
#: with the dedup/sampling hash family — any SQL engine reproduces it)
IVF_MOD = 2_147_483_647
IVF_A = 1_103_515_245


def _assign_nearest(it: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """[id, ivec, inorm, cid] — each item's best-cosine centroid.

    argmax-per-item as an AGGREGATE, not a window: max of a struct
    ordered (csim, -cid) picks best cosine with ties → lower cid,
    exactly row_number semantics — but partial aggregation collapses
    each item's C scored rows map-side (the broadcast crossJoin never
    moved them off the item's partition), so the shuffle carries N rows
    instead of N×C (ADVICE r4 / VERDICT #5).  cid is unique per
    centroid, so the array fields after it in the struct are never
    reached by the comparison."""
    return (
        it.crossJoin(F.broadcast(cent))
        .select(
            id_col,
            "ivec",
            "inorm",
            "cid",
            _cosine(F.col("ivec"), F.col("cvec"), F.col("inorm"), F.col("cnorm")).alias("csim"),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cid").cast("long")).alias("_negcid"),
                    F.col("cid"),
                    F.col("ivec"),
                    F.col("inorm"),
                )
            ).alias("_best")
        )
        .select(
            id_col,
            F.col("_best.ivec").alias("ivec"),
            F.col("_best.inorm").alias("inorm"),
            F.col("_best.cid").alias("cid"),
        )
    )


def ivf_assign(
    items: DataFrame,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_sweeps: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(centroids [cid, cvec, cnorm], assigned [id, ivec, inorm, cid])
    — the IVF index build.  Centroids are the ``n_centroids`` items
    with the smallest portable hash of their id (deterministic,
    SQL-replayable); each item joins the broadcast centroid block once
    and keeps its best-cosine centroid (ties → lower cid).  One scan
    over the items; at corpus scale persist ``assigned`` as the index
    and reuse it across query batches.

    ``refine_sweeps`` > 0 runs that many k-means update sweeps before
    the final assignment: assign → new centroid = member mean (the
    k-means/Lloyd update; on clustered data this moves the bootstrap
    sample toward the true cluster centers and lifts recall at a given
    nprobe).  A centroid that loses all members keeps its previous
    vector.  Each sweep costs one assignment pass plus one N×dim
    posexplode partial-agg (map-side combined to C×dim rows).  The
    DEFAULT (0) is the pure hash-min bootstrap, which replays
    value-for-value in portable SQL — the oracle path; float mean
    summation order makes refined centroids bit-nondeterministic, so
    sweeps are for recall, not for the oracle."""
    spark = items.sparkSession
    cent = (
        items.select(F.col(id_col), F.col(vec_col))
        .withColumn(
            "_h",
            (F.lit(IVF_A) * F.pmod(F.col(id_col).cast("long"), F.lit(IVF_MOD))) % F.lit(IVF_MOD),
        )
        .orderBy("_h", id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            _norm(F.col(vec_col)).alias("cnorm"),
        )
    )
    it = items.select(
        F.col(id_col), F.col(vec_col).alias("ivec"), _norm(F.col(vec_col)).alias("inorm")
    )
    for _ in range(refine_sweeps):
        members = _assign_nearest(it, cent, id_col)
        # Lloyd update, JVM-side: element sums via posexplode (partial
        # aggregation collapses to C×dim rows map-side), mean = sum/n
        sums = (
            members.select("cid", F.posexplode("ivec").alias("_pos", "_x"))
            .groupBy("cid", "_pos")
            .agg(F.sum(F.col("_x").cast("double")).alias("_s"), F.count(F.lit(1)).alias("_n"))
        )
        newc = (
            sums.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_s", "_n"))),
                    lambda p: (p["_s"] / p["_n"]).cast("float"),
                ).alias("cvec")
            )
        )
        merged = (
            cent.select("cid", F.col("cvec").alias("_old"))
            .join(newc, "cid", "left")
            .select("cid", F.coalesce("cvec", "_old").alias("cvec"))
            .withColumn("cnorm", _norm(F.col("cvec")))
        )
        # the centroid block is tiny (it is broadcast everywhere below);
        # materialize it on the driver so sweep plans don't stack lineage
        cent = spark.createDataFrame(merged.collect(), merged.schema)
    assigned = _assign_nearest(it, cent, id_col)
    return cent, assigned


def ivf_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
    broadcast_probes: bool | None = None,
    refine_sweeps: int = 0,
) -> DataFrame:
    """[query_id, vec_id, rank, sim] — IVF-flat approximate top-k:
    each query probes its ``nprobe`` best centroids and exactly
    re-scores only the items assigned to them.  Work per query is
    O(n_centroids + Σ probed-list sizes) instead of O(N); recall
    rises with nprobe (nprobe = n_centroids is exhaustive = exact).
    Pass a persisted (``centroids``, ``assigned``) pair from
    :func:`ivf_assign` to reuse the index across query batches.

    ``broadcast_probes``: the probe frame is |queries| × nprobe rows,
    each carrying the full query vector — broadcast-joining it against
    ``assigned`` is only safe while that fits executor memory.  None
    (default) sizes it with one cheap agg over the query batch and
    broadcasts iff the estimate fits the session's
    autoBroadcastJoinThreshold (the same discipline as
    graphlets._TwoHop); large batches fall back to a
    shuffle-hash join on cid.  Pass True/False to skip the sizing agg
    when the caller already knows the batch shape."""
    if assigned is None or centroids is None:
        centroids, assigned = ivf_assign(
            items, n_centroids, id_col, vec_col, refine_sweeps=refine_sweeps
        )
    if broadcast_probes is None:
        from ..session import broadcast_budget

        nq, qdim = queries.agg(
            F.count(F.lit(1)), F.coalesce(F.max(F.size(vec_col)), F.lit(0))
        ).first()
        threshold = broadcast_budget(queries.sparkSession)
        # per probe row: qvec doubles + id/norm/struct overhead
        broadcast_probes = nq * nprobe * (8 * qdim + 96) <= threshold
    qs = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("qvec"), _norm(F.col(vec_col)).alias("qnorm")
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("csim").desc(), F.col("cid").asc())
    probes = (
        qs.crossJoin(F.broadcast(centroids))
        .select(
            query_id_col,
            "qvec",
            "qnorm",
            "cid",
            _cosine(F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")).alias("csim"),
        )
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "qvec", "qnorm", "cid")
    )
    probe_side = F.broadcast(probes) if broadcast_probes else probes.hint("shuffle_hash")
    scored = assigned.join(probe_side, "cid").select(
        query_id_col,
        id_col,
        _cosine(F.col("ivec"), F.col("qvec"), F.col("inorm"), F.col("qnorm")).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_neardup_pairs(
    items: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """[id_a < id_b, sim] — embedding-cosine near-duplicate pairs (the
    embedding flavor of the dedup family in functions.dedup).

    Candidates come from a sign-LSH bucket SELF-join — never all-pairs:
    per table the items hash to ``bits``-bit sign buckets (the same
    seeded hyperplanes as :func:`lsh_cosine_topk`), candidate pairs are
    same-bucket collisions in ANY table, and only candidates get the
    exact cosine re-score + threshold filter (no false positives;
    recall is the standard 1-(1-p^bits)^tables sign-LSH curve with
    p = 1 - θ/π — the defaults put ≥99% recall at cosine ≥ 0.9;
    weaker thresholds need fewer bits).

    Placement.  When the (id, vector) table fits the session's
    broadcast budget (``spark.sql.autoBroadcastJoinThreshold``; the
    scan's own size estimate, the one Catalyst broadcasts on) and
    its ids are integers and its vectors float or double, the operator
    collects it once with Arrow — at most budget / (8 + dim × element
    bytes) rows, so an underestimate cannot pull more than the budget
    — and finishes on the driver in numpy (:mod:`.candidates`): the
    same sign buckets, the capped candidate pairs, the exact cosine
    (dot products and norms folded in index order, as Spark's
    ``aggregate(zip_with(...))`` does, and NaN ordered as Spark orders
    it), the threshold and Spark's rounding, returned as a local
    relation with the Spark plan's rows.  Null ids never pair.  Null,
    ragged or null-element vectors, repeated ids, candidates past the
    budget (16 B per pair) and broadcasting off keep the Spark plan:

    * the bucket join carries ONLY (table, bucket, id) rows — vectors
      rejoin by id afterward, so the self-join shuffle never moves
      embeddings — and candidates come from one groupBy per bucket
      (:func:`.candidates.pair_frame`);
    * the vector re-attach is two plain equi-joins: Catalyst broadcasts
      the vector side while it fits the threshold and falls back to a
      shuffle join at corpus scale.

    ``max_bucket`` skips buckets larger than the cap (a degenerate
    bucket of B items implies B²/2 candidate pairs; other tables still
    recall its pairs), bounding the worst case on near-constant
    embedding regions.  The Spark placement executes eagerly and
    releases its internal caches (same contract as the text dedup
    operators).
    """
    from .dedup import _materialize_and_release

    if dim is None:
        dim = _infer_dim(items, vec_col)
    out = _neardup_on_driver(items, id_col, vec_col, threshold, bits, tables, seed, dim, max_bucket)
    if out is not None:
        return out
    hashed = (
        items.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select("id", _explode_buckets("v", dim, bits, tables, seed))
        .select(F.col("bk.t").alias("t"), F.col("bk.b").alias("b"), "id")
        .cache()
    )
    # hashed feeds exactly one subtree, so the cache populates inside
    # the final job — no pre-count needed.
    cand = pair_frame(hashed, ["t", "b"], max_bucket)
    vecs = items.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )

    def _vs(aid: str, av: str, an: str):
        return vecs.select(
            F.col("id").alias(aid), F.col("v").alias(av), F.col("nrm").alias(an)
        )

    out = (
        cand.join(_vs("id_a", "va", "na"), "id_a")
        .join(_vs("id_b", "vb", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            _cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )
    return _materialize_and_release(out, hashed)


def _neardup_on_driver(
    items: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int,
    tables: int,
    seed: int,
    dim: int,
    max_bucket: int | None,
) -> DataFrame | None:
    """embedding_neardup_pairs in numpy over one bounded Arrow collect
    of the (id, vector) table, or None when the Spark plan must run
    (see the operator's placement notes)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..graph import local_frame
    from ..session import broadcast_budget

    sel = items.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    vtype = sel.schema["v"].dataType
    if not (
        isinstance(sel.schema["id"].dataType, INTEGRAL_IDS)
        and isinstance(vtype, ArrayType)
        and isinstance(vtype.elementType, (FloatType, DoubleType))
    ):
        return None
    budget = broadcast_budget(items.sparkSession)
    est = int(str(sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    limit = budget // (8 + dim * (4 if isinstance(vtype.elementType, FloatType) else 8))
    if not (0 < est <= budget and limit > 0):
        return None
    tbl = sel.limit(limit + 1).toArrow()
    if tbl.num_rows > limit:
        return None
    tbl = tbl.filter(pc.is_valid(tbl["id"]))
    ids = tbl["id"].to_numpy()
    vecs = tbl["v"].combine_chunks()
    flat = vecs.flatten()
    n = len(ids)
    if vecs.null_count or flat.null_count or len(np.unique(ids)) < n:
        return None
    if (np.diff(vecs.offsets.to_numpy()) != dim).any():
        return None
    order = np.argsort(ids)
    uid = ids[order]
    x = flat.to_numpy().astype(np.float64).reshape(n, dim)[order]
    planes = np.array([p for t in range(tables) for p in _hyperplanes(dim, bits, t, seed)])
    bit = spark_gt0(fold_dot(x[:, None, :], planes[None, :, :])).reshape(n, tables, bits)
    bucket = (bit.astype(np.int64) << np.arange(bits)).sum(axis=2)
    keys = np.column_stack([np.repeat(np.arange(tables), n), bucket.T.ravel()])
    pairs = bucket_pairs(keys, np.tile(np.arange(n), tables), max_bucket, budget // 16)
    if pairs is None:
        return None
    a, b = pairs
    nrm = np.sqrt(fold_dot(x, x))
    den = nrm[a] * nrm[b]
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(spark_gt0(den), fold_dot_pairs(x, a, b) / den, -1.0)
    keep = spark_ge(sim, threshold)
    id_type = tbl.schema.field("id").type
    return local_frame(
        items.sparkSession,
        {
            "id_a": pa.array(uid[a[keep]], type=id_type),
            "id_b": pa.array(uid[b[keep]], type=id_type),
            "sim": spark_round(sim[keep]),
        },
    )
