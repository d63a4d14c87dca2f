"""Candidate pairs and their exact verify for the LSH near-duplicate
operators (:func:`~pgd_spark.functions.dedup.minhash_dedup`,
:func:`~pgd_spark.functions.similarity.embedding_neardup_pairs`).

Both hash every item into one bucket per band or table, keep the
buckets of 2..cap members and pair up their members.  Two placements:

* Spark (:func:`pair_frame`): one groupBy per bucket, distinct member
  arrays, a posexplode/slice pair explode and one pair dedup.
* Driver (:func:`bucket_pairs` and the kernels below): the same pairs
  in numpy, for tables that already fit the session's broadcast
  budget.  The operator then collects the table once with Arrow instead
  of broadcasting it into two verify joins, and its verify runs as a
  few vectorized passes instead of a second Spark job.

The driver kernels reproduce Spark's arithmetic and semantics exactly:
:func:`set_overlaps` counts |A ∩ B| over distinct values like
``size(array_intersect(a, b))``; :func:`fold_dot` sums in index order
like ``aggregate(zip_with(...), 0.0D, ...)``; :func:`spark_gt0` and
:func:`spark_ge` order NaN above every double; :func:`spark_round`
rounds like ``round(x, d)``.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

#: id types the driver placement handles: integers sort and compare the
#: same in numpy as in Spark
INTEGRAL_IDS = (ByteType, ShortType, IntegerType, LongType)

#: elements gathered per vectorized verify pass (bounds its temporaries)
_CHUNK = 1 << 22

#: exact decimal arithmetic for any finite double (|x| < 1e309)
_DEC = Context(prec=400, rounding=ROUND_HALF_UP)


def pair_frame(keyed: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """[id_a < id_b] distinct pairs of ``keyed.id`` values that share a
    bucket (the ``keys`` columns) of 2..``cap`` members (None = no cap).

    One groupBy collects each bucket's sorted member array; near-dup
    groups collide in most of their bands or tables, so the same array
    recurs many times, and deduping the ARRAYS first cuts the pair
    explosion by that factor (the union of the distinct cliques is the
    union of all of them; the final pair dedup handles partial overlap).
    Pairs come from posexplode + slice of the sorted array.  The pair
    dedup rides an explicit-width repartition by the pair key: candidate
    rows are ~16 bytes but each fans into a verify far heavier than its
    shuffle bytes, so AQE's byte-based coalescing would run the verify
    on a handful of tasks (user-specified widths are exempt from it),
    and dropDuplicates on rows already hash-partitioned by its keys adds
    no second exchange."""
    from ..session import shuffle_width

    grouped = keyed.groupBy(*keys).agg(F.array_sort(F.collect_list("id")).alias("ids"))
    if cap is not None:
        grouped = grouped.filter(F.size("ids") <= cap)
    npart = shuffle_width(keyed.sparkSession)
    return (
        grouped.filter(F.size("ids") >= 2)
        .select("ids")
        .distinct()
        .select(F.posexplode("ids").alias("_i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias("id_b"),
        )
        .repartition(npart, F.col("id_a"), F.col("id_b"))
        .dropDuplicates()
    )


def pack31(cols: list[np.ndarray]) -> np.ndarray:
    """The int64 key columns ``cols`` (values in [0, 2^31)) as a matrix
    of half as many columns, each two adjacent ones packed as ``x << 31
    | y`` (an odd last one as it is): rows compare equal exactly when
    the unpacked rows do, and :func:`bucket_pairs` sorts half the keys."""
    packed = [(cols[j] << 31) | cols[j + 1] for j in range(0, len(cols) - 1, 2)]
    if len(cols) % 2:
        packed.append(cols[-1])
    return np.column_stack(packed)


def bucket_pairs(keys: np.ndarray, members: np.ndarray, cap: int | None, max_pairs: int):
    """:func:`pair_frame` in numpy.  Row i of the int64 matrix ``keys``
    names the bucket of ``members[i]`` (a dense item index; each item
    once per bucket); indices must follow the items' id order.

    Returns the unique ``a < b`` index pairs as two int64 arrays sorted
    by (a, b), or None when the distinct member arrays would expand to
    more than ``max_pairs`` pairs."""
    empty = np.empty(0, dtype=np.int64)
    if len(members) == 0:
        return empty, empty
    order = np.lexsort((members, *keys.T[::-1]))
    keys, members = keys[order], members[order]
    new = np.ones(len(members), dtype=bool)
    new[1:] = (keys[1:] != keys[:-1]).any(axis=1)
    starts = np.flatnonzero(new)
    sizes = np.diff(np.append(starts, len(members)))
    keep = sizes >= 2
    if cap is not None:
        keep &= sizes <= cap
    starts, sizes = starts[keep], sizes[keep]
    # one matrix of member arrays per bucket size: unique rows are the
    # distinct arrays, and every row pairs up by the same index pairs
    a_parts, b_parts, total = [], [], 0
    for s in np.unique(sizes):
        arrays = np.unique(members[starts[sizes == s][:, None] + np.arange(s)], axis=0)
        total += len(arrays) * int(s) * int(s - 1) // 2
        if total > max_pairs:
            return None
        ia, ib = np.triu_indices(s, 1)
        a_parts.append(arrays[:, ia].ravel())
        b_parts.append(arrays[:, ib].ravel())
    if not a_parts:
        return empty, empty
    n = int(members.max()) + 1
    packed = np.unique(np.concatenate(a_parts) * n + np.concatenate(b_parts))
    return packed // n, packed % n


def set_csr(key: np.ndarray, n: int):
    """(indptr, values) of ``n`` sets from packed ``row << 31 | value``
    entries (values in [0, 2^31)): each row's DISTINCT values, sorted.
    Consumes ``key``: sorts it, and may return it as the values."""
    key.sort()
    if len(key):
        dup = key[1:] == key[:-1]
        if dup.any():
            key = key[np.append(True, ~dup)]
        del dup
    indptr = np.searchsorted(key, np.arange(n + 1, dtype=np.int64) << 31)
    key &= (1 << 31) - 1
    return indptr, key


def set_overlaps(
    indptr: np.ndarray, values: np.ndarray, a: np.ndarray, b: np.ndarray, threads: int = 1
) -> np.ndarray:
    """|set a[i] ∩ set b[i]| for every pair, over a :func:`set_csr`.

    Pairs go in chunks of about ``_CHUNK / threads`` gathered b-side
    values.  For each run of pairs with the same ``a`` (pairs sorted by
    ``a`` make one run per item), the a-side values are marked in a
    bitmap over the value range, the run's b-side values are looked up
    in it, and the marks are cleared again; since a row holds distinct
    values, each hit is one shared value.  Chunks run on ``threads``
    threads with a bitmap each (max value + 1 bytes); a single chunk
    runs on the caller's thread."""
    from ..operators.kernels import _multi_slice_gather, parallel_map

    lens = np.diff(indptr)
    cost = np.cumsum(lens[b])
    step = _CHUNK // max(threads, 1)
    bounds = [0]
    while bounds[-1] < len(a):
        lo = bounds[-1]
        done = cost[lo - 1] if lo else 0
        bounds.append(max(int(np.searchsorted(cost, done + step, side="right")), lo + 1))
    space = int(values.max(initial=-1)) + 1
    out = np.empty(len(a), dtype=np.int64)

    def run(lo: int, hi: int):
        mark = np.zeros(space, dtype=bool)
        pa, pb = a[lo:hi], b[lo:hi]
        seg = np.zeros(hi - lo + 1, dtype=np.int64)
        np.cumsum(lens[pb], out=seg[1:])
        got = _multi_slice_gather(indptr, values, pb)
        runs = np.flatnonzero(np.append(True, pa[1:] != pa[:-1])).tolist() + [hi - lo]
        hit = np.empty(len(got), dtype=bool)
        for r0, r1 in zip(runs[:-1], runs[1:]):
            own = values[indptr[pa[r0]] : indptr[pa[r0] + 1]]
            mark[own] = True
            hit[seg[r0] : seg[r1]] = mark[got[seg[r0] : seg[r1]]]
            mark[own] = False
        del got
        nz = seg[1:] > seg[:-1]  # reduceat reads one element for an empty row
        out[lo:hi] = 0
        out[lo:hi][nz] = np.add.reduceat(hit, seg[:-1][nz], dtype=np.int64)

    parallel_map(run, bounds[:-1], bounds[1:], threads)
    return out


def fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Σ_j x[..., j] * y[..., j] (broadcast over the leading axes) as a
    left fold from 0.0 in index order: bit for bit the double that
    Spark's ``aggregate(zip_with(x, y, (p, q) -> p * q), 0.0D, (acc, z)
    -> acc + z)`` returns.  BLAS dot products reorder the sum."""
    acc = np.zeros(np.broadcast_shapes(x.shape[:-1], y.shape[:-1]))
    for j in range(x.shape[-1]):
        acc += x[..., j] * y[..., j]
    return acc


def fold_dot_pairs(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """:func:`fold_dot` of rows ``x[a[i]]`` and ``x[b[i]]`` for every
    pair, gathered in chunks of about ``_CHUNK`` values."""
    step = max(_CHUNK // max(x.shape[1], 1), 1)
    out = np.empty(len(a))
    for lo in range(0, len(a), step):
        out[lo : lo + step] = fold_dot(x[a[lo : lo + step]], x[b[lo : lo + step]])
    return out


def spark_gt0(x: np.ndarray) -> np.ndarray:
    """``x > 0`` under Spark's double ordering, where NaN sorts above
    every other value."""
    return (x > 0) | np.isnan(x)


def spark_ge(x: np.ndarray, t: float) -> np.ndarray:
    """``x >= t`` under Spark's double ordering: NaN equals NaN and
    sorts above every other value."""
    nan = np.isnan(x)
    if math.isnan(t):
        return nan
    return (x >= t) | nan


def spark_round(x: np.ndarray, scale: int = 6) -> np.ndarray:
    """``round(x, scale)`` as Spark computes it on a double: HALF_UP on
    the shortest decimal repr (``BigDecimal.valueOf``, which has no
    negative zero); NaN and ±inf pass through.  np.round rounds half to
    even on the binary value: Spark takes 0.9765625 (= 125/128) to
    0.976563, np.round to 0.976562.  Runs once per OUTPUT row."""
    q = Decimal(1).scaleb(-scale)
    return np.array(
        [
            float(Decimal(repr(v)).quantize(q, context=_DEC)) + 0.0 if math.isfinite(v) else v
            for v in x.tolist()
        ],
        dtype=np.float64,
    )

