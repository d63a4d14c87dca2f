"""Undirected simple-graph data model on DataFrames.

Reproduces the reference's graph-normalization semantics
(graphlet_core.cpp:291-457, README.md:79-93): direction ignored,
weights ignored, self-loops dropped, duplicate edges dropped, vertex
ids arbitrary (densification is available but optional — all operators
work on raw int64 ids).

Canonical representation: one row per undirected edge with
``src < dst`` (both LongType).  Everything else (symmetrized view,
degrees, adjacency lists, degree-oriented edges) is derived lazily and
cached on first use.

Scale notes: degrees/adjacency are single shuffles on the vertex key;
the degree-oriented edge table reproduces PGD's low-degree-endpoint
orientation (graphlet_core.cpp:939-945) which bounds per-edge kernel
work and is the primary skew mitigation for hub vertices.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

SRC, DST = "src", "dst"

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def check_id_columns(df: DataFrame, cols, what: str) -> None:
    """Raise TypeError unless every column in ``cols`` casts to long
    without loss: integer types and ``decimal(p,0)`` with p <= 18 pass.
    Anything else would cast to null (strings, wider decimals past the
    int64 range) or truncate (fractional types), silently dropping or
    merging edges.  Names resolve case-insensitively, like Spark's."""
    dtypes = {k.lower(): v for k, v in df.dtypes}
    for col in cols:
        dt = dtypes.get(col.lower())
        if dt is None:
            raise TypeError(f"column {col!r} not found in {what}")
        dec = re.fullmatch(r"decimal\((\d+),0\)", dt)
        if dt not in _INTEGRAL and not (dec and int(dec.group(1)) <= 18):
            raise TypeError(
                f"ids must be integral (int64); {what}.{col} is {dt!r} — map "
                "ids to int64 first (e.g. a vertex map)"
            )


def local_frame(spark, cols: dict) -> DataFrame:
    """Driver-side numpy columns → one Arrow-backed DataFrame.  Spark
    keeps a small table as a local relation scanned in up to
    defaultParallelism partitions, and splits a large one into a
    partition per 10k-row Arrow batch: coalesce to one per core."""
    import pyarrow as pa

    table = pa.table(cols)
    par = spark.sparkContext.defaultParallelism
    return spark.createDataFrame(table).coalesce(max(min(par, table.num_rows), 1))


def normalize_edges(df: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Arbitrary (possibly directed / weighted / dirty) edge rows →
    canonical undirected simple-edge table [src < dst], long ids.
    The id columns must be integral (:func:`check_id_columns`)."""
    check_id_columns(df, (src, dst), "edges")
    s = F.col(src).cast("long")
    d = F.col(dst).cast("long")
    return (
        df.select(
            F.least(s, d).alias(SRC),
            F.greatest(s, d).alias(DST),
        )
        .filter(F.col(SRC).isNotNull() & F.col(DST).isNotNull() & (F.col(SRC) != F.col(DST)))
        .distinct()
    )


class Graph:
    """An undirected simple graph backed by a canonical edge DataFrame."""

    def __init__(
        self, edges: DataFrame, already_canonical: bool = False, owns_edges: bool = False
    ):
        self.spark = edges.sparkSession
        self.edges = edges if already_canonical else normalize_edges(edges)
        # a constructor that persisted ``edges`` for this Graph hands
        # their release to unpersist()
        self._owns_edges = owns_edges
        self._degrees: DataFrame | None = None
        self._adjacency: DataFrame | None = None
        self._oriented: DataFrame | None = None
        self._n: int | None = None
        self._m: int | None = None
        # driver-side census state (kernels._oriented_state), built by
        # the broadcast census on first use and reused by later ones
        # (connected_components reads its CSR too)
        self._census_state: tuple | None = None
        # file-order lineage, set by readers with track_lineage=True:
        # lineage = [src, dst, first_row]; fa_map = [orig, id] (the
        # reference's first-appearance dense ids, cpp:393-403)
        self.lineage: DataFrame | None = None
        self.fa_map: DataFrame | None = None

    # -- constructors -------------------------------------------------
    @classmethod
    def from_edges(cls, df: DataFrame, src: str = "src", dst: str = "dst") -> "Graph":
        return cls(normalize_edges(df, src, dst), already_canonical=True)

    @classmethod
    def from_pairs(cls, spark, pairs) -> "Graph":
        """In-memory pair list → Graph (the reference's
        graphlet_core(nverts, nedges, pair<int,int>*) ctor analog,
        graphlet_core.cpp:152-182: self-loops dropped, dedup applied)."""
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], "src long, dst long"
        )
        return cls.from_edges(df)

    @classmethod
    def from_csr(cls, spark, indptr, indices) -> "Graph":
        """CSR arrays → Graph (the reference's CSR ctor analog,
        graphlet_core.cpp:127-143).  Accepts numpy arrays or lists;
        vectorized expansion (no per-edge Python loop)."""
        import numpy as np
        import pandas as pd

        indptr = np.asarray(indptr, dtype=np.int64)
        indices = np.asarray(indices, dtype=np.int64)
        heads = np.repeat(np.arange(len(indptr) - 1, dtype=np.int64), np.diff(indptr))
        keep = heads < indices  # one direction; normalization dedups anyway
        pdf = pd.DataFrame({"src": heads[keep], "dst": indices[keep]})
        if len(pdf) == 0:
            return cls.from_pairs(spark, [])
        return cls.from_edges(spark.createDataFrame(pdf))

    # -- basic derived tables -----------------------------------------
    def symmetric(self) -> DataFrame:
        """Both directions of every edge: [v, w]. 2m rows."""
        e = self.edges
        return e.select(F.col(SRC).alias("v"), F.col(DST).alias("w")).unionAll(
            e.select(F.col(DST).alias("v"), F.col(SRC).alias("w"))
        )

    def degrees(self) -> DataFrame:
        """[v, degree] — one shuffle; cached."""
        if self._degrees is None:
            self._degrees = self.symmetric().groupBy("v").agg(F.count("*").alias("degree")).cache()
        return self._degrees

    def adjacency(self) -> DataFrame:
        """[v, nbrs: array<long>] — CSR rows, neighbors sorted ascending
        (enables merge/hash intersection JVM-side and searchsorted in the
        numpy kernels); cached.  The reference's neighbor orderings
        (order_vertex_neighbors, cpp:1846-1953) only schedule work and
        change no count."""
        if self._adjacency is None:
            self._adjacency = (
                self.symmetric()
                .groupBy("v")
                .agg(F.array_sort(F.collect_list("w")).alias("nbrs"))
                .cache()
            )
        return self._adjacency

    def oriented(self) -> DataFrame:
        """Degree-oriented edges [v, u, deg_v, deg_u] with
        (deg, id)-lexicographic order: (deg_v, v) <= (deg_u, u).

        Reproduces the reference's lower-degree-endpoint orientation
        (graphlet_core.cpp:939-945, tie broken by id): kernels mark
        N(v) (small side) and scan N(u), bounding per-edge work and
        shrinking the hub-vertex skew of the exploded joins.
        """
        if self._oriented is None:
            deg = self.degrees()
            e = (
                self.edges.join(deg.withColumnRenamed("v", SRC), SRC)
                .withColumnRenamed("degree", "deg_src")
                .join(deg.withColumnRenamed("v", DST), DST)
                .withColumnRenamed("degree", "deg_dst")
            )
            flip = (F.col("deg_dst") < F.col("deg_src")) | (
                (F.col("deg_dst") == F.col("deg_src")) & (F.col(DST) < F.col(SRC))
            )
            self._oriented = e.select(
                F.when(flip, F.col(DST)).otherwise(F.col(SRC)).alias("v"),
                F.when(flip, F.col(SRC)).otherwise(F.col(DST)).alias("u"),
                F.when(flip, F.col("deg_dst")).otherwise(F.col("deg_src")).alias("deg_v"),
                F.when(flip, F.col("deg_src")).otherwise(F.col("deg_dst")).alias("deg_u"),
            ).cache()
        return self._oriented

    # -- scalar stats ---------------------------------------------------
    def num_vertices(self) -> int:
        if self._n is None:
            self._n = self.degrees().count()
        return self._n

    def num_edges(self) -> int:
        if self._m is None:
            self._m = self.edges.count()
        return self._m

    def max_degree(self) -> int:
        """0 for a graph with no edges (``max`` over no rows is null)."""
        return self.degrees().agg(F.max("degree")).first()[0] or 0

    def density(self) -> float:
        n, m = self.num_vertices(), self.num_edges()
        return 0.0 if n < 2 else 2.0 * m / (n * (n - 1))

    # -- id densification --------------------------------------------
    def densify(self, order: str = "sorted") -> tuple["Graph", DataFrame]:
        """Returns (graph with ids 0..n-1, mapping [orig, id]).

        ``order="sorted"``            — deterministic relabel by sorted
                                        original id (works on any Graph).
        ``order="first_appearance"``  — the reference's relabel
                                        (cpp:393-403): next dense id on
                                        first sight in file order, src
                                        before dst per row.  Requires a
                                        reader-attached ``fa_map``
                                        (track_lineage=True).
        """
        from pyspark.sql import Window

        if order == "first_appearance":
            if self.fa_map is None:
                raise ValueError(
                    "first_appearance densify needs file lineage: read the "
                    "graph with track_lineage=True"
                )
            mapping = self.fa_map
        elif order == "sorted":
            verts = self.symmetric().select(F.col("v").alias("orig")).distinct()
            mapping = verts.withColumn(
                "id", F.row_number().over(Window.orderBy("orig")) - F.lit(1)
            )
        else:
            raise ValueError(f"unknown densify order {order!r}")
        e = (
            self.edges.join(mapping.withColumnRenamed("orig", SRC), SRC)
            .withColumnRenamed("id", "src_id")
            .join(mapping.withColumnRenamed("orig", DST), DST)
            .withColumnRenamed("id", "dst_id")
            .select(F.col("src_id").alias(SRC), F.col("dst_id").alias(DST))
        )
        return Graph(e), mapping

    def unpersist(self) -> None:
        """Release the derived tables, the driver census state, and the
        edge table when this Graph persisted it."""
        owned = (self.edges,) if self._owns_edges else ()
        for df in (self._degrees, self._adjacency, self._oriented) + owned:
            if df is not None:
                df.unpersist()
        self._census_state = None
