"""Graph derivations from relational tables (the driver's test schema).

These give the engine SQL-checkable graphs over the provided star
schema — the same derive→normalize pipeline as the transcript path:

* co-purchase graph: parts are vertices; two parts are linked when
  they appear in the same order.  Realistic degree skew, triangles,
  cliques — the engine's oracle-checked workhorse graph.
* events session graph: the transcript-shaped derivation (axes A+B)
  over the events stream — users and event types as actors, consecutive
  events within a user's stream as turn adjacency, a props-derived
  bucket as the "tool" axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pgd_spark.graph import Graph

TYPE_VERTEX_BASE = 1_000_000_000


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def copurchase_edges(lineitem: DataFrame, max_partkey: int | None = None) -> DataFrame:
    """Canonical edge table [src < dst]: parts co-occurring in an order.

    Self-join on the order key; Catalyst plans a shuffle hash join on
    l_orderkey with only (l_orderkey, l_partkey) scanned (column
    pruning) and the partkey filter pushed to the parquet scan.
    """
    li = lineitem.select("l_orderkey", "l_partkey")
    if max_partkey is not None:
        li = li.filter(F.col("l_partkey") <= max_partkey)
    # Spread the PROBE side before the join: a small-file table arrives
    # as one scan partition (maxPartitionBytes ≫ file size), and the
    # broadcast join + pair explosion + partial-distinct then run on a
    # single task while the rest of the machine idles.  The ~10 MB key
    # shuffle this costs is repaid many times by a 32-way join stage;
    # inputs that already carry enough partitions pass through (a real
    # multi-file table at scale does).  The build side stays narrow —
    # it is collected for the broadcast anyway.
    from pgd_spark.session import num_partitions

    par = lineitem.sparkSession.sparkContext.defaultParallelism
    a = (li.repartition(par) if num_partitions(li) < par else li).alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return edges


def copurchase_graph(spark: SparkSession, sf_dir: str, max_partkey: int | None = None) -> Graph:
    """The derived graph PERSISTS its edge table: every consumer of the
    co-purchase graph (census edge collect, adjacency, degrees, CC)
    re-reads the edges, and without the persist each action re-ran the
    lineitem self-join + distinct from parquet (measured: the census
    re-derived the edges once per repetition).  The first action —
    num_edges() in the derivation step — pays the materialization.
    ``Graph.unpersist()`` releases that cache with the derived tables."""
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"), max_partkey)
    return Graph(edges.persist(), already_canonical=True, owns_edges=True)


def events_session_edges(events: DataFrame) -> DataFrame:
    """Axes A+B over the events stream, normalized [src < dst]:

    A — consecutive events of a user link the user's vertex to the
        event-type vertex of each step's *next* type transition:
        {type(e_i), type(e_{i+1})} per user stream (turn adjacency).
    B — every event links the user vertex to its event-type vertex
        (actor→tool analog).

    Vertex ids: users keep user_id; event types get
    TYPE_VERTEX_BASE + dense_rank(event_type).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    typed = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lead("event_type").over(w).alias("next_type"),
    )
    type_ids = (
        events.select("event_type")
        .distinct()
        .withColumn("tid", F.dense_rank().over(Window.orderBy("event_type")).cast("long") + TYPE_VERTEX_BASE)
    )
    t1 = type_ids.select(F.col("event_type").alias("event_type"), F.col("tid").alias("tid1"))
    t2 = type_ids.select(F.col("event_type").alias("next_type"), F.col("tid").alias("tid2"))
    a = (
        typed.filter(F.col("next_type").isNotNull())
        .join(F.broadcast(t1), "event_type")
        .join(F.broadcast(t2), "next_type")
        .select(F.col("tid1").alias("src"), F.col("tid2").alias("dst"))
    )
    b = typed.join(F.broadcast(t1), "event_type").select(
        F.col("user_id").cast("long").alias("src"), F.col("tid1").alias("dst")
    )
    from pgd_spark.graph import normalize_edges

    return normalize_edges(a.unionAll(b))


def events_session_graph(spark: SparkSession, sf_dir: str) -> Graph:
    return Graph(events_session_edges(load_table(spark, sf_dir, "events")), already_canonical=True)
