"""Graph file readers with the reference's normalization semantics.

Reproduces the flexible reader behavior (graphlet_core.cpp:291-522,
README.md:79-93): auto delimiter (comma/tab/space), comment lines
(# or %) skipped, optional third weight column parsed-then-ignored,
self-loops dropped, duplicate/parallel edges dropped, direction
ignored, ids may be 0-based, 1-based or gappy (all accepted; our
operators work on raw int64 ids — use Graph.densify() when dense ids
are wanted, which the reference always does via first-appearance
relabeling, cpp:393-403).

MatrixMarket (.mtx): symmetric coordinate format, header line
``n n m``, 1-based ids, '%' comments; self-loops dropped, no dedup
needed for valid files but we dedup anyway (distinct() is free at this
scale and makes the reader total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pgd_spark.graph import Graph, normalize_edges


def _attach_lineage(g: Graph, valid: DataFrame, mtx_identity: bool) -> None:
    """Thread file-order lineage through a reader (cpp:393-403 analog).

    ``valid`` = as-read rows [src, dst, _rid] after comment/self-loop
    filtering, BEFORE canonicalization — the reference registers v then
    u per row in read order, so vertex first-appearance keys are
    (2*row, 2*row+1).  Attaches to the Graph:

    * ``g.lineage``: [src, dst, first_row] canonical original-id edges
      with the file row of their first occurrence (dedup keeps first);
    * ``g.fa_map``:  [orig, id] the reference's dense internal ids —
      first-appearance rank for edge lists, orig-1 for MTX (the strict
      mtx reader uses the 1-based ids directly, cpp:459-522).
    """
    from pyspark.sql import Window

    lineage = (
        valid.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "_rid",
        )
        .groupBy("src", "dst")
        .agg(F.min("_rid").alias("first_row"))
    )
    if mtx_identity:
        fa = (
            valid.select(F.col("src").alias("orig"))
            .unionAll(valid.select(F.col("dst").alias("orig")))
            .distinct()
            .select("orig", (F.col("orig") - 1).alias("id"))
        )
    else:
        vf = valid.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("orig"), (2 * F.col("_rid")).alias("k")),
                    F.struct(F.col("dst").alias("orig"), (2 * F.col("_rid") + 1).alias("k")),
                )
            ).alias("s")
        ).select("s.orig", "s.k")
        fa = (
            vf.groupBy("orig")
            .agg(F.min("k").alias("k0"))
            .withColumn("id", F.row_number().over(Window.orderBy("k0")) - 1)
            .select("orig", "id")
        )
    g.lineage = lineage
    g.fa_map = fa


def read_edge_list(
    spark: SparkSession,
    path: str,
    delimiter: str | None = None,
    track_lineage: bool = False,
) -> Graph:
    """Flexible edge-list reader → normalized Graph.

    Non-numeric tokens in the first two columns become nulls and the
    row is dropped — this matches the reference's atoi() semantics that
    turn a header row like ``src,dst`` into the self-loop (0,0), which
    is then dropped (see sample_graph.csv handling, Makefile:50-51).
    Extra columns (weights, counts) are ignored (cpp:266).

    ``track_lineage=True`` threads the file row order through, enabling
    ``Graph.densify(order="first_appearance")`` and the reference-order
    micro writer.
    """
    # Unify comma/tab/space runs into one space then split — a strict
    # superset of the reference's single-delimiter sniff (cpp:196-228)
    # that also tolerates mixed "1, 2" styles.
    df = spark.read.text(path).withColumn("_rid", F.monotonically_increasing_id())
    toks = F.split(F.trim(F.regexp_replace(F.col("value"), r"[,\t ]+", " ")), " ")
    parsed = (
        df.filter(~F.col("value").rlike(r"^\s*[#%]") & (F.trim("value") != ""))
        .select(
            F.element_at(toks, 1).try_cast("long").alias("src"),
            F.element_at(toks, 2).try_cast("long").alias("dst"),
            "_rid",
        )
    )
    # atoi("src") == 0 → header lines become (0,0) self-loops → dropped,
    # but genuinely non-numeric tokens cast to null → treat as 0 first.
    parsed = parsed.select(
        F.coalesce("src", F.lit(0)).alias("src"),
        F.coalesce("dst", F.lit(0)).alias("dst"),
        "_rid",
    )
    g = Graph.from_edges(parsed)
    if track_lineage:
        _attach_lineage(g, parsed.filter(F.col("src") != F.col("dst")), mtx_identity=False)
    return g


def read_mtx(spark: SparkSession, path: str, track_lineage: bool = False) -> Graph:
    df = spark.read.text(path)
    toks = F.split(F.regexp_replace(F.trim(F.col("value")), r"\s+", " "), " ")
    data = (
        df.filter(~F.col("value").rlike(r"^\s*%") & (F.trim("value") != ""))
        .select(
            F.element_at(toks, 1).try_cast("long").alias("src"),
            F.element_at(toks, 2).try_cast("long").alias("dst"),
            F.monotonically_increasing_id().alias("_rid"),
        )
    )
    # drop the single dims header row "n n m" — the first non-comment
    # line, i.e. min _rid.  monotonically_increasing_id is
    # nondeterministic across independent scans (ADVICE r3: two scans
    # only matched because both re-read the file with identical splits),
    # so the ids are pinned ONCE with an eager localCheckpoint; the min
    # and the filter then both read those very materialized values.
    # Unlike the r4 global-frame window (which funneled the whole file
    # through one task and left downstream single-partitioned — ADVICE
    # r4), the checkpoint preserves the text source's split
    # partitioning, so big .mtx inputs keep their scan parallelism.
    # localCheckpoint blocks are not executor-loss tolerant; a lost
    # block on a real cluster fails the read rather than silently
    # re-deriving different ids, which is the correct failure mode here.
    data = data.localCheckpoint(eager=True)
    first_rid = data.agg(F.min("_rid")).first()[0]
    edges = data.filter(F.col("_rid") != F.lit(first_rid))
    g = Graph.from_edges(edges.drop("_rid"))
    if track_lineage:
        _attach_lineage(g, edges.filter(F.col("src") != F.col("dst")), mtx_identity=True)
    return g


def read_graph(spark: SparkSession, path: str, track_lineage: bool = False) -> Graph:
    """Extension dispatch like the reference (cpp:259-283)."""
    if path.endswith(".mtx"):
        return read_mtx(spark, path, track_lineage)
    return read_edge_list(spark, path, track_lineage=track_lineage)


def write_edges(edges: DataFrame, path: str, fmt: str = "parquet") -> None:
    w = edges.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "csv":
        w.option("header", True).csv(path)
    else:
        raise ValueError(fmt)
