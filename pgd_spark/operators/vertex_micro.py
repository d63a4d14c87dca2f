"""Per-VERTEX micro graphlet counts.

The reference's micro arrays are per-edge ("edge (or vertex)" in the
doc comment, graphlet_core.cpp:1477-1481 — the vertex variant never
shipped); the north-star requires per-vertex counts, so we define them
with explicit role semantics, every column derivable from the per-edge
kernel by aggregation over incident edges (one groupBy, no new kernel
passes) and verified against a brute-force oracle:

  tri_cont        — triangles containing v           = Σ_{e∋v} tri_e / 2
  clique4_cont    — 4-cliques containing v           = Σ cliq_e / 3
  cycle4_cont     — induced 4-cycles containing v    = Σ cyc_e / 2
  star2_center    — 2-stars centered at v            = C(d,2) − tri_cont
  star2_leaf      — 2-stars with v as a leaf         = Σ_{e=(v,u)} (deg_u − 1 − tri_e)
  star3_center    — induced 3-stars centered at v    = C(d,3) − tri_cont·(d−2)
                                                       + Σ_{e∋v} C(tri_e,2) − clique4_cont
                    (inclusion–exclusion over edges inside N(v))
  chordal_chord   — diamonds with v on the chord     = Σ chordal_e
  path4_mid_end   — induced 4-paths where v is an
                    endpoint of the middle edge      = Σ path4_e
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pgd_spark.graph import Graph


def vertex_micro_counts(g: Graph, counts: DataFrame | None = None, strategy: str = "auto") -> DataFrame:
    from pgd_spark.operators.graphlets import _carry_caches, _pairs, edge_graphlet_counts

    c = counts if counts is not None else edge_graphlet_counts(g, strategy)
    tri, dv, du = F.col("tri"), F.col("deg_v"), F.col("deg_u")
    tri_pairs = _pairs(tri)
    chordal = tri_pairs - F.col("cliq")
    path4 = ((dv - tri - 1) * (du - tri - 1)).cast("long") - F.col("cyc")

    both = c.select(
        F.col("v").alias("x"),
        "tri", "cliq", "cyc",
        chordal.alias("chordal"),
        path4.alias("path4"),
        tri_pairs.alias("tri_pairs"),
        (F.col("deg_u") - 1 - F.col("tri")).alias("leaf_term"),
    ).unionAll(
        c.select(
            F.col("u").alias("x"),
            "tri", "cliq", "cyc",
            chordal.alias("chordal"),
            path4.alias("path4"),
            tri_pairs.alias("tri_pairs"),
            (F.col("deg_v") - 1 - F.col("tri")).alias("leaf_term"),
        )
    )
    agg = both.groupBy(F.col("x").alias("v")).agg(
        F.shiftright(F.sum("tri"), 1).alias("tri_cont"),
        F.expr("sum(cliq) div 3 AS clique4_cont"),
        F.shiftright(F.sum("cyc"), 1).alias("cycle4_cont"),
        F.sum("chordal").alias("chordal_chord"),
        F.sum("path4").alias("path4_mid_end"),
        F.sum("tri_pairs").alias("_tri_pairs"),
        F.sum("leaf_term").alias("star2_leaf"),
    )
    deg = g.degrees()
    d = F.col("degree")
    # C(d,3) = C(d,2)·(d-2)/3, and 3 divides C(d,2) or d-2: that factor
    # is divided first, so every term is an exact long wherever C(d,3)
    # fits (the product d(d-1)(d-2) overflows past d ≈ 2.1M)
    triples = F.expr(
        "CASE WHEN (degree - 2) % 3 = 0"
        " THEN shiftright(degree * (degree - 1), 1) * ((degree - 2) div 3)"
        " ELSE (shiftright(degree * (degree - 1), 1) div 3) * (degree - 2) END"
    )
    out = (
        deg.join(agg, "v", "left")
        .fillna(0)
        .select(
            "v",
            F.col("tri_cont"),
            F.col("clique4_cont"),
            F.col("cycle4_cont"),
            (_pairs(d) - F.col("tri_cont")).alias("star2_center"),
            F.col("star2_leaf"),
            (
                triples - F.col("tri_cont") * (d - 2) + F.col("_tri_pairs") - F.col("clique4_cont")
            ).alias("star3_center"),
            F.col("chordal_chord"),
            F.col("path4_mid_end"),
        )
    )
    return out if counts is not None else _carry_caches(out, c)
