"""The per-edge and per-vertex counts derived from the census stay exact
longs: halving an even product is a shift, thirds are integral ``div``,
and C(d,3) never forms the d(d-1)(d-2) product.  A double ``Divide``
rounds past 2^53, and the triple product overflows a long past
d ≈ 2.1M."""

from math import comb

from pyspark.sql import functions as F

from pgd_spark.graph import Graph
from pgd_spark.operators.graphlets import micro_counts
from pgd_spark.operators.pregel import triangle_count_per_vertex
from pgd_spark.operators.vertex_micro import vertex_micro_counts
from tests.conftest import make_graph


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_micro_counts_exact_past_double_precision(spark):
    """deg_v = 100,000,001, deg_u = 10^9, no triangle: star3 is
    C(10^8, 2) + C(10^9 - 1, 2), one more than its nearest double."""
    counts = spark.createDataFrame(
        [(1, 2, 100_000_001, 10**9, 0, 0, 0)],
        "v long, u long, deg_v long, deg_u long, tri long, cliq long, cyc long",
    )
    row = micro_counts(make_graph(spark, [(1, 2)]), counts=counts).first()
    assert row.star3 == comb(10**8, 2) + comb(10**9 - 1, 2) == 504999998450000001
    assert row.two_star == 10**8 + 10**9 - 1
    assert row.path4 == 10**8 * (10**9 - 1)
    assert row.chordal_cycle4 == 0


def test_vertex_micro_counts_exact_on_a_large_star(spark):
    """A 262,151-leaf star: the hub's star3_center is C(262151, 3),
    one more than d(d-1)(d-2) / 6 in doubles.  The counts frame is
    built from the oriented edges (no census: the kernel is quadratic
    on a star)."""
    leaves = 262_151
    edges = spark.range(1, leaves + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    g = Graph.from_edges(edges)
    zero = F.lit(0).cast("long")
    counts = g.oriented().select(
        "v", "u", "deg_v", "deg_u", zero.alias("tri"), zero.alias("cliq"), zero.alias("cyc")
    )
    out = vertex_micro_counts(g, counts=counts)
    hub = out.filter(F.col("v") == 0).first()
    assert hub.star3_center == comb(leaves, 3) == 3002605914685475
    assert hub.star2_center == comb(leaves, 2)
    assert hub.star2_leaf == 0
    leaf = out.filter(F.col("v") == 7).first()
    assert (leaf.star2_center, leaf.star3_center, leaf.star2_leaf) == (0, 0, leaves - 1)


def test_derived_counts_plan_no_doubles(spark):
    """No double arithmetic in the optimized plans of the three
    operators that derive counts from the census."""
    g = make_graph(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)])
    frames = {
        "micro": micro_counts(g),
        "micro_corrected": micro_counts(g, pgd_quirk=False),
        "vertex_micro": vertex_micro_counts(g),
        "triangles": triangle_count_per_vertex(g),
    }
    for name, df in frames.items():
        assert "double" not in _plan(df), name
        assert all(t == "bigint" for _, t in df.dtypes), (name, df.dtypes)
    tris = {r.v: r.triangles for r in frames["triangles"].collect()}
    assert tris == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}
