"""Edge orderings (parity feature) and the edge-sampled approximate census."""

import random

import pytest

from pgd_spark.operators.approximate import approximate_macro_counts
from pgd_spark.operators.graphlets import MACRO_KEYS, macro_counts
from pgd_spark.operators.ordering import edge_ordering
from tests.conftest import make_graph


def gnp(n, p, seed):
    rng = random.Random(seed)
    return [(i, j) for i in range(n) for j in range(i + 1, n) if rng.random() < p]


@pytest.mark.parametrize("strategy", ["natural", "rand", "degree", "degree_vol", "kcore", "kcore_degree"])
def test_orderings_cover_all_edges(spark, strategy):
    edges = gnp(20, 0.3, 5)
    g = make_graph(spark, edges)
    rows = edge_ordering(g, strategy).collect()
    assert len(rows) == g.num_edges()
    assert {(r["src"], r["dst"]) for r in rows} == {tuple(sorted(e)) for e in edges}


def test_ordering_direction(spark):
    edges = [(0, i) for i in range(1, 10)] + [(10, 11)]
    g = make_graph(spark, edges)
    desc = edge_ordering(g, "degree").collect()
    asc = edge_ordering(g, "degree", s2l=True).collect()
    assert desc[0]["order_value"] >= desc[-1]["order_value"]
    assert asc[0]["order_value"] <= asc[-1]["order_value"]


def test_approximate_full_fraction_is_exact(spark):
    edges = gnp(30, 0.2, 9)
    g = make_graph(spark, edges)
    exact = macro_counts(g)
    approx = approximate_macro_counts(g, fraction=1.0)
    for k in exact:
        if not k.startswith("_"):
            assert approx[k] == exact[k], k


def test_approximate_reasonable_at_half(spark):
    edges = gnp(60, 0.25, 10)
    g = make_graph(spark, edges)
    exact = macro_counts(g)
    approx = approximate_macro_counts(g, fraction=0.5, seed=1)
    # unbiased estimator; with ~50% of edges the big counts should land
    # within a loose relative band
    for k in ["total_3_tris", "total_2_star", "total_4_clique"]:
        if exact[k] >= 50:
            rel = abs(approx[k] - exact[k]) / exact[k]
            assert rel < 0.35, (k, approx[k], exact[k])
    assert approx["total_2_1edge"] == exact["total_2_1edge"]  # m stays exact


# every key of approximate_macro_counts (seed 42), in _PINNED_KEYS order,
# recorded from the estimator before the exact and sampled censuses
# shared one closure: pins its scaling and half-up rounding order
_PINNED_KEYS = MACRO_KEYS + ["total_wedges", "global_cc", "_sample_fraction"]
_PINNED = {
    ((60, 0.15, 11), 0.3): [250, 1520, 101, 1715, 10767, 21637, 0, 152, 1676, 416, 3137, 10142,
                            195162, 16152, 62714, 3797, 194287, 2018, 0.15014866204162536, 0.296],
    ((60, 0.15, 11), 0.7): [250, 1520, 87, 1739, 10760, 21634, 0, 121, 1470, 407, 3326, 10380,
                            194664, 16218, 63561, 3265, 194223, 2000, 0.1305, 0.668],
    ((90, 0.08, 12), 0.3): [311, 3694, 80, 1890, 23348, 92162, 2, 84, 1296, 216, 3265, 10519,
                            798934, 33654, 129996, 5479, 1571745, 2130, 0.11267605633802817,
                            0.3086816720257235],
    ((90, 0.08, 12), 0.7): [311, 3694, 60, 1963, 23263, 92194, 1, 51, 995, 235, 3694, 11307,
                            793582, 33186, 134056, 4087, 1573996, 2143, 0.08399440037330845,
                            0.7266881028938906],
}


@pytest.mark.parametrize("strategy", ["broadcast", "distributed"])
@pytest.mark.parametrize("graph, fraction", list(_PINNED))
def test_approximate_totals_pinned(spark, graph, fraction, strategy):
    g = make_graph(spark, gnp(*graph))
    got = approximate_macro_counts(g, fraction=fraction, strategy=strategy)
    assert got == dict(zip(_PINNED_KEYS, _PINNED[graph, fraction]))
