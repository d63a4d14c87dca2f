"""Medium reference graphs: strategy agreement + independent
triangle/cc cross-checks (networkx) on DD21; identities on C250-9."""

import os

import networkx as nx
import pytest

from pgd_spark.operators.graphlets import (
    check_identities,
    edge_graphlet_counts,
    macro_counts,
)
from pgd_spark.sources.readers import read_mtx

# rebuilt from the committed goldens (FIXTURES.md §2)
DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def dd21(spark):
    return read_mtx(spark, os.path.join(DATA, "DD21.mtx"))


def test_dd21_strategies_agree(spark, dd21):
    a = macro_counts(dd21, strategy="broadcast")
    b = macro_counts(dd21, strategy="distributed")
    for k in a:
        if not k.startswith("_"):
            assert a[k] == pytest.approx(b[k]), k


def test_dd21_distributed_hot_path_engaged_agrees(spark, dd21):
    """Force the hot-key threshold low enough that EVERY wedge vertex
    goes through the hot pair-enumeration path, and compare per-edge
    counts to the broadcast kernel exactly; also check a mixed split
    and the default threshold."""
    from pgd_spark.operators.graphlets import _edge_counts_distributed

    a = {
        (r["v"], r["u"]): (r["tri"], r["cliq"], r["cyc"])
        for r in edge_graphlet_counts(dd21, strategy="broadcast").collect()
    }
    for thr in (0, 5, None):  # all-hot, cold/hot mix (DD21 max deg 12), default
        b = {
            (r["v"], r["u"]): (r["tri"], r["cliq"], r["cyc"])
            for r in _edge_counts_distributed(dd21, hot_degree_threshold=thr).collect()
        }
        assert a == b, thr


def test_dd21_vs_networkx(spark, dd21):
    t = macro_counts(dd21, strategy="broadcast")
    edges = [(r["src"], r["dst"]) for r in dd21.edges.collect()]
    G = nx.Graph(edges)
    assert t["total_3_tris"] == sum(nx.triangles(G).values()) // 3
    assert t["global_cc"] == pytest.approx(nx.transitivity(G))
    assert all(check_identities(t).values())


def test_c250_identities(spark):
    g = read_mtx(spark, os.path.join(DATA, "C250-9.mtx"))
    assert g.num_vertices() == 250 and g.num_edges() == 27984
    t = macro_counts(g, strategy="broadcast")
    assert all(check_identities(t).values())
    # dense DIMACS graph: known census magnitude sanity
    assert t["total_3_tris"] == 1869971
    assert t["total_4_clique"] == 83917723
