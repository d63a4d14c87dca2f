"""Hypothesis property tests for normalization + census invariants,
skew-graph strategy equality (SURVEY §5.6 smoke), and placement
equality: the driver tail of a broadcast census (CC, macro sums) equals
the Spark paths it skips, and corrected micro rows agree across census
strategies."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pgd_spark.graph import Graph, normalize_edges
from pgd_spark.operators.graphlets import (
    check_identities,
    edge_graphlet_counts,
    macro_counts,
    micro_counts,
)
from pgd_spark.operators.pregel import IterationLog, connected_components
from tests.conftest import make_graph

edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=120
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_normalize_canonical_and_idempotent(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    n1 = normalize_edges(df)
    rows = [(r["src"], r["dst"]) for r in n1.collect()]
    # canonical: src < dst, no dupes, matches the set-normalized input
    assert all(a < b for a, b in rows)
    assert len(set(rows)) == len(rows)
    want = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert set(rows) == want
    # idempotent
    n2 = normalize_edges(n1)
    assert sorted((r["src"], r["dst"]) for r in n2.collect()) == sorted(rows)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_identities_hold_on_arbitrary_graphs(spark, edges):
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    if g.num_edges() == 0:
        return
    t = macro_counts(g, strategy="broadcast")
    assert all(check_identities(t).values())
    # every total non-negative
    assert all(v >= 0 for k, v in t.items() if k.startswith("total"))


def test_skewed_hub_graph_strategy_equality(spark):
    """Hub-heavy graph (star hubs + random tail): both physical
    strategies agree edge-for-edge — skew handling changes plans,
    never results."""
    import random

    rng = random.Random(5)
    edges = [(0, i) for i in range(1, 120)]           # hub 0
    edges += [(1, i) for i in range(60, 180)]          # hub 1 overlapping
    edges += [(rng.randrange(2, 180), rng.randrange(2, 180)) for _ in range(300)]
    g = make_graph(spark, edges)
    a = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
    b = sorted(map(tuple, edge_graphlet_counts(g, "distributed").collect()))
    assert a == b


#: random edges over a few id ranges (so several components), plus
#: up to two planted hubs joined to a random subset of the vertices
hub_graphs = st.tuples(
    st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)), min_size=1, max_size=80),
    st.lists(st.tuples(st.integers(0, 60), st.sets(st.integers(0, 60), min_size=5)),
             max_size=2),
)


def _hub_pairs(graph) -> list[tuple[int, int]]:
    edges, hubs = graph
    # spread the endpoints over three id ranges (x // 21 picks one)
    pairs = [(a + 1000 * (a // 21), b + 1000 * (a // 21)) for a, b in edges]
    pairs += [(1000 * (h // 21) + h, 1000 * (h // 21) + w) for h, ws in hubs for w in ws]
    return pairs


def _hub_graph(spark, graph) -> Graph:
    return make_graph(spark, _hub_pairs(graph))


@settings(max_examples=40, deadline=None)
@given(hub_graphs)
def test_c_kernel_equals_loop_kernel_on_hub_graphs(graph):
    """The census's kernel axis: the C kernel's per-edge (tri, cliq,
    cyc) equal the numpy loop's on the oriented state of planted-hub
    graphs."""
    from pgd_spark.operators.ckernel import edge_counts_batch_c, get_lib
    from pgd_spark.operators.kernels import _oriented_state, edge_counts_batch

    if get_lib() is None:
        pytest.skip("no C toolchain on this host")
    canon = sorted({(min(a, b), max(a, b)) for a, b in _hub_pairs(graph) if a != b})
    if not canon:
        return
    src, dst = (np.array(col, dtype=np.int64) for col in zip(*canon))
    uniq, indptr, indices, ov, ou, _ = _oriented_state(src, dst)
    loop = edge_counts_batch(ov, ou, indptr, indices, len(uniq))
    c = edge_counts_batch_c(ov, ou, indptr, indices, len(uniq))
    for want, got in zip(loop, c):
        assert got.tolist() == want.tolist()


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(hub_graphs)
def test_driver_tail_equals_spark_placement(spark, graph):
    g = _hub_graph(spark, graph)
    if g.num_edges() == 0:
        return
    counts = edge_graphlet_counts(g, "broadcast")
    tagged = macro_counts(g, counts=counts)
    assert tagged == macro_counts(g, counts=counts.filter(F.lit(True)))

    log = IterationLog()
    driver = sorted(map(tuple, connected_components(g, log=log).collect()))
    assert log.entries[-1]["placement"] == "driver"
    fresh = Graph(g.edges, already_canonical=True)
    assert driver == sorted(map(tuple, connected_components(fresh).collect()))


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(hub_graphs, st.one_of(st.none(), st.integers(0, 8)))
def test_corrected_micro_strategy_equality(spark, monkeypatch, graph, hot_threshold):
    """micro_counts(pgd_quirk=False) rows are equal under the driver
    census and the Catalyst census, at the default hot-vertex threshold
    and at drawn ones that split wedge vertices between the hot and
    cold routes of both two-hop passes."""
    from pgd_spark.operators import graphlets

    g = _hub_graph(spark, graph)
    if g.num_edges() == 0:
        return
    with monkeypatch.context() as mp:
        if hot_threshold is not None:
            mp.setattr(graphlets, "_hot_threshold", lambda m, n: hot_threshold)
        rows = {
            s: sorted(map(tuple, micro_counts(g, strategy=s, pgd_quirk=False).collect()))
            for s in ("broadcast", "distributed")
        }
    assert rows["broadcast"] == rows["distributed"]
