"""Graphs with no or one edge through the census chain, under both
census strategies: the counts, the macro identities, the corrected
micro pass and connected components (on the driver after a broadcast
census, in Spark after a distributed one)."""

import pytest

from pgd_spark.graph import Graph
from pgd_spark.operators.graphlets import (
    check_identities,
    edge_graphlet_counts,
    macro_counts,
    micro_counts,
)
from pgd_spark.operators.pregel import IterationLog, connected_components

CASES = {
    "empty": ([], [], []),
    "self_loops_only": ([(1, 1), (2, 2)], [], []),
    "single_edge": ([(3, 7)], [(3, 7)], [(3, 3), (7, 3)]),
}


@pytest.mark.parametrize("strategy", ["broadcast", "distributed"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_census_chain_on_degenerate_graphs(spark, case, strategy):
    pairs, edges, components = CASES[case]
    g = Graph.from_pairs(spark, pairs)
    assert g.max_degree() == (1 if edges else 0)
    counts = edge_graphlet_counts(g, strategy)
    rows = counts.collect()
    assert [tuple(sorted((r.v, r.u))) for r in rows] == edges
    assert all(r.tri == 0 and r.cliq == 0 and r.cyc == 0 for r in rows)
    totals = macro_counts(g, counts=counts)
    assert all(check_identities(totals).values())
    assert totals["total_2_1edge"] == len(edges)
    assert all(v == 0 for k, v in totals.items() if k.startswith(("total_3", "total_4")))
    micro = micro_counts(g, strategy=strategy, pgd_quirk=False).collect()
    assert [(r.src, r.dst) for r in micro] == edges
    log = IterationLog()
    cc = connected_components(g, log=log)
    assert sorted(tuple(r) for r in cc.collect()) == components
    # the driver rounds follow a broadcast census only
    assert any(e.get("placement") == "driver" for e in log.entries) is (strategy == "broadcast")
