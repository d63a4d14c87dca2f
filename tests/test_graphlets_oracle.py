"""Property tests: engine vs exhaustive brute-force census on random
graphs, plus the reference's ten ΣN_i identities (cpp:1275-1305)."""

import random

import pytest

from pgd_spark.operators.graphlets import (
    check_identities,
    macro_counts,
    micro_counts,
)
from tests.conftest import make_graph
from tests.oracle import census, micro


def gnp(n, p, seed):
    rng = random.Random(seed)
    return [(i, j) for i in range(n) for j in range(i + 1, n) if rng.random() < p]


CASES = [(12, 0.3, 1), (20, 0.25, 2), (30, 0.15, 3), (25, 0.5, 4), (40, 0.1, 5)]


@pytest.mark.parametrize("n,p,seed", CASES)
@pytest.mark.parametrize("strategy", ["broadcast", "distributed"])
def test_macro_vs_bruteforce(spark, n, p, seed, strategy):
    edges = gnp(n, p, seed)
    if not edges:
        pytest.skip("empty graph")
    g = make_graph(spark, edges)
    got = macro_counts(g, strategy=strategy)
    want = census(edges)
    for k, v in want.items():
        if k == "global_cc":
            assert got[k] == pytest.approx(v)
        else:
            assert got[k] == v, (k, got[k], v)
    assert all(check_identities(got).values())


@pytest.mark.parametrize("n,p,seed", CASES[:3])
@pytest.mark.parametrize("quirk", [True, False])
def test_micro_vs_bruteforce(spark, n, p, seed, quirk):
    edges = gnp(n, p, seed)
    g = make_graph(spark, edges)
    rows = micro_counts(g, strategy="broadcast", pgd_quirk=quirk).collect()
    got = {
        (r["src"], r["dst"]): (
            r["triangle"], r["two_star"], r["clique4"], r["chordal_cycle4"],
            r["tailed_tri4"], r["cycle4"], r["star3"], r["path4"],
        )
        for r in rows
    }
    assert got == micro(edges, pgd_quirk=quirk)


def test_barabasi_albert_like(spark):
    # preferential-attachment-ish graph: denser hubs exercise skew paths
    rng = random.Random(42)
    edges, targets = [], [0, 1, 2]
    for v in range(3, 60):
        for t in rng.sample(targets, 3):
            edges.append((v, t))
        targets.extend([v] * 3)
    g = make_graph(spark, edges)
    got = macro_counts(g, strategy="distributed")
    want = census(edges)
    for k in want:
        if k != "global_cc":
            assert got[k] == want[k], k


def test_corrected_tailed_hub_skew(spark):
    """micro_counts(pgd_quirk=False) on a hub graph: the corrected
    tailed pass now routes hub wedge vertices through edge-key pair
    probes (hot path) instead of funneling every hub row into one
    adjacency-intersect reducer — values must equal the brute-force
    oracle regardless of which physical route each vertex takes, with
    the hub far past the hot threshold."""
    rng = random.Random(9)
    hub_deg = 600  # >> max(256, 8*avg_deg): the hub takes the hot path
    edges = {(0, i) for i in range(1, hub_deg + 1)}
    # ring + chords among the spokes so W-sets have adjacent pairs
    for i in range(1, hub_deg, 2):
        edges.add((i, i % hub_deg + 1))
    edges |= {tuple(sorted(rng.sample(range(1, hub_deg + 1), 2))) for _ in range(400)}
    # a few pendant tails hanging off spokes (pure tailed-tri fodder)
    edges |= {(i, 10_000 + i) for i in range(1, 40)}
    edges = sorted(edges)
    g = make_graph(spark, edges)
    rows = micro_counts(g, strategy="distributed", pgd_quirk=False).collect()
    got = {
        (r["src"], r["dst"]): (
            r["triangle"], r["two_star"], r["clique4"], r["chordal_cycle4"],
            r["tailed_tri4"], r["cycle4"], r["star3"], r["path4"],
        )
        for r in rows
    }
    assert got == micro(edges, pgd_quirk=False)
    # and the per-edge tailed counts close against the macro total:
    # every induced tailed-triangle has exactly one tail edge
    total_tailed = sum(v[4] for v in got.values())
    from pgd_spark.operators.graphlets import macro_counts as _mc

    assert total_tailed == _mc(g, strategy="distributed")["total_4_tailed_tris"]


def _planted_hub_edges():
    """A degree-48 hub over a ring with chords, plus a pendant path off
    the spokes: wedge sets on both sides of many edges, with adjacent
    pairs inside them (tailed triangles) and across them (4-cycles)."""
    rng = random.Random(11)
    hub = 48
    edges = {(0, i) for i in range(1, hub + 1)}
    edges |= {(i, i + 1) for i in range(1, hub, 2)}
    edges |= {tuple(sorted(rng.sample(range(1, hub + 1), 2))) for _ in range(30)}
    edges |= {(i, 1000 + i) for i in range(1, 16)}
    edges |= {(1000 + i, 1001 + i) for i in range(1, 15)}
    return sorted(edges)


def _micro_rows(frame):
    return {
        (r["src"], r["dst"]): (
            r["triangle"], r["two_star"], r["clique4"], r["chordal_cycle4"],
            r["tailed_tri4"], r["cycle4"], r["star3"], r["path4"],
        )
        for r in frame.collect()
    }


@pytest.mark.parametrize("route", ["hot", "cold"])
def test_distributed_hub_routing_matches_oracle(spark, monkeypatch, route):
    """Every wedge vertex of the census's 4-cycle pass AND of the
    corrected tailed pass takes one route of the shared pair-hit split:
    threshold 0 makes every vertex hot (edge-key probes), a threshold at
    the max degree makes every vertex cold (adjacency intersects)."""
    from pgd_spark.operators import graphlets

    edges = _planted_hub_edges()
    want = micro(edges, pgd_quirk=False)
    assert any(r[4] for r in want.values()) and any(r[5] for r in want.values())
    g = make_graph(spark, edges)
    thr = 0 if route == "hot" else g.max_degree()
    monkeypatch.setattr(graphlets, "_hot_threshold", lambda m, n: thr)
    n_hot = graphlets._TwoHop(g).hot.count()
    assert n_hot == (g.num_vertices() if route == "hot" else 0)
    assert _micro_rows(micro_counts(g, strategy="distributed", pgd_quirk=False)) == want


def _persisted(spark) -> set:
    # ids, not a count: the context cleaner may drop other tests' RDDs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_derived_operators_release_distributed_census(spark, monkeypatch):
    """Operators that build the distributed counts themselves carry its
    persisted two-hop base on their output: release_internal_caches on
    that output frees it."""
    from pgd_spark.operators import graphlets
    from pgd_spark.operators.graphlets import release_internal_caches
    from pgd_spark.operators.pregel import triangle_count_per_vertex
    from pgd_spark.operators.vertex_micro import vertex_micro_counts

    g = make_graph(spark, _planted_hub_edges())
    macro_counts(g, strategy="distributed")  # materializes the Graph's own caches
    census = graphlets.edge_graphlet_counts
    monkeypatch.setattr(
        graphlets, "edge_graphlet_counts", lambda g, strategy="auto": census(g, "distributed")
    )
    for op in (
        micro_counts,
        lambda g: micro_counts(g, pgd_quirk=False),
        vertex_micro_counts,
        triangle_count_per_vertex,
    ):
        before = _persisted(spark)
        out = op(g)
        out.collect()
        base = _persisted(spark) - before
        assert len(base) == 1
        release_internal_caches(out)
        assert not base & _persisted(spark)


@pytest.mark.parametrize("strategy", ["broadcast", "distributed"])
def test_approximate_census_leaves_no_cache(spark, strategy):
    """The sampled census persists nothing that outlives it: no sample
    frame, and on the distributed path no two-hop base.  The Graph's
    own caches are materialized first, by an exact census."""
    from pgd_spark.operators.approximate import approximate_macro_counts

    g = make_graph(spark, gnp(60, 0.15, 11))
    macro_counts(g, strategy=strategy)
    before = _persisted(spark)
    approximate_macro_counts(g, fraction=0.5, strategy=strategy)
    assert _persisted(spark) <= before


def test_tailed_pass_plans_the_two_hop_join_once_per_branch(spark):
    """Both wedge sides of the corrected tailed pass leave one projection
    of the (un-persisted) two-hop join, so its executed plan computes
    W_u and W_v in one Project per pair-hit branch (hot, cold): two
    copies of ``ori ⋈ N(v) ⋈ N(u)``, not one per side and branch."""
    from pgd_spark.operators.graphlets import _with_tailed_raw
    from pgd_spark.sources.synthetic import random_graph

    g = random_graph(spark, 2000, 10000, seed=5, skew=0.3)
    out = _with_tailed_raw(g, g.oriented().select("v", "u"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    wedges = [ln for ln in plan.splitlines() if "Project [" in ln and "array_except" in ln]
    assert len(wedges) == 2, wedges
    assert all(" AS wu#" in ln and " AS wv#" in ln for ln in wedges)
