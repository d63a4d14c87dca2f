"""The census chain's job economy: one range task per core in the
broadcast census, graph sizes recorded from the driver's edge copy,
CC's fixpoint delta taken inside its last round, conf parsing on those
paths, and the fail-fast marker after a failed kernel compile."""

import glob
import os
import random
import time

import networkx as nx
import pytest

from pgd_spark.graph import Graph
from tests.conftest import make_graph


def _hub_graph(seed: int, n: int = 60, p: float = 0.08, hub_deg: int = 40):
    """G(n, p) plus one vertex joined to ``hub_deg`` others."""
    rnd = random.Random(seed)
    pairs = {(a, b) for a in range(n) for b in range(a + 1, n) if rnd.random() < p}
    hub = n
    pairs |= {(v, hub) for v in rnd.sample(range(n), hub_deg)}
    return sorted(pairs)


def _fresh_sizes(g: Graph) -> tuple[int, int]:
    fresh = Graph(g.edges, already_canonical=True)
    return fresh.num_vertices(), fresh.num_edges()


# ---------------------------------------------------------- conf parsing
class _StubConf:
    def __init__(self, values):
        self.values = values

    def get(self, key, default=None):
        return self.values.get(key, default)


class _StubSpark:
    def __init__(self, values, par=7):
        self.conf = _StubConf(values)
        self.sparkContext = type("SC", (), {"defaultParallelism": par})()


def test_conf_helpers_on_stub_confs():
    from pgd_spark.session import parse_size_bytes, shuffle_width

    assert shuffle_width(_StubSpark({"spark.sql.shuffle.partitions": "12"})) == 12
    assert shuffle_width(_StubSpark({"spark.sql.shuffle.partitions": "auto"})) == 7
    assert shuffle_width(_StubSpark({})) == 7
    assert shuffle_width(_StubSpark({"spark.sql.shuffle.partitions": "0"})) == 1
    conf = _StubConf({"spark.sql.autoBroadcastJoinThreshold": "64m"})
    got = parse_size_bytes(conf.get("spark.sql.autoBroadcastJoinThreshold", "67108864"), 0)
    assert got == 64 * 1024 * 1024


def test_distributed_census_with_suffixed_broadcast_threshold(spark):
    from pgd_spark.operators.graphlets import MACRO_KEYS, macro_counts

    pairs = _hub_graph(seed=3)
    want = macro_counts(make_graph(spark, pairs), strategy="broadcast")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    try:
        got = macro_counts(make_graph(spark, pairs), strategy="distributed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for k in MACRO_KEYS:
        assert got[k] == want[k], k


# ------------------------------------------------------ broadcast census
@pytest.mark.parametrize("pairs", [[(0, 1), (1, 2), (0, 2)], _hub_graph(seed=1)])
def test_broadcast_census_runs_one_task_per_core(spark, pairs):
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    g = make_graph(spark, pairs)
    counts = edge_graphlet_counts(g, strategy="broadcast")
    par = spark.sparkContext.defaultParallelism
    assert counts.rdd.getNumPartitions() == min(par, len(pairs))


def test_broadcast_census_records_graph_sizes(spark):
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    g = make_graph(spark, _hub_graph(seed=2))
    edge_graphlet_counts(g, strategy="broadcast")
    assert g._n is not None and g._m is not None and g._degrees is None
    assert (g.num_vertices(), g.num_edges()) == _fresh_sizes(g)


def test_sampled_census_records_graph_sizes(spark):
    from pgd_spark.operators.approximate import approximate_macro_counts

    g = make_graph(spark, _hub_graph(seed=4))
    t = approximate_macro_counts(g, fraction=0.5, strategy="broadcast")
    assert g._degrees is None
    assert (g.num_vertices(), g.num_edges()) == _fresh_sizes(g)
    assert t["total_2_1edge"] == g.num_edges()


def test_sampled_broadcast_census_runs_only_the_census_jobs(spark):
    """With strategy="broadcast" the sampled census reads m after its
    census, which records it, and takes its moments from the census's
    tag: no count job and no aggregation beside the edge collect."""
    from pgd_spark.operators.approximate import approximate_macro_counts
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    sc = spark.sparkContext

    def jobs(op, group):
        g = make_graph(spark, _hub_graph(seed=6))
        sc.setJobGroup(group, group)
        try:
            op(g)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    census = jobs(lambda g: edge_graphlet_counts(g, "broadcast"), "census-jobs")
    sampled = jobs(lambda g: approximate_macro_counts(g, 0.5, strategy="broadcast"), "sampled-jobs")
    assert census >= 1 and sampled == census


def test_macro_counts_from_counts_needs_no_degrees(spark):
    from pgd_spark.operators.graphlets import MACRO_KEYS, edge_graphlet_counts, macro_counts

    g = make_graph(spark, _hub_graph(seed=5))
    c = edge_graphlet_counts(g, strategy="broadcast")
    t = macro_counts(g, counts=c)
    assert g._degrees is None
    # a fresh graph's macro_counts reads n from its Catalyst degrees
    want = macro_counts(make_graph(spark, _hub_graph(seed=5)), strategy="broadcast")
    for k in MACRO_KEYS:
        assert t[k] == want[k], k


# -------------------------------------------------------------------- CC
def test_cc_stops_inside_the_converging_block(spark):
    from pgd_spark.operators.pregel import IterationLog, connected_components

    # two stars: the array_min start is already the fixpoint
    g = make_graph(spark, [(0, i) for i in range(1, 6)] + [(10, i) for i in range(11, 14)])
    log = IterationLog()
    got = {r["v"]: r["component"] for r in connected_components(g, log=log).collect()}
    assert got == {**{i: 0 for i in range(6)}, **{i: 10 for i in range(10, 14)}}
    assert len(log.entries) == 1
    assert log.entries[0]["changed"] == 0


def test_cc_single_round_budget_checkpoints_round_zero(spark, tmp_path):
    from pgd_spark.operators.pregel import IterationLog, connected_components

    g = make_graph(spark, [(i, i + 1) for i in range(6)])
    ck = str(tmp_path / "ck")
    log = IterationLog()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = {r["v"]: r["component"] for r in connected_components(
            g, checkpoint_dir=ck, max_iter=1, log=log).collect()}
    # round 0 alone: each vertex takes the min of its closed neighbourhood
    assert got == {v: max(v - 1, 0) for v in range(7)}
    assert sorted(os.listdir(os.path.join(ck, "cc"))) == ["iter=00000", "metrics.jsonl"]
    assert [(e["iter"], e["rounds"], e["changed"]) for e in log.entries] == [(0, 0, 6)]
    resumed = {r["v"]: r["component"] for r in connected_components(g, checkpoint_dir=ck).collect()}
    assert resumed == {v: 0 for v in range(7)}


def test_cc_labels_match_networkx(spark):
    from pgd_spark.operators.pregel import IterationLog, connected_components

    rnd = random.Random(9)
    pairs = []
    # several components of varied diameter, ids interleaved
    for c in range(5):
        members = list(range(c, 200, 5))[: 8 + 6 * c]
        rnd.shuffle(members)
        pairs += [(members[i], members[i + 1]) for i in range(len(members) - 1)]
        pairs += [tuple(rnd.sample(members, 2)) for _ in range(c)]
    g = make_graph(spark, pairs)
    log = IterationLog()
    got = {r["v"]: r["component"] for r in connected_components(g, log=log).collect()}
    G = nx.Graph()
    G.add_edges_from(pairs)
    want = {v: min(comp) for comp in nx.connected_components(G) for v in comp}
    assert got == want
    assert log.entries[-1]["changed"] == 0
    assert all(e["changed"] > 0 for e in log.entries[:-1])


# ------------------------------------------------------- kernel compile
def test_failed_compile_marker_fails_fast(tmp_path, monkeypatch):
    import pgd_spark.operators.ckernel as ck

    stub = tmp_path / "cc"
    stub.write_text("#!/bin/sh\nexit 1\n")
    stub.chmod(0o755)
    monkeypatch.setattr(ck, "_compiler", lambda: str(stub))
    # a source of its own gives a content-keyed path of its own, so the
    # real kernel's library and markers are never touched
    monkeypatch.setattr(ck, "_C_SOURCE", ck._C_SOURCE + f"/* {tmp_path} */\n")
    base = ck._so_path()
    try:
        assert ck._build_lib() is None
        assert os.path.exists(base + ".failed")
        t0 = time.monotonic()
        assert ck._build_lib() is None
        assert time.monotonic() - t0 < 1.0
    finally:
        for p in glob.glob(base + "*"):
            os.rmdir(p) if os.path.isdir(p) else os.remove(p)
