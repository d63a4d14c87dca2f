"""The census chain's tail on the driver: after a broadcast census,
hashmin connected components runs over the CSR the census holds, and
macro_counts reads the term sums the census tagged on its frame.  Both
must equal the Spark paths they skip, which stay in place for every
other case."""

import os
import random
import re

import networkx as nx
import pytest
from pyspark.sql import functions as F

from pgd_spark.operators import graphlets
from pgd_spark.operators.approximate import approximate_macro_counts
from pgd_spark.operators.graphlets import MACRO_KEYS, edge_graphlet_counts, macro_counts
from pgd_spark.operators.pregel import IterationLog, connected_components
from tests.conftest import make_graph


def _components_graph(seed: int):
    """Two random blobs with a planted hub each, a long path and an
    isolated edge: several components, one of diameter 40."""
    rnd = random.Random(seed)
    pairs = set()
    for base, n in ((0, 120), (500, 80)):
        pairs |= {tuple(sorted(rnd.sample(range(base, base + n), 2))) for _ in range(3 * n)}
        pairs |= {(base, w) for w in rnd.sample(range(base + 1, base + n), n // 2)}
    pairs |= {(900 + i, 901 + i) for i in range(40)}
    pairs.add((2000, 2001))
    return sorted(pairs)


def _census_graph(spark, pairs):
    g = make_graph(spark, pairs)
    edge_graphlet_counts(g, "broadcast").count()
    assert g._census_state is not None
    return g


def _labels(df):
    return sorted(map(tuple, df.collect()))


def _run_cc(g, **kw):
    log = IterationLog()
    return _labels(connected_components(g, log=log, **kw)), log.entries


@pytest.mark.parametrize("seed", [1, 2])
def test_driver_cc_equals_spark_and_networkx(spark, seed):
    pairs = _components_graph(seed)
    got, log = _run_cc(_census_graph(spark, pairs))
    assert [e["placement"] for e in log] == ["driver"]
    assert set(log[0]) == {"algo", "iter", "rounds", "changed", "seconds", "placement"}
    assert log[0]["algo"] == "cc" and log[0]["changed"] == 0
    assert log[0]["rounds"] == log[0]["iter"] >= 40  # the path needs 40 rounds

    spark_labels, spark_log = _run_cc(make_graph(spark, pairs))
    assert all("placement" not in e for e in spark_log)
    assert got == spark_labels
    want = sorted((v, min(comp)) for comp in nx.connected_components(nx.Graph(pairs)) for v in comp)
    assert got == want


def test_driver_cc_frame_matches_spark_schema(spark):
    pairs = _components_graph(3)
    driver = connected_components(_census_graph(spark, pairs))
    fresh = connected_components(make_graph(spark, pairs))
    assert driver.dtypes == fresh.dtypes == [("v", "bigint"), ("component", "bigint")]


# path of L edges: round r leaves vertex j labelled max(0, j - r - 1), so
# the last change is round L-1 and round L is the first to change nothing
@pytest.mark.parametrize(
    "length, max_iter",
    [(1, 0), (1, 1), (1, 2), (3, 3), (3, 4), (4, 4), (4, 5), (5, 8)],
)
def test_driver_cc_raises_iff_spark_raises(spark, length, max_iter):
    pairs = [(i, i + 1) for i in range(length)]

    def outcome(g):
        try:
            connected_components(g, max_iter=max_iter)
        except RuntimeError as e:
            assert "did not converge" in str(e)
            return "raised"
        return "converged"

    driver = outcome(_census_graph(spark, pairs))
    assert driver == outcome(make_graph(spark, pairs))
    assert driver == ("converged" if max_iter >= length + 1 else "raised")


def test_checkpoint_dir_keeps_the_spark_loop(spark, tmp_path):
    pairs = _components_graph(4)
    g = _census_graph(spark, pairs)
    ck = str(tmp_path / "ck")
    got, log = _run_cc(g, checkpoint_dir=ck)
    assert log and all("placement" not in e for e in log)
    assert any(d.startswith("iter=") for d in os.listdir(os.path.join(ck, "cc")))
    assert got == _run_cc(g)[0]


def test_unpersist_returns_cc_to_spark(spark):
    pairs = _components_graph(5)
    g = _census_graph(spark, pairs)
    driver, log = _run_cc(g)
    assert log[0]["placement"] == "driver"
    g.unpersist()
    again, log = _run_cc(g)
    assert log and all("placement" not in e for e in log)
    assert again == driver


# ------------------------------------------------------------------ macro
def _spark_side(counts):
    """A derived frame carries no tag, so macro_counts aggregates it in
    Spark."""
    return counts.filter(F.lit(True))


def _assert_same_totals(a: dict, b: dict):
    assert a["_nsums"] == b["_nsums"]
    assert a["_ksums"] == b["_ksums"]
    for k in MACRO_KEYS + ["total_wedges", "global_cc"]:
        assert a[k] == b[k], k


def _count_aggregations(monkeypatch):
    calls = []
    real = graphlets._spark_moments

    def spy(c, big):
        calls.append(big)
        return real(c, big)

    monkeypatch.setattr(graphlets, "_spark_moments", spy)
    return calls


def test_tagged_macro_equals_spark_aggregation(spark, monkeypatch):
    g = make_graph(spark, _components_graph(6))
    counts = edge_graphlet_counts(g, "broadcast").persist()
    assert counts._pgd_macro_moments[:2] == (g.num_vertices(), g.num_edges())
    calls = _count_aggregations(monkeypatch)
    tagged = macro_counts(g, counts=counts)
    assert calls == []  # no Spark aggregation ran
    _assert_same_totals(tagged, macro_counts(g, counts=_spark_side(counts)))
    assert calls == ["long"]
    assert all(graphlets.check_identities(tagged).values())


def test_decimal_regime_still_aggregates_in_spark(spark, monkeypatch):
    """Past the long bound the broadcast census tags nothing and the
    moments are summed as decimals in Spark: the tag, Spark long and
    Spark decimal(38,0) give the same totals and sums."""
    g = make_graph(spark, _components_graph(7))
    counts = edge_graphlet_counts(g, "broadcast")
    calls = _count_aggregations(monkeypatch)
    tagged = macro_counts(g, counts=counts)
    assert calls == []
    _assert_same_totals(tagged, macro_counts(g, counts=_spark_side(counts)))
    assert calls == ["long"]
    monkeypatch.setattr(graphlets, "_LONG_SUMS_BOUND", 0)
    dec_counts = edge_graphlet_counts(g, "broadcast")
    assert not hasattr(dec_counts, "_pgd_macro_moments")
    dec = macro_counts(g, counts=dec_counts)
    assert calls == ["long", "decimal(38,0)"]
    _assert_same_totals(tagged, dec)


@pytest.mark.parametrize("bound", [None, 0])
def test_spark_macro_aggregation_never_divides_or_uses_doubles(spark, monkeypatch, bound):
    """Spark's ``/`` on longs promotes to double (53-bit mantissa), so
    the optimized plan of the macro aggregation holds no Divide and no
    cast to double, in the long and the decimal regime alike."""
    if bound is not None:
        monkeypatch.setattr(graphlets, "_LONG_SUMS_BOUND", bound)
    g = make_graph(spark, _components_graph(11))
    counts = _spark_side(edge_graphlet_counts(g, "broadcast"))
    plans = []
    real = graphlets._spark_moments

    def spy(c, big):
        out = real(c, big)
        plans.append((big, out._jdf.queryExecution().optimizedPlan().toJSON()))
        return out

    monkeypatch.setattr(graphlets, "_spark_moments", spy)
    macro_counts(g, counts=counts)
    [(big, plan)] = plans
    assert big == ("long" if bound is None else "decimal(38,0)")
    exprs = set(re.findall(r"expressions\.(\w+)", plan))
    types = set(re.findall(r'"dataType":"([^"]+)"', plan))
    assert "Multiply" in exprs and "Divide" not in exprs
    assert "double" not in types
    assert ("decimal(38,0)" in types) == (bound is not None)


def test_predicate_and_distributed_frames_carry_no_tag(spark):
    g = make_graph(spark, _components_graph(8))
    assert not hasattr(edge_graphlet_counts(g, "broadcast", edge_predicate=F.lit(True)),
                       "_pgd_macro_moments")
    assert not hasattr(edge_graphlet_counts(g, "distributed"), "_pgd_macro_moments")


def test_sampled_census_tag_equals_spark_aggregation(spark, monkeypatch):
    pairs = _components_graph(9)
    calls = _count_aggregations(monkeypatch)
    tagged = approximate_macro_counts(make_graph(spark, pairs), fraction=0.5)
    assert calls == []
    real = graphlets._edge_counts_broadcast
    monkeypatch.setattr(
        graphlets, "_edge_counts_broadcast", lambda *a, **k: _spark_side(real(*a, **k))
    )
    untagged = approximate_macro_counts(make_graph(spark, pairs), fraction=0.5)
    assert calls == ["long"]
    assert tagged == untagged


def test_tag_is_skipped_when_sizes_differ(spark, monkeypatch):
    """A counts frame from another Graph cannot reuse its tag."""
    a = make_graph(spark, _components_graph(10))
    b = make_graph(spark, _components_graph(10) + [(3000, 3001)])
    counts = edge_graphlet_counts(a, "broadcast")
    edge_graphlet_counts(b, "broadcast").count()
    calls = _count_aggregations(monkeypatch)
    macro_counts(b, counts=counts)
    assert calls == ["long"]


def test_macro_sums_moments_equal_per_edge_terms(spark):
    """The sums of the census moments equal the per-edge terms summed in
    Python ints, up to the long-regime bound: the driver's numpy moments
    and Spark's long and decimal(38,0) moments alike."""
    import numpy as np

    rng = np.random.default_rng(7)
    for n, m in ((50, 300), (1 << 20, (1 << 22) - 1)):
        assert n * n * m < graphlets._LONG_SUMS_BOUND
        k = 64
        tri = rng.integers(0, n // 4, k)
        dv, du = (tri + 1 + rng.integers(0, n // 2, k) for _ in range(2))
        cliq, cyc = rng.integers(0, 1000, k), rng.integers(0, 1000, k)
        want = dict.fromkeys(["t_tri", "t_star", "t_disc", "t_cliq", "t_cyc"]
                             + [f"n{i}" for i in range(1, 11)], 0)
        for x, y, t, cl, cy in zip(*(a.tolist() for a in (dv, du, tri, cliq, cyc))):
            rv, ru = x - t - 1, y - t - 1
            star = rv + ru
            disc = n - (star + t) - 2
            for key, val in (
                ("t_tri", t), ("t_star", star), ("t_disc", disc), ("t_cliq", cl), ("t_cyc", cy),
                ("n1", (t + star) * (t + star - 1) // 2), ("n2", star * (star - 1) // 2),
                ("n3", t * (t - 1) // 2), ("n4", t * star), ("n5", rv * ru),
                ("n6", rv * (rv - 1) // 2 + ru * (ru - 1) // 2), ("n7", m - x - y + 1),
                ("n8", disc * (disc - 1) // 2), ("n9", star * disc), ("n10", t * disc),
            ):
                want[key] += val
        driver = graphlets._driver_moments(dv, du, tri, cliq, cyc)
        assert graphlets._macro_sums(n, m, driver) == want
        rows = spark.createDataFrame(
            list(zip(*(a.tolist() for a in (dv, du, tri, cliq, cyc)))),
            "deg_v long, deg_u long, tri long, cliq long, cyc long",
        )
        for big in ("long", "decimal(38,0)"):
            moments = tuple(int(x) for x in graphlets._spark_moments(rows, big).first())
            assert moments == driver, big
            assert graphlets._macro_sums(n, m, moments) == want
