"""The broadcast census's driver placement: the C kernel runs on driver
threads over the edges the driver collected, once per Graph, and the
per-edge rows reach Spark as one local DataFrame — no Python worker.
Also the two ways the C kernel can be unavailable: no toolchain, and a
library this user does not own."""

import os
import random
import warnings

import numpy as np
import pytest

from pgd_spark.operators import ckernel
from pgd_spark.operators.kernels import _oriented_state, count_edges, edge_counts_batch
from tests.conftest import make_graph


def _hub_pairs(seed: int, n: int = 300, m: int = 1500, hubs: int = 2, hub_deg: int = 120):
    """Random edges plus ``hubs`` vertices joined to ``hub_deg`` others
    each, in shuffled order."""
    rnd = random.Random(seed)
    pairs = {tuple(sorted(rnd.sample(range(n), 2))) for _ in range(m)}
    for h in range(hubs):
        pairs |= {tuple(sorted((h, w))) for w in rnd.sample(range(hubs, n), hub_deg)}
    pairs = sorted(pairs)
    rnd.shuffle(pairs)
    return pairs


def _arrays(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0].copy(), a[:, 1].copy()


def test_broadcast_census_plan_runs_no_python(spark):
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    g = make_graph(spark, _hub_pairs(seed=1, n=60, m=200, hub_deg=30))
    plan = edge_graphlet_counts(g, "broadcast")._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan
    assert "PythonMapInArrow" not in plan


def test_oriented_state_is_sorted_naive_orientation():
    src, dst = _arrays(_hub_pairs(seed=2))
    uniq, indptr, indices, ov, ou, deg = _oriented_state(src, dst)
    key = ov * len(uniq) + ou
    assert (np.diff(key) > 0).all()  # sorted by (v, u), no duplicates
    # naive: orient each edge by (degree, id) in original ids
    degree: dict[int, int] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        degree[a] = degree.get(a, 0) + 1
        degree[b] = degree.get(b, 0) + 1
    naive = sorted(
        (a, b) if (degree[a], a) < (degree[b], b) else (b, a)
        for a, b in zip(src.tolist(), dst.tolist())
    )
    dense = {x: i for i, x in enumerate(sorted(degree))}
    want = sorted((dense[a], dense[b]) for a, b in naive)
    assert list(zip(ov.tolist(), ou.tolist())) == want
    assert [degree[x] for x in uniq.tolist()] == deg.tolist()
    # CSR rows hold each vertex's sorted dense neighbors
    nbrs: dict[int, list[int]] = {i: [] for i in range(len(uniq))}
    for a, b in want:
        nbrs[a].append(b)
        nbrs[b].append(a)
    for x in range(len(uniq)):
        assert indices[indptr[x] : indptr[x + 1]].tolist() == sorted(nbrs[x])


@pytest.mark.parametrize("threads", [1, 3, 7])
def test_threaded_c_kernel_equals_loop(threads):
    if ckernel.get_lib() is None:
        pytest.skip("no C toolchain on this host")
    src, dst = _arrays(_hub_pairs(seed=3))
    uniq, indptr, indices, ov, ou, deg = _oriented_state(src, dst)
    want = edge_counts_batch(ov, ou, indptr, indices, len(uniq))
    got = count_edges(ov, ou, indptr, indices, len(uniq), threads=threads)
    for w, x in zip(want, got):
        assert np.array_equal(w, x)


def test_second_census_reuses_the_graph_state(spark, monkeypatch):
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    g = make_graph(spark, _hub_pairs(seed=4, n=80, m=300, hub_deg=40))
    first = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
    assert g._census_state is not None

    def no_collect(df):
        raise AssertionError("the census collected the edges again")

    monkeypatch.setattr(type(g.edges), "toArrow", no_collect)
    again = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
    assert again == first
    g.unpersist()
    assert g._census_state is None


def test_broadcast_census_collects_edges_with_arrow(spark, monkeypatch):
    """The broadcast census reads its edges with one Arrow collect, and
    its rows equal the distributed census's."""
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    pairs = _hub_pairs(seed=6, n=80, m=300, hub_deg=40)
    spark_rows = edge_graphlet_counts(make_graph(spark, pairs), "distributed").collect()
    g = make_graph(spark, pairs)

    def no_pandas(df):
        raise AssertionError("DataFrame.toPandas called")

    monkeypatch.setattr(type(g.edges), "toPandas", no_pandas)
    got = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
    assert g._census_state is not None
    assert got == sorted(map(tuple, spark_rows))


def test_sampled_census_equal_across_strategies(spark):
    from pgd_spark.operators.approximate import approximate_macro_counts

    pairs = _hub_pairs(seed=5, n=80, m=300, hub_deg=40)
    a = approximate_macro_counts(make_graph(spark, pairs), fraction=0.5, strategy="broadcast")
    b = approximate_macro_counts(make_graph(spark, pairs), fraction=0.5, strategy="distributed")
    assert a == b


# ------------------------------------------------------- C kernel absent
def test_no_toolchain_runs_loop_and_warns_once(spark, monkeypatch):
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    pairs = _hub_pairs(seed=6, n=80, m=300, hub_deg=40)
    want = sorted(map(tuple, edge_graphlet_counts(make_graph(spark, pairs), "broadcast").collect()))
    monkeypatch.setenv("PGD_SPARK_NO_CKERNEL", "1")
    monkeypatch.setattr(ckernel, "_TRIED", False)
    monkeypatch.setattr(ckernel, "_LIB", None)
    g = make_graph(spark, pairs)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
        edge_graphlet_counts(make_graph(spark, pairs), "broadcast").count()
    assert got == want
    fired = [w for w in caught if issubclass(w.category, RuntimeWarning)
             and "no C toolchain" in str(w.message)]
    assert len(fired) == 1


@pytest.mark.parametrize("foreign_owner", [False, True])
def test_unsafe_library_is_not_loaded(tmp_path, monkeypatch, foreign_owner):
    """A library others can write, or one another user owns, is refused
    before ``CDLL`` runs it."""
    if foreign_owner and os.getuid() != 0:
        pytest.skip("handing a file to another user needs root")
    so = str(tmp_path / f"pgd_ckernel_test_u{os.getuid()}.so")
    for path in (so, so + ".done"):
        with open(path, "w") as f:
            f.write("x")
        os.chmod(path, 0o666)
    if foreign_owner:
        os.chmod(so, 0o700)
        os.chown(so, 1, -1)
    monkeypatch.setattr(ckernel, "_so_path", lambda: so)
    loads = []
    monkeypatch.setattr(ckernel.ctypes, "CDLL", lambda *a, **k: loads.append(a))
    assert ckernel._build_lib() is None
    assert loads == []
