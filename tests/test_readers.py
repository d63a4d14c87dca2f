"""Reader semantics vs the reference contract (README.md:79-93):
direction/weights ignored, self-loops and duplicate edges dropped,
1-based and 0-based ids accepted, comments skipped, extra columns
ignored, headers tolerated."""

import os

import pytest

from pgd_spark.operators.graphlets import macro_counts
from pgd_spark.sources.readers import read_edge_list, read_graph, read_mtx

# PGD's bundled graphs, rebuilt from the goldens (FIXTURES.md §2)
DATA = os.path.join(os.path.dirname(__file__), "data")
REF_DATA = "/root/reference/data"
SAMPLE_GRAPH = "/root/reference/sample_graph.csv"


def test_read_4clique_csv(spark):
    g = read_edge_list(spark, f"{DATA}/4-clique.txt")
    assert g.num_vertices() == 4 and g.num_edges() == 6
    assert macro_counts(g)["total_4_clique"] == 1


def test_read_4clique_edges_space_0based(spark):
    g = read_edge_list(spark, f"{DATA}/4-clique.edges")
    assert g.num_vertices() == 4 and g.num_edges() == 6
    assert macro_counts(g)["total_4_clique"] == 1


def test_read_diamond(spark):
    g = read_graph(spark, f"{DATA}/4-chordal-cycle.txt")
    assert macro_counts(g)["total_4_chordcycle"] == 1


def test_messy_edge_list(spark, tmp_path):
    p = tmp_path / "messy.csv"
    p.write_text(
        "# comment\n% other comment\nsrc,dst\n1,2\n2,1\n1,1\n1, 3\n2,3\n7,9\n1,2\n"
    )
    g = read_edge_list(spark, str(p))
    # dup (1,2)/(2,1) collapse, self-loop dropped, header -> (0,0) dropped
    assert g.num_edges() == 4
    assert g.num_vertices() == 5


def test_weighted_third_column_ignored(spark, tmp_path):
    p = tmp_path / "w.txt"
    p.write_text("1 2 0.5\n2 3 1.5\n")
    g = read_edge_list(spark, str(p))
    assert g.num_edges() == 2


def test_read_dd21_mtx(spark):
    g = read_mtx(spark, f"{DATA}/DD21.mtx")
    assert g.num_vertices() == 5748
    assert g.num_edges() == 14267


@pytest.mark.skipif(
    not os.path.exists(SAMPLE_GRAPH),
    reason=f"{SAMPLE_GRAPH} not present; its rows are recorded nowhere in the repo",
)
def test_sample_graph_csv_extra_columns(spark):
    # 10-column micro CSV reused as edge list; header becomes (0,0) self-loop
    g = read_edge_list(spark, SAMPLE_GRAPH)
    assert g.num_edges() <= 14267 and g.num_edges() > 14000


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason=f"{REF_DATA} not present")
@pytest.mark.parametrize("fname", [
    "4-clique.txt", "4-clique.edges", "4-chordal-cycle.txt",
    "4-clique-and-edge.txt", "DD21.mtx", "C250-9.mtx",
])
def test_rebuilt_fixture_matches_reference_file(spark, fname):
    """Each tests/data fixture holds the same graph as PGD's original."""

    def canon(path):
        g = read_graph(spark, path)
        return g.num_vertices(), {(r["src"], r["dst"]) for r in g.edges.collect()}

    assert canon(f"{DATA}/{fname}") == canon(f"{REF_DATA}/{fname}")


def test_from_pairs_and_csr(spark):
    from pgd_spark.graph import Graph

    g1 = Graph.from_pairs(spark, [(0, 1), (1, 0), (1, 1), (1, 2)])
    assert g1.num_edges() == 2  # dup + self-loop dropped (cpp:152-182)
    # triangle as CSR
    indptr = [0, 2, 4, 6]
    indices = [1, 2, 0, 2, 0, 1]
    g2 = Graph.from_csr(spark, indptr, indices)
    assert g2.num_edges() == 3
    assert macro_counts(g2)["total_3_tris"] == 1


def test_densify(spark):
    from tests.conftest import make_graph

    g = make_graph(spark, [(10, 20), (20, 7000), (7000, 10)])
    dg, mapping = g.densify()
    assert dg.num_vertices() == 3 and dg.num_edges() == 3
    ids = {r["id"] for r in mapping.collect()}
    assert ids == {0, 1, 2}


def test_adjacency_neighbor_orderings(spark):
    from tests.conftest import make_graph

    # path + triangle: degrees differ, so a degree order would differ
    g = make_graph(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    # id order (the kernel contract)
    for r in g.adjacency().collect():
        assert list(r["nbrs"]) == sorted(r["nbrs"])


def test_from_csr_vectorized(spark):
    from pgd_spark.graph import Graph

    # triangle 0-1-2 plus pendant 3
    indptr = [0, 2, 4, 7, 8]
    indices = [1, 2, 0, 2, 0, 1, 3, 2]
    g = Graph.from_csr(spark, indptr, indices)
    got = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert got == {(0, 1), (0, 2), (1, 2), (2, 3)}
    assert Graph.from_csr(spark, [0], []).num_edges() == 0
