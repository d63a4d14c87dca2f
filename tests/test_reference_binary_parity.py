"""Exact parity vs the ACTUAL reference binary.

tests/golden/ref_*.{macro,micro} were produced by compiling the
reference (g++ -O3 -fopenmp; one C++11 bool-conversion fix in
fexists()) and running `./pgd -f <graph> --macro ... --micro ...` on
the bundled graphs.  These tests assert our engine reproduces the
binary's 17 macro totals exactly and every per-edge micro row exactly.

Micro id note: the reference prints 1-based internal ids remapped by
FIRST APPEARANCE in the input file (graphlet_core.cpp:393-403, printed
+1 at cpp:1694); we reconstruct that mapping from the file to compare
rows keyed by original vertex ids (FIXTURES.md §4: match on keys, not
row order).

Graph inputs: tests/data/ holds the bundled graphs rebuilt from these
goldens (FIXTURES.md §2; tools/build_ref_fixtures.py).  The tiny graphs
follow FIXTURES.md §2-4; DD21 and C250-9 are the golden micro rows'
endpoint pairs, written as sorted lower-triangle MatrixMarket.  That is
the row order the binary read: the byte-identical E_ordered test
reproduces all four micro goldens from it.  C500-9 has only a macro
golden, so its edges are recorded nowhere in the repo; its case reads
/root/reference/data/C500-9.mtx and is skipped where that file is absent.
"""

import os

import pytest

from pgd_spark.operators.graphlets import macro_counts, micro_counts
from pgd_spark.sources.readers import read_graph

HERE = os.path.dirname(__file__)
GOLDEN = os.path.join(HERE, "golden")
DATA = os.path.join(HERE, "data")
C500_9 = "/root/reference/data/C500-9.mtx"

MACRO_KEYS_IN_FILE = [
    "total_2_1edge", "total_2_indep", "total_3_tris", "total_2_star",
    "total_3_1edge", "total_3_indep", "total_4_clique", "total_4_chordcycle",
    "total_4_tailed_tris", "total_4_cycle", "total_3_star", "total_4_path",
    "total_4_1edge", "total_4_2edge", "total_4_2star", "total_4_tri",
    "total_4_indep",
]

CASES = {
    "4-clique": f"{DATA}/4-clique.txt",
    "4-chordal-cycle": f"{DATA}/4-chordal-cycle.txt",
    "4-clique-and-edge": f"{DATA}/4-clique-and-edge.txt",
    "DD21": f"{DATA}/DD21.mtx",
    "C250-9": f"{DATA}/C250-9.mtx",
    "C500-9": C500_9,  # 112k edges, density 0.9 — 1.37G 4-cliques
}


def _load_macro(name):
    out = {}
    with open(f"{GOLDEN}/ref_{name}.macro") as f:
        for line in f:
            k, v = line.split("=")
            out[k.strip()] = int(float(v.strip()))
    return out


def _first_appearance_map(path):
    """original id → dense internal id, reference reader order
    (cpp:393-403 edge list; mtx reader shares the relabel-by-first-
    appearance behavior)."""
    mapping = {}
    is_mtx = path.endswith(".mtx")
    first_data = True
    with open(path) as f:
        for line in f:
            s = line.strip()
            if not s or s[0] in "#%":
                continue
            if is_mtx and first_data:
                first_data = False  # dims row
                continue
            toks = s.replace(",", " ").split()
            try:
                a, b = int(toks[0]), int(toks[1])
            except ValueError:
                continue
            if is_mtx or True:
                pass
            if a == b:
                continue
            for x in (a, b):
                if x not in mapping:
                    mapping[x] = len(mapping)
    return mapping


def _load_micro(name, graph_file):
    """ref micro rows keyed by canonical ORIGINAL (src,dst).

    Edge-list inputs: ids relabel by first appearance (cpp:393-403),
    printed +1.  MTX inputs: strict reader (cpp:459-522) uses the
    1-based ids directly (decrement then reprint +1 → identity).
    """
    if graph_file.endswith(".mtx"):
        class _Identity(dict):
            def __missing__(self, k):
                return k

        inv = _Identity()
    else:
        mapping = _first_appearance_map(graph_file)
        inv = {d + 1: o for o, d in mapping.items()}  # printed ids are dense+1
    rows = {}
    with open(f"{GOLDEN}/ref_{name}.micro") as f:
        header = f.readline()
        assert header.startswith("% src,dst")
        for line in f:
            parts = [int(x) for x in line.strip().split(",")]
            a, b = inv[parts[0]], inv[parts[1]]
            rows[(min(a, b), max(a, b))] = tuple(parts[2:])
    return rows


@pytest.mark.parametrize("name", [n for n in CASES if n != "C500-9"] + [
    pytest.param("C500-9", marks=pytest.mark.skipif(
        not os.path.exists(C500_9),
        reason=f"{C500_9} not present; only its macro golden is committed",
    )),
])
def test_macro_matches_reference_binary(spark, name):
    g = read_graph(spark, CASES[name])
    got = macro_counts(g, strategy="broadcast")
    want = _load_macro(name)
    for k in MACRO_KEYS_IN_FILE:
        assert got[k] == want[k], (name, k, got[k], want[k])


@pytest.mark.parametrize("name", ["4-clique", "4-chordal-cycle", "4-clique-and-edge", "DD21"])
def test_micro_matches_reference_binary(spark, name):
    g = read_graph(spark, CASES[name])
    got = {
        (r["src"], r["dst"]): (
            r["triangle"], r["two_star"], r["clique4"], r["chordal_cycle4"],
            r["tailed_tri4"], r["cycle4"], r["star3"], r["path4"],
        )
        for r in micro_counts(g, strategy="broadcast", pgd_quirk=True).collect()
    }
    want = _load_micro(name, CASES[name])
    assert len(got) == len(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])


@pytest.mark.parametrize("name", ["4-clique", "4-chordal-cycle", "4-clique-and-edge", "DD21"])
def test_micro_reference_order_byte_identical(spark, name, tmp_path):
    """write_micro_stats(reference_order=True) reproduces the binary's
    micro CSV byte-for-byte (E_ordered row order, 1-based dense ids)."""
    from pgd_spark.sinks import write_micro_stats

    g = read_graph(spark, CASES[name], track_lineage=True)
    micro = micro_counts(g, strategy="broadcast", pgd_quirk=True)
    out = tmp_path / "micro.csv"
    write_micro_stats(micro, str(out), output_id=True, graph=g, reference_order=True)
    got = out.read_text()
    want = open(f"{GOLDEN}/ref_{name}.micro").read()
    assert got == want


def test_first_appearance_densify_matches_reference_map(spark):
    """Engine-native Graph.densify(order='first_appearance') equals the
    externally reconstructed reference relabel (cpp:393-403)."""
    path = CASES["4-clique-and-edge"]
    g = read_graph(spark, path, track_lineage=True)
    _dense, mapping = g.densify(order="first_appearance")
    got = {r["orig"]: r["id"] for r in mapping.collect()}
    assert got == _first_appearance_map(path)
