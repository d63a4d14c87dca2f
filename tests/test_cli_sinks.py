"""CLI + writer parity: macro name=value file, micro CSV header
(graphlet_core.cpp:1674-1684), GFD files."""

import os

from pgd_spark.operators.graphlets import macro_counts, micro_counts
from pgd_spark.sinks import (
    MICRO_HEADER,
    write_gfd,
    write_macro_stats,
    write_micro_stats,
)
from tests.conftest import make_graph

DATA = os.path.join(os.path.dirname(__file__), "data")

K4_EDGE = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]


def test_macro_file_format(spark, tmp_path):
    g = make_graph(spark, K4_EDGE)
    t = macro_counts(g)
    p = tmp_path / "out.macro"
    write_macro_stats(t, str(p))
    lines = p.read_text().strip().splitlines()
    assert lines[0] == "total_2_1edge = 7"
    assert "total_4_clique = 1" in lines
    assert "total_4_tailed_tris = 3" in lines
    assert len(lines) == 17


def test_micro_csv_header_and_rows(spark, tmp_path):
    g = make_graph(spark, K4_EDGE)
    p = tmp_path / "out.micro"
    write_micro_stats(micro_counts(g), str(p))
    lines = p.read_text().strip().splitlines()
    assert lines[0] == MICRO_HEADER
    assert len(lines) == 1 + 7
    # K4 edge (1,2): tri=2, 2star=0, clique=1, rest 0
    assert lines[1] == "1,2,2,0,1,0,0,0,0,0"
    # pendant edge (4,5): tri=0, 2star=3, 3star=3
    assert lines[-1] == "4,5,0,3,0,0,0,0,3,0"


def test_gfd_files(spark, tmp_path):
    g = make_graph(spark, K4_EDGE)
    t = macro_counts(g)
    for which, n_lines in [("connected", 6), ("disconnected", 5), ("all", 11)]:
        p = tmp_path / f"{which}.gfd"
        write_gfd(t, str(p), which)
        lines = p.read_text().strip().splitlines()
        assert len(lines) == n_lines
        vals = [float(line.split("\t")[1]) for line in lines]
        assert abs(sum(vals) - 1.0) < 1e-9


def test_cli_main(spark, tmp_path, capsys):
    from pgd_spark.cli import main

    macro = tmp_path / "k4.macro"
    rc = main(["-f", os.path.join(DATA, "4-clique.txt"), "--macro", str(macro), "-v"])
    assert rc == 0
    assert "total_4_clique = 1" in macro.read_text()
    assert "identity checks: ALL OK" in capsys.readouterr().out

    # -a approximate writes the sampled totals; they carry no ΣN_i sums,
    # so -v prints no identity-check line
    macro = tmp_path / "dd21.macro"
    argv = ["-f", os.path.join(DATA, "DD21.mtx"), "-a", "approximate", "--fraction", "0.5",
            "-v", "--macro", str(macro)]
    assert main(argv) == 0
    out = capsys.readouterr().out
    assert "approximate census (fraction≈" in out
    assert "identity checks" not in out
    lines = macro.read_text().strip().splitlines()
    assert len(lines) == 17 and lines[0].startswith("total_2_1edge = ")
