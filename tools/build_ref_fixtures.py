"""Rebuild PGD's bundled reference graphs into tests/data/.

The tiny graphs come from FIXTURES.md §2-4 (K4, the diamond, K4 plus
the pendant edge (4,5)).  DD21 and C250-9 come from the endpoint pairs
of the committed goldens tests/golden/ref_<name>.micro (MTX ids print
unchanged), with n read back from the macro golden:
total_2_indep = n(n-1)/2 - m.

Layout:
  - edge lists: one ``a,b`` line per edge, 1-based, a < b, sorted;
    ``4-clique.edges`` is K4 with 0-based ids separated by a space;
  - MatrixMarket: pattern symmetric banner, ``n n m`` dims line, then
    one lower-triangle entry ``row col`` (row > col) per edge, sorted
    by col, then row.

Run from anywhere:  python tools/build_ref_fixtures.py
"""

import math
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "golden")
DATA = os.path.join(ROOT, "tests", "data")

K4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
TINY = {
    "4-clique.txt": K4,
    "4-chordal-cycle.txt": [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)],
    "4-clique-and-edge.txt": K4 + [(4, 5)],
}
MTX = {"DD21.mtx": "DD21", "C250-9.mtx": "C250-9"}


def _golden_edges(name):
    edges = set()
    with open(os.path.join(GOLDEN, f"ref_{name}.micro")) as f:
        header = f.readline()
        assert header.startswith("% src,dst"), header
        for line in f:
            a, b = (int(x) for x in line.split(",")[:2])
            edges.add((min(a, b), max(a, b)))
    return edges


def _golden_n(name, m):
    with open(os.path.join(GOLDEN, f"ref_{name}.macro")) as f:
        macro = {k.strip(): int(float(v)) for k, v in (line.split("=") for line in f)}
    pairs = macro["total_2_indep"] + m  # n(n-1)/2
    n = (1 + math.isqrt(1 + 8 * pairs)) // 2
    assert n * (n - 1) // 2 == pairs, name
    return n


def _write(fname, lines):
    with open(os.path.join(DATA, fname), "w") as f:
        f.write("".join(line + "\n" for line in lines))


def main():
    os.makedirs(DATA, exist_ok=True)
    for fname, edges in TINY.items():
        _write(fname, sorted(f"{a},{b}" for a, b in edges))
    _write("4-clique.edges", sorted(f"{a - 1} {b - 1}" for a, b in K4))
    for fname, name in MTX.items():
        edges = _golden_edges(name)
        n = _golden_n(name, len(edges))
        assert {v for e in edges for v in e} == set(range(1, n + 1)), name
        body = [f"{b} {a}" for a, b in sorted(edges)]  # (col, row) order
        _write(fname, ["%%MatrixMarket matrix coordinate pattern symmetric",
                       f"{n} {n} {len(edges)}"] + body)


if __name__ == "__main__":
    main()
