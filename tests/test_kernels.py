"""Kernel parity: the compiled C kernel must reproduce the numpy loop
kernel (its parity reference and toolchain-less fallback) exactly on
random graphs.  The Spark-path goldens (test_graphlets_golden, binary
parity) cover the census end-to-end; this pins the kernels in isolation.
"""

import numpy as np
import pytest

from pgd_spark.operators.kernels import _oriented_state, edge_counts_batch


def random_edges(n, m, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, n, size=4 * m).astype(np.int64)
    b = rng.randint(0, n, size=4 * m).astype(np.int64)
    mask = a != b
    keys = np.unique(np.minimum(a, b)[mask] * n + np.maximum(a, b)[mask])[:m]
    return keys // n, keys % n


@pytest.mark.parametrize(
    "seed,n,m",
    [(11, 30, 120), (12, 200, 3000), (13, 1000, 6000), (14, 12, 66)],
)
def test_c_kernel_equals_loop_kernel(seed, n, m):
    """The compiled C kernel (the default wherever a toolchain exists)
    must reproduce the numpy mark kernel exactly."""
    from pgd_spark.operators.ckernel import edge_counts_batch_c, get_lib

    if get_lib() is None:
        pytest.skip("no C toolchain on this host")
    src, dst = random_edges(n, m, seed)
    uniq, indptr, indices, ov, ou, deg = _oriented_state(src, dst)
    nn = len(uniq)
    t0, c0, y0 = edge_counts_batch(ov, ou, indptr, indices, nn)
    t1, c1, y1 = edge_counts_batch_c(ov, ou, indptr, indices, nn)
    assert (t0 == t1).all() and (c0 == c1).all() and (y0 == y1).all()
    # scratch reuse across calls must not leak marks between batches
    scratch = np.zeros(nn, dtype=np.int8)
    half = len(ov) // 2
    t2a, c2a, y2a = edge_counts_batch_c(ov[:half], ou[:half], indptr, indices, nn, ind=scratch)
    t2b, c2b, y2b = edge_counts_batch_c(ov[half:], ou[half:], indptr, indices, nn, ind=scratch)
    assert (np.concatenate([t2a, t2b]) == t0).all()
    assert (np.concatenate([c2a, c2b]) == c0).all()
    assert (np.concatenate([y2a, y2b]) == y0).all()
