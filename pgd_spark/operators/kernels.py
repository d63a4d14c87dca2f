"""Per-edge graphlet kernels for the broadcast census, run on the driver.

This is PGD's own shared-memory census: one parallel loop over the
degree-oriented edge work queue ``E_ordered`` against a CSR that every
thread reads.  The broadcast strategy already collects the
canonical edges to the driver, so the driver builds that state once per
Graph (:func:`_oriented_state`) and runs the compiled mark-array kernel
(ckernel.edge_counts_batch_c) on a thread pool; the ctypes call
releases the GIL, so the threads run the C loop in parallel.

The kernel semantics are the reference's mark array:

  * triangles/wedges:  mark N(v)\\{u}, scan N(u)  (graphlet_core.cpp:1136-1152)
  * 4-clique:          adjacent pairs inside T_vu (graphlet_core.cpp:1230-1240)
  * 4-cycle:           adjacency between W_u and N(v)\\N(u)\\{u}
                       (graphlet_core.cpp:1167-1176)

The reference selects a dense-adjacency variant for small dense graphs
(cpp:602-611); here the CSR + int8 mark array covers both cases — the
mark array IS the perfect hash (cpp:1069-1088).

:func:`edge_counts_batch` is the same algorithm as a numpy loop: the
fallback on hosts without a C toolchain, and the parity reference.

Per-edge outputs are exact and identical to the distributed path; the
choice is purely physical (see graphlets.edge_graphlet_counts).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np


def _dense_csr(src: np.ndarray, dst: np.ndarray):
    """Canonical edges → (uniq, s, d, indptr, indices), with ``s``/``d``
    the dense ids of each edge's endpoints."""
    uniq, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    n = len(uniq)
    s, d = inv[:m], inv[m:]
    heads = np.concatenate([s, d])
    # one sort of packed (head, tail) keys orders each neighbor slice:
    # ~3x cheaper than a two-key lexsort at 2M edges
    nn = np.int64(max(n, 1))
    key = np.sort(heads * nn + np.concatenate([d, s]))
    indices = key - (key // nn) * nn
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(heads, minlength=n), out=indptr[1:])
    return uniq, s, d, indptr, indices


def build_csr(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical edges (numpy int64, src<dst) → (uniq_ids, indptr, indices).

    ``uniq_ids`` maps dense id → original id (sorted); ``indices`` holds
    dense neighbor ids, sorted within each vertex slice.
    """
    uniq, _, _, indptr, indices = _dense_csr(src, dst)
    return uniq, indptr, indices


def _multi_slice_gather(indptr: np.ndarray, indices: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Concatenate neighbor slices of ``verts`` without a Python loop."""
    starts = indptr[verts]
    lens = (indptr[verts + 1] - starts).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=indices.dtype)
    # flat positions: for each vert k, starts[k] + 0..lens[k]-1
    rep_starts = np.repeat(starts, lens)
    offsets = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    return indices.take(rep_starts + offsets)


def edge_counts_batch(
    v_arr: np.ndarray,
    u_arr: np.ndarray,
    indptr: np.ndarray,
    indices: np.ndarray,
    n: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-edge (tri, cliq, cyc) for a batch of degree-oriented dense-id edges."""
    k = len(v_arr)
    tri_out = np.zeros(k, dtype=np.int64)
    cliq_out = np.zeros(k, dtype=np.int64)
    cyc_out = np.zeros(k, dtype=np.int64)
    ind = np.zeros(n, dtype=np.int8)
    for i in range(k):
        v = v_arr[i]
        u = u_arr[i]
        nv = indices[indptr[v] : indptr[v + 1]]
        nu = indices[indptr[u] : indptr[u + 1]]
        # mark N(v)\{u} with 1 (cpp:1069-1074)
        ind[nv] = 1
        ind[u] = 0
        # scan N(u)\{v}: marked → triangle node, else wedge node (cpp:1136-1152)
        nu_f = nu[nu != v]
        marks = ind[nu_f]
        T = nu_f[marks == 1]
        W = nu_f[marks != 1]
        tri_out[i] = len(T)
        ind[T] = 3
        ind[W] = 2
        # 4-cycles: adjacency between W_u (marks==2) and Wv = N(v)\N(u)\{u}
        # (marks==1).  Count from the Wv side: degree orientation makes
        # |Wv| = deg_v - tri - 1 <= |W_u|, so its neighbor volume is the
        # cheaper gather in expectation (the reference always scans W_u).
        if len(W):
            nv_f = nv[nv != u]
            Wv = nv_f[ind[nv_f] == 1]
            if len(Wv):
                flat_x = _multi_slice_gather(indptr, indices, Wv)
                cyc_out[i] = int((ind[flat_x] == 2).sum())
        # 4-cliques: ordered adjacent pairs within T → /2 (cpp:1230-1240 unmarks
        # progressively to count unordered; counting ordered and halving is equal)
        if len(T) > 1:
            flat_t = _multi_slice_gather(indptr, indices, T)
            cliq_out[i] = int((ind[flat_t] == 3).sum()) // 2
        # reset marks (cpp:1086-1088 resets N(v); W ⊂ N(u) was marked 2)
        ind[nv] = 0
        ind[W] = 0
    return tri_out, cliq_out, cyc_out




def _oriented_state(src: np.ndarray, dst: np.ndarray):
    """Canonical edges → (uniq, indptr, indices, ov, ou, deg): the CSR
    plus the degree-oriented dense edges (deg(v), v) < (deg(u), u),
    sorted by (v, u) — PGD's ``E_ordered``.

    The order is what makes the kernel fast: consecutive edges share v,
    so N(v) and the mark writes stay in cache.  Measured on 60k edges of
    a 12M-edge graph (4-vCPU VM, one thread): 1.44 s in this order,
    3.91 s in random order."""
    uniq, s, d, indptr, indices = _dense_csr(src, dst)
    deg = np.diff(indptr)
    n = np.int64(max(len(uniq), 1))
    # the dense relabel is monotonic, so d < s compares original ids
    flip = (deg[d] < deg[s]) | ((deg[d] == deg[s]) & (d < s))
    key = np.sort(np.where(flip, d, s) * n + np.where(flip, s, d))
    ov = key // n
    return uniq, indptr, indices, ov, key - ov * n, deg


def count_edges(
    v: np.ndarray,
    u: np.ndarray,
    indptr: np.ndarray,
    indices: np.ndarray,
    n: int,
    threads: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-edge (tri, cliq, cyc) for oriented dense edges, on ``threads``
    driver threads running the C kernel, or the numpy loop on this
    thread where no C kernel loads (ckernel.get_lib warns once)."""
    from pgd_spark.operators.ckernel import edge_counts_batch_c, get_lib

    if get_lib() is None:
        return edge_counts_batch(v, u, indptr, indices, n)
    # ~8 contiguous chunks per thread, handed out as threads free up:
    # a hub's edges sit together in the (v, u) order, and the small
    # chunks let the other threads drain the rest meanwhile
    k = len(v)
    bounds = np.linspace(0, k, max(min(8 * threads, k), 1) + 1).astype(np.int64)

    def run(lo: int, hi: int):
        scratch = np.zeros(n, dtype=np.int8)
        return edge_counts_batch_c(v[lo:hi], u[lo:hi], indptr, indices, n, ind=scratch)

    parts = parallel_map(run, bounds[:-1], bounds[1:], threads)
    tri, cliq, cyc = (np.concatenate(cols) for cols in zip(*parts))
    return tri, cliq, cyc


def parallel_map(fn, los, his, threads: int) -> list:
    """``[fn(lo, hi) ...]`` over the chunk bounds, on up to ``threads``
    driver threads (numpy and the ctypes kernel release the GIL); one
    chunk (or one thread) runs on the caller's thread and starts no
    pool."""
    if threads <= 1 or len(los) <= 1:
        return [fn(lo, hi) for lo, hi in zip(los, his)]
    with ThreadPoolExecutor(min(threads, len(los))) as pool:
        return list(pool.map(fn, los, his))
