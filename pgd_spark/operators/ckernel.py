"""Optional compiled C implementation of the per-edge graphlet kernel.

The numpy loop kernel (kernels.edge_counts_batch) spends ~1/3 of its
time in per-edge Python/numpy call overhead and the rest in multi-pass
array temporaries; the same mark-array algorithm as a single C loop
runs the measured ~136 us/edge of the sf0.1 co-purchase graph at
~5-10 us/edge (guide §4.2: do the heavy lifting in native code inside
the batch function).  Semantics are identical to the numpy kernel —
exact integer counting, no floating point — so outputs are equal by
construction; tests/test_kernels.py asserts parity on random graphs.

The shared object is compiled ONCE PER MACHINE AND USER with the system
C compiler into a content- and uid-keyed /dev/shm (or tmpdir) path.  A
lock dir (mode 0700) makes one process compile while the others wait
for a ``.done`` marker; a ``.failed`` marker makes every other process
fall back at once after a failed compile.  The library is loaded only
when this user owns it and nobody else can write it.  Hosts without a
working C toolchain fall back to the numpy loop (:func:`get_lib`
returns None and warns once per process).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import time
import warnings

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>

/* Per-edge (tri, cliq, cyc) via the reference's mark-array kernel
   (graphlet_core.cpp:1104-1240 semantics, identical to
   kernels.edge_counts_batch):
     mark N(v)\{u} = 1; scan N(u)\{v}: marked -> T (3), else W_u (2);
     tri = |T|;
     cyc = sum over x in Wv (still marked 1 = N(v)\{u}\N(u)) of
           |{y in N(x): mark(y) == 2}|;
     cliq = (sum over t in T of |{y in N(t): mark(y) == 3}|) / 2.
   ind must be a zeroed int8 scratch of length n; it is returned
   zeroed. */
void pgd_edge_counts(int64_t k,
                     const int64_t* v_arr, const int64_t* u_arr,
                     const int64_t* indptr, const int64_t* indices,
                     int8_t* ind,
                     int64_t* tri_out, int64_t* cliq_out, int64_t* cyc_out)
{
    for (int64_t i = 0; i < k; i++) {
        const int64_t v = v_arr[i], u = u_arr[i];
        const int64_t* nv = indices + indptr[v];
        const int64_t dv = indptr[v + 1] - indptr[v];
        const int64_t* nu = indices + indptr[u];
        const int64_t du = indptr[u + 1] - indptr[u];
        int64_t j, q;
        for (j = 0; j < dv; j++) ind[nv[j]] = 1;
        ind[u] = 0;
        int64_t tri = 0, cliq2 = 0, cyc = 0;
        for (j = 0; j < du; j++) {
            const int64_t w = nu[j];
            if (w == v) continue;
            if (ind[w] == 1) { ind[w] = 3; tri++; }
            else ind[w] = 2;
        }
        for (j = 0; j < dv; j++) {
            const int64_t x = nv[j];
            const int8_t mx = ind[x];
            if (mx == 1) {                       /* x in Wv */
                const int64_t* nx = indices + indptr[x];
                const int64_t dx = indptr[x + 1] - indptr[x];
                for (q = 0; q < dx; q++) cyc += (ind[nx[q]] == 2);
            } else if (mx == 3) {                /* x in T */
                const int64_t* nx = indices + indptr[x];
                const int64_t dx = indptr[x + 1] - indptr[x];
                for (q = 0; q < dx; q++) cliq2 += (ind[nx[q]] == 3);
            }
        }
        tri_out[i] = tri;
        cliq_out[i] = cliq2 / 2;
        cyc_out[i] = cyc;
        for (j = 0; j < dv; j++) ind[nv[j]] = 0;
        for (j = 0; j < du; j++) ind[nu[j]] = 0;
    }
}
"""

_LIB = None
_TRIED = False


def _compiler() -> str | None:
    for cand in ("cc", "gcc", "clang"):
        for d in os.environ.get("PATH", "/usr/bin:/bin").split(os.pathsep):
            if os.access(os.path.join(d, cand), os.X_OK):
                return cand
    return None


def _so_path() -> str:
    """Content- and uid-keyed path of the compiled library; its lock and
    markers share the prefix."""
    token = hashlib.md5(_C_SOURCE.encode()).hexdigest()[:16]
    tmp = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(tmp, f"pgd_ckernel_{token}_u{os.getuid()}.so")


def _owned_by_me(path: str) -> bool:
    """True when this user owns ``path`` and no group or other user can
    write it: only such a library is safe to load from a shared dir."""
    try:
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid() and st.st_mode & 0o022 == 0


def _build_lib() -> ctypes.CDLL | None:
    cc = _compiler()
    if cc is None:
        return None
    so_path = _so_path()
    done = so_path + ".done"
    failed = so_path + ".failed"
    if not os.path.exists(done):
        lock = so_path + ".lock"
        try:
            os.mkdir(lock, 0o700)  # atomic: first process compiles
            src_path = so_path + ".c"
            with open(src_path, "w") as f:
                f.write(_C_SOURCE)
            try:
                subprocess.run(
                    [cc, "-O3", "-fPIC", "-shared", "-o", so_path, src_path],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.chmod(so_path, 0o700)
            except (subprocess.SubprocessError, OSError):
                # the lock stays without a .done: mark the failure so
                # every waiter gives up at once instead of after 30 s
                with open(failed, "w") as f:
                    f.write("failed")
                return None
            with open(done, "w") as f:
                f.write("ok")
        except FileExistsError:
            for _ in range(300):
                if os.path.exists(done):
                    break
                if os.path.exists(failed):
                    return None
                time.sleep(0.1)
            else:
                return None
        except OSError:
            return None
    if not _owned_by_me(so_path):
        return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    lib.pgd_edge_counts.restype = None
    p64 = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
    p8 = np.ctypeslib.ndpointer(dtype=np.int8, flags="C_CONTIGUOUS")
    lib.pgd_edge_counts.argtypes = [
        ctypes.c_int64, p64, p64, p64, p64, p8, p64, p64, p64,
    ]
    return lib


def get_lib() -> ctypes.CDLL | None:
    """The compiled kernel library, or None when no toolchain works.
    Compile result is cached per process; the .so per machine and user.
    The first None warns: the census then runs the much slower numpy
    loop."""
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        if os.environ.get("PGD_SPARK_NO_CKERNEL") == "1":
            _LIB = None
        else:
            _LIB = _build_lib()
        if _LIB is None:
            warnings.warn(
                "no C toolchain: the census runs the numpy loop kernel on one driver thread",
                RuntimeWarning,
                stacklevel=2,
            )
    return _LIB


def edge_counts_batch_c(
    v_arr: np.ndarray,
    u_arr: np.ndarray,
    indptr: np.ndarray,
    indices: np.ndarray,
    n: int,
    ind: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """C twin of kernels.edge_counts_batch — identical exact outputs.
    ``ind``: optional reusable zeroed int8 scratch of length n."""
    lib = get_lib()
    if lib is None:  # pragma: no cover - toolchain-less host
        from pgd_spark.operators.kernels import edge_counts_batch

        return edge_counts_batch(v_arr, u_arr, indptr, indices, n)
    k = len(v_arr)
    tri = np.zeros(k, dtype=np.int64)
    cliq = np.zeros(k, dtype=np.int64)
    cyc = np.zeros(k, dtype=np.int64)
    if ind is None:
        ind = np.zeros(n, dtype=np.int8)
    # the census passes contiguous int64 arrays: these are no-copy checks
    v_arr = np.ascontiguousarray(v_arr, dtype=np.int64)
    u_arr = np.ascontiguousarray(u_arr, dtype=np.int64)
    indptr = np.ascontiguousarray(indptr, dtype=np.int64)
    indices = np.ascontiguousarray(indices, dtype=np.int64)
    lib.pgd_edge_counts(k, v_arr, u_arr, indptr, indices, ind, tri, cliq, cyc)
    return tri, cliq, cyc
