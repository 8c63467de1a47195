"""Native (C) kernels for the driver-side serial finishes.

One C source, compiled at first use and loaded via ctypes:

- ``louvain_local_move``: the sequential Louvain local-move sweep;
- ``louvain_contract``: the contraction to the coarse graph between
  Louvain passes;
- ``labelprop_rounds``: synchronous label-propagation rounds;
- ``triangle_count_csr``: the marker-array triangle count, the only
  parallel kernel (OpenMP over vertices);
- ``csr_order``: the O(E + V) counting sort of the serial-finish seam.

The local-move phase of ``louvain_seq_fast`` is an inherently
sequential sweep (asynchronous vcom/ctot updates in ascending vertex
order — louvain.hxx:527-545), so it cannot be vectorized with numpy
without changing semantics. The Python dict-walk costs ~0.1 µs/edge;
the C sweep is the *identical* walk at ~10× less per-edge cost.

Bit-identity contract of the sweep (the same one the pure-Python
fallback meets, pinned by tests/test_oracle.py):

- per-vertex community accumulation in ADJACENCY ORDER via an
  insertion-ordered (stamp-array) table — float adds happen in exactly
  the dict-walk's order;
- the ΔQ expression tree ``(kuc - kud) / M - R*vt*(vt + ctot[c] - cd)
  / M22`` with ``M22 = 2.0*M*M`` hoisted, left-associated like the
  Python source;
- first-strict-max argmax in insertion order, the community-0 quirk
  (gain counted, move suppressed), immediate ctot/vcom updates,
  neighbor re-flagging on move;
- compiled with ``-ffp-contract=off`` so the compiler cannot fuse
  multiply-adds into FMAs (which would change the bit pattern).

The contraction scans communities, members and adjacency in the
reference's order (louvain.hxx:865-912) and sums each coarse entry left
to right in that scan order, as the reference's
``louvainAggregateEdgesW`` and the slow oracle's contraction do, so its
arrays are bit-identical to ``louvain_seq._contract_fast``'s and its
weights to the slow oracle's (pinned by tests/test_cmove.py). The
triangle total is an integer sum, so it is the same for every thread
count.

Build: ``-fopenmp`` is on; when the compiler or loader rejects it, the
same source is built without it, the pragmas are ignored and the
triangle kernel runs on one thread. The thread count is libgomp's
default (``OMP_NUM_THREADS``, else the process's CPU affinity).

Fallback: if no C compiler is available (or ``LOUVAIN_NO_CKERNEL`` is
set) every wrapper returns None and the caller keeps its numpy or
pure-Python path — same answer, slower. The shared object is built
once into a content-addressed temp dir and atomically renamed, so
concurrent tasks (executor-side ``louvain_exact`` kernels) race
safely.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#ifdef _OPENMP
#include <omp.h>
#endif

/* Sequential Louvain local-move sweep; semantics bit-identical to the
   Python oracle (_local_move / _local_move_fast in louvain_seq.py).
   Mutates vcom/ctot/vaff in place. Returns the iteration count with
   the reference's (l>1 || el!=0) rule applied (louvain.hxx:541-544),
   or -1 on allocation failure (caller falls back to Python). */
int64_t louvain_local_move(
    const int64_t *indptr, const int64_t *indices, const double *weights,
    int64_t n,
    int64_t *vcom, double *ctot, int8_t *vaff, const double *vtot,
    double M, double R, int64_t L, double E,
    int64_t *out_processed)
{
    int64_t *stamp = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    int64_t *pos   = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    int64_t *keys  = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    double  *vals  = (double *)  malloc((size_t) n * sizeof(double));
    if (!stamp || !pos || !keys || !vals) {
        free(stamp); free(pos); free(keys); free(vals);
        return -1;
    }
    for (int64_t i = 0; i < n; i++) stamp[i] = -1;
    const double M22 = 2.0 * M * M;
    int64_t l = 0, processed = 0, tick = -1;
    double el = 0.0;
    while (l < L) {
        el = 0.0;
        for (int64_t u = 0; u < n; u++) {
            if (!vaff[u]) continue;
            processed++;
            tick++;
            const int64_t lo = indptr[u], hi = indptr[u + 1];
            vaff[u] = 0;
            const int64_t d = vcom[u];
            int64_t k = 0;
            for (int64_t i = lo; i < hi; i++) {
                const int64_t v = indices[i];
                if (v == u) continue;           /* SELF=false scan */
                const int64_t c = vcom[v];
                if (stamp[c] != tick) {
                    stamp[c] = tick; pos[c] = k;
                    keys[k] = c; vals[k] = weights[i]; k++;
                } else {
                    vals[pos[c]] += weights[i]; /* adjacency-order adds */
                }
            }
            if (k == 0) continue;
            const double kud = (stamp[d] == tick) ? vals[pos[d]] : 0.0;
            const double vt = vtot[u];
            const double cd = ctot[d];
            int64_t cmax = 0;
            double emax = 0.0;
            for (int64_t j = 0; j < k; j++) {
                const int64_t c = keys[j];
                if (c == d) continue;
                const double e =
                    (vals[j] - kud) / M - R * vt * (vt + ctot[c] - cd) / M22;
                if (e > emax) { emax = e; cmax = c; } /* first strict max */
            }
            el += emax;
            if (cmax) {                 /* the reference's `if (c)` quirk */
                ctot[d]    -= vt;
                ctot[cmax] += vt;
                vcom[u] = cmax;
                for (int64_t i = lo; i < hi; i++) vaff[indices[i]] = 1;
                vaff[u] = 0;
            }
        }
        l++;
        if (el <= E) break;
    }
    free(stamp); free(pos); free(keys); free(vals);
    *out_processed = processed;
    return (l > 1 || el != 0.0) ? l : 0;
}

/* Synchronous weighted label propagation rounds over a CSR whose
   self-loops were already dropped by the caller. Each round reads the
   previous round's labels and writes a fresh array (synchronous
   semantics = labelprop.py's distributed round); argmax is
   (max weight-sum, min label) with exact double comparisons — the
   distributed max_by(struct(wt, -nl)) tie-break. Labels are dense
   positions (value order == id order). Returns rounds performed
   (counting the final no-change round, like the DataFrame loop) or
   -1 on allocation failure. */
int64_t labelprop_rounds(
    const int64_t *indptr, const int64_t *indices, const double *weights,
    int64_t n, int64_t *lab, int64_t max_iter)
{
    int64_t *stamp  = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    int64_t *pos    = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    int64_t *keys   = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    double  *vals   = (double *)  malloc((size_t) n * sizeof(double));
    int64_t *newlab = (int64_t *) malloc((size_t) n * sizeof(int64_t));
    if (!stamp || !pos || !keys || !vals || !newlab) {
        free(stamp); free(pos); free(keys); free(vals); free(newlab);
        return -1;
    }
    for (int64_t i = 0; i < n; i++) stamp[i] = -1;
    int64_t it = 0, tick = -1;
    while (it < max_iter) {
        int64_t changed = 0;
        for (int64_t u = 0; u < n; u++) {
            const int64_t lo = indptr[u], hi = indptr[u + 1];
            if (lo == hi) { newlab[u] = lab[u]; continue; }
            tick++;
            int64_t k = 0;
            for (int64_t i = lo; i < hi; i++) {
                const int64_t c = lab[indices[i]];
                if (stamp[c] != tick) {
                    stamp[c] = tick; pos[c] = k;
                    keys[k] = c; vals[k] = weights[i]; k++;
                } else {
                    vals[pos[c]] += weights[i];
                }
            }
            int64_t best_c = keys[0];
            double best_w = vals[0];
            for (int64_t j = 1; j < k; j++) {
                if (vals[j] > best_w
                    || (vals[j] == best_w && keys[j] < best_c)) {
                    best_w = vals[j]; best_c = keys[j];
                }
            }
            newlab[u] = best_c;
            if (best_c != lab[u]) changed++;
        }
        for (int64_t u = 0; u < n; u++) lab[u] = newlab[u];
        it++;
        if (!changed) break;
    }
    free(stamp); free(pos); free(keys); free(vals); free(newlab);
    return it;
}

/* Edge-iterator triangle count over a degree-ordered oriented CSR
   (duplicate-free out-adjacency N+). Every triangle has exactly one
   lowest-rank corner u, and is found once, at its u -> a edge, as a
   common out-neighbor of u and a. For each u, N+(u) is marked in a
   byte map, each N+(a) for a in N+(u) is scanned against the marks,
   and N+(u) is unmarked again; the oriented outdeg <= O(sqrt E) bound
   caps the scan per edge. Vertices run in parallel, one byte map per
   thread (the reference's per-thread scratch and dynamic schedule,
   louvain.hxx:159-181, 594); the total is an integer sum, so every
   thread count gives the same answer. Returns the total, or -1 on
   allocation failure. */
int64_t triangle_count_csr(
    const int64_t *indptr, const int64_t *indices, int64_t n)
{
#ifdef _OPENMP
    const int64_t T = omp_get_max_threads();
#else
    const int64_t T = 1;
#endif
    uint8_t *marks = (uint8_t *) calloc((size_t) (T * (n ? n : 1)), 1);
    if (!marks) return -1;
    int64_t total = 0;
#pragma omp parallel
    {
#ifdef _OPENMP
        uint8_t *mark = marks + (size_t) omp_get_thread_num() * (size_t) n;
#else
        uint8_t *mark = marks;
#endif
#pragma omp for schedule(dynamic, 256) reduction(+:total)
        for (int64_t u = 0; u < n; u++) {
            const int64_t lo = indptr[u], hi = indptr[u + 1];
            if (hi - lo < 2) continue;  /* a corner needs two out-edges */
            for (int64_t j = lo; j < hi; j++) mark[indices[j]] = 1;
            int64_t t = 0;
            for (int64_t j = lo; j < hi; j++) {
                const int64_t a = indices[j];
                for (int64_t i = indptr[a]; i < indptr[a + 1]; i++)
                    t += mark[indices[i]];
            }
            for (int64_t j = lo; j < hi; j++) mark[indices[j]] = 0;
            total += t;
        }
    }
    free(marks);
    return total;
}

/* Louvain contraction in the reference's shape (louvainAggregateEdgesW,
   louvain.hxx:865-912): communities ascending; within one, its members
   ascending and each member's adjacency in CSR order (self-loops
   kept). A destination community becomes an entry of the coarse row at
   its first encounter, which writes the edge's weight; each later edge
   to it adds its weight, so every entry is summed left to right in
   scan order, as the reference and the slow oracle sum it. pos[dc]
   holds the entry index, and pos[dc] < row start means "not in this
   row yet", so the scratch is never cleared. cur holds dense labels in
   [0, C). Writes out_indptr (C + 1) and, per entry, out_cv
   (destination), out_w (weight) and out_cu (source community), each
   with room for indptr[n] entries. Returns the entry count, or -1 on
   allocation failure. */
int64_t louvain_contract(
    const int64_t *indptr, const int64_t *indices, const double *weights,
    int64_t n, const int64_t *cur, int64_t C,
    int64_t *out_indptr, int64_t *out_cv, double *out_w, int64_t *out_cu)
{
    int64_t *mptr    = (int64_t *) calloc((size_t) C + 1, sizeof(int64_t));
    int64_t *members = (int64_t *) malloc((size_t) (n ? n : 1) * sizeof(int64_t));
    int64_t *pos     = (int64_t *) malloc((size_t) (C ? C : 1) * sizeof(int64_t));
    if (!mptr || !members || !pos) {
        free(mptr); free(members); free(pos);
        return -1;
    }
    /* members of each community, ascending (stable counting sort) */
    for (int64_t u = 0; u < n; u++) mptr[cur[u] + 1]++;
    for (int64_t c = 0; c < C; c++) mptr[c + 1] += mptr[c];
    for (int64_t c = 0; c < C; c++) pos[c] = mptr[c];
    for (int64_t u = 0; u < n; u++) members[pos[cur[u]]++] = u;
    for (int64_t c = 0; c < C; c++) pos[c] = -1;
    int64_t k = 0;
    for (int64_t c = 0; c < C; c++) {
        const int64_t row = k;
        out_indptr[c] = row;
        for (int64_t q = mptr[c]; q < mptr[c + 1]; q++) {
            const int64_t u = members[q];
            for (int64_t i = indptr[u]; i < indptr[u + 1]; i++) {
                const int64_t dc = cur[indices[i]];
                if (pos[dc] < row) {
                    pos[dc] = k;
                    out_cv[k] = dc; out_cu[k] = c; out_w[k] = weights[i]; k++;
                } else {
                    out_w[pos[dc]] += weights[i];
                }
            }
        }
    }
    out_indptr[C] = k;
    free(mptr); free(members); free(pos);
    return k;
}

/* Stable counting sort of m edge rows by (src, dst), both positions in
   [0, n): one pass by dst, then a stable pass by src, so perm is the
   permutation np.argsort(src * n + dst, kind="stable") returns, in
   O(m + n). Also writes the CSR row offsets indptr (n + 1). Returns 0,
   or -1 on allocation failure. */
int64_t csr_order(
    const int64_t *src, const int64_t *dst, int64_t m, int64_t n,
    int64_t *perm, int64_t *indptr)
{
    int64_t *cnt = (int64_t *) calloc((size_t) n + 1, sizeof(int64_t));
    int64_t *tmp = (int64_t *) malloc((size_t) (m ? m : 1) * sizeof(int64_t));
    if (!cnt || !tmp) { free(cnt); free(tmp); return -1; }
    for (int64_t i = 0; i < m; i++) cnt[dst[i] + 1]++;
    for (int64_t v = 0; v < n; v++) cnt[v + 1] += cnt[v];
    for (int64_t i = 0; i < m; i++) tmp[cnt[dst[i]]++] = i;
    for (int64_t v = 0; v <= n; v++) indptr[v] = 0;
    for (int64_t i = 0; i < m; i++) indptr[src[i] + 1]++;
    for (int64_t v = 0; v < n; v++) indptr[v + 1] += indptr[v];
    for (int64_t v = 0; v < n; v++) cnt[v] = indptr[v];
    for (int64_t k = 0; k < m; k++) {
        const int64_t i = tmp[k];
        perm[cnt[src[i]]++] = i;
    }
    free(cnt); free(tmp);
    return 0;
}
"""

# -fopenmp only changes the triangle kernel: its pragmas are the only
# OpenMP in the source
_CFLAGS = ["-O2", "-fPIC", "-shared", "-ffp-contract=off", "-fopenmp"]
_CFLAGS_SERIAL = [f for f in _CFLAGS if f != "-fopenmp"]

_lib = None
_tried = False


def _build(flags: list) -> str:
    """Path of the shared object built from ``_SRC`` with ``flags``,
    compiled on first use into a content-addressed temp dir."""
    tag = hashlib.sha1((_SRC + " ".join(flags)).encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"louvain_ck_{tag}")
    so = os.path.join(d, "move.so")
    if not os.path.exists(so):
        os.makedirs(d, exist_ok=True)
        src = os.path.join(d, "move.c")
        with open(src, "w") as f:
            f.write(_SRC)
        tmp = os.path.join(d, f"move.{os.getpid()}.tmp.so")
        cc = os.environ.get("CC", "cc")
        subprocess.run(
            [cc, *flags, "-o", tmp, src],
            check=True, capture_output=True, timeout=120,
        )
        os.rename(tmp, so)  # atomic: concurrent builders race safely
    return so


def _load():
    """The library built with OpenMP, or, when the compiler or the
    loader rejects that, the same source built without it."""
    try:
        return ctypes.CDLL(_build(_CFLAGS))
    except (OSError, subprocess.SubprocessError):
        return ctypes.CDLL(_build(_CFLAGS_SERIAL))


def get_local_move():
    """Return the ctypes entry point, or None when unavailable."""
    global _lib, _tried
    if _lib is not None:
        return _lib.louvain_local_move
    if _tried or os.environ.get("LOUVAIN_NO_CKERNEL"):
        return None
    _tried = True
    try:
        lib = _load()
        fn = lib.louvain_local_move
        fn.restype = ctypes.c_int64
        fn.argtypes = [
            ctypes.POINTER(ctypes.c_int64),   # indptr
            ctypes.POINTER(ctypes.c_int64),   # indices
            ctypes.POINTER(ctypes.c_double),  # weights
            ctypes.c_int64,                   # n
            ctypes.POINTER(ctypes.c_int64),   # vcom
            ctypes.POINTER(ctypes.c_double),  # ctot
            ctypes.POINTER(ctypes.c_int8),    # vaff
            ctypes.POINTER(ctypes.c_double),  # vtot
            ctypes.c_double,                  # M
            ctypes.c_double,                  # R
            ctypes.c_int64,                   # L
            ctypes.c_double,                  # E
            ctypes.POINTER(ctypes.c_int64),   # out_processed
        ]
        lp = lib.labelprop_rounds
        lp.restype = ctypes.c_int64
        lp.argtypes = [
            ctypes.POINTER(ctypes.c_int64),   # indptr
            ctypes.POINTER(ctypes.c_int64),   # indices
            ctypes.POINTER(ctypes.c_double),  # weights
            ctypes.c_int64,                   # n
            ctypes.POINTER(ctypes.c_int64),   # lab
            ctypes.c_int64,                   # max_iter
        ]
        tc = lib.triangle_count_csr
        tc.restype = ctypes.c_int64
        tc.argtypes = [
            ctypes.POINTER(ctypes.c_int64),   # indptr
            ctypes.POINTER(ctypes.c_int64),   # indices
            ctypes.c_int64,                   # n
        ]
        lc = lib.louvain_contract
        lc.restype = ctypes.c_int64
        lc.argtypes = [
            ctypes.POINTER(ctypes.c_int64),   # indptr
            ctypes.POINTER(ctypes.c_int64),   # indices
            ctypes.POINTER(ctypes.c_double),  # weights
            ctypes.c_int64,                   # n
            ctypes.POINTER(ctypes.c_int64),   # cur
            ctypes.c_int64,                   # C
            ctypes.POINTER(ctypes.c_int64),   # out_indptr
            ctypes.POINTER(ctypes.c_int64),   # out_cv
            ctypes.POINTER(ctypes.c_double),  # out_w
            ctypes.POINTER(ctypes.c_int64),   # out_cu
        ]
        co = lib.csr_order
        co.restype = ctypes.c_int64
        co.argtypes = [
            ctypes.POINTER(ctypes.c_int64),   # src
            ctypes.POINTER(ctypes.c_int64),   # dst
            ctypes.c_int64,                   # m
            ctypes.c_int64,                   # n
            ctypes.POINTER(ctypes.c_int64),   # perm
            ctypes.POINTER(ctypes.c_int64),   # indptr
        ]
        _lib = lib
        return fn
    except Exception:
        return None


def local_move_c(indptr, indices, weights, vcom, ctot, vaff, vtot, M, R, L, E):
    """Run the native sweep over numpy arrays (mutated in place).

    Returns (iterations, processed) like ``_local_move_fast``, or None
    when the native kernel is unavailable (caller must fall back).
    ``vaff`` must be int8; all int arrays int64; floats float64;
    all arrays C-contiguous.
    """
    import numpy as np

    fn = get_local_move()
    if fn is None:
        return None
    n = len(indptr) - 1
    for a, dt in ((indptr, np.int64), (indices, np.int64),
                  (weights, np.float64), (vcom, np.int64),
                  (ctot, np.float64), (vaff, np.int8), (vtot, np.float64)):
        if a.dtype != dt or not a.flags["C_CONTIGUOUS"]:
            return None
    processed = ctypes.c_int64(0)
    p = lambda a, t: a.ctypes.data_as(ctypes.POINTER(t))  # noqa: E731
    iters = fn(
        p(indptr, ctypes.c_int64), p(indices, ctypes.c_int64),
        p(weights, ctypes.c_double), ctypes.c_int64(n),
        p(vcom, ctypes.c_int64), p(ctot, ctypes.c_double),
        p(vaff, ctypes.c_int8), p(vtot, ctypes.c_double),
        ctypes.c_double(M), ctypes.c_double(R),
        ctypes.c_int64(L), ctypes.c_double(E),
        ctypes.byref(processed),
    )
    if iters < 0:
        return None
    return int(iters), int(processed.value)


def _check_csr(indptr, indices):
    """Raise unless ``indices`` has ``indptr[-1]`` entries, all in
    [0, n): the kernels index their per-vertex arrays with them."""
    n = len(indptr) - 1
    if n < 0 or indptr[-1] != len(indices) or (
        len(indices) and (indices.min() < 0 or indices.max() >= n)
    ):
        raise ValueError(f"not a CSR over {n} vertices")


def triangle_count_csr_c(indptr, indices):
    """Count triangles over a degree-ordered oriented CSR
    (duplicate-free out-adjacency). Returns the total, or None when the
    native kernel is unavailable."""
    import numpy as np

    if get_local_move() is None or _lib is None:
        return None
    for a in (indptr, indices):
        if a.dtype != np.int64 or not a.flags["C_CONTIGUOUS"]:
            return None
    n = len(indptr) - 1
    _check_csr(indptr, indices)
    p = lambda a: a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))  # noqa: E731
    total = _lib.triangle_count_csr(p(indptr), p(indices), ctypes.c_int64(n))
    if total < 0:
        return None
    return int(total)


def contract_c(indptr, indices, weights, cur, CN):
    """Contract a CSR by the dense membership ``cur`` (labels in
    [0, CN)) natively. Returns (indptr, indices, weights, source
    community per entry) of the coarse CSR, the arrays
    ``louvain_seq._contract_fast`` returns, or None when the native
    kernel is unavailable (caller falls back to that function)."""
    import numpy as np

    if get_local_move() is None or _lib is None:
        return None
    for a, dt in ((indptr, np.int64), (indices, np.int64),
                  (weights, np.float64), (cur, np.int64)):
        if a.dtype != dt or not a.flags["C_CONTIGUOUS"]:
            return None
    n = len(indptr) - 1
    _check_csr(indptr, indices)
    if len(cur) != n or (n and (cur.min() < 0 or cur.max() >= CN)):
        raise ValueError(f"need {n} community labels in [0, {CN})")
    m = len(indices)
    out_indptr = np.empty(CN + 1, dtype=np.int64)
    out_cv = np.empty(m, dtype=np.int64)
    out_w = np.empty(m, dtype=np.float64)
    out_cu = np.empty(m, dtype=np.int64)
    p = lambda a, t: a.ctypes.data_as(ctypes.POINTER(t))  # noqa: E731
    k = _lib.louvain_contract(
        p(indptr, ctypes.c_int64), p(indices, ctypes.c_int64),
        p(weights, ctypes.c_double), ctypes.c_int64(n),
        p(cur, ctypes.c_int64), ctypes.c_int64(CN),
        p(out_indptr, ctypes.c_int64), p(out_cv, ctypes.c_int64),
        p(out_w, ctypes.c_double), p(out_cu, ctypes.c_int64),
    )
    if k < 0:
        return None
    return out_indptr, out_cv[:k].copy(), out_w[:k].copy(), out_cu[:k].copy()


def labelprop_rounds_c(indptr, indices, weights, lab, max_iter):
    """Run synchronous label-propagation rounds natively over a CSR
    (self-loops pre-dropped). ``lab`` (int64 positions) is mutated in
    place. Returns the round count, or None when the native kernel is
    unavailable (caller falls back to the numpy rounds).
    """
    import numpy as np

    if get_local_move() is None or _lib is None:
        return None
    n = len(indptr) - 1
    for a, dt in ((indptr, np.int64), (indices, np.int64),
                  (weights, np.float64), (lab, np.int64)):
        if a.dtype != dt or not a.flags["C_CONTIGUOUS"]:
            return None
    p = lambda a, t: a.ctypes.data_as(ctypes.POINTER(t))  # noqa: E731
    it = _lib.labelprop_rounds(
        p(indptr, ctypes.c_int64), p(indices, ctypes.c_int64),
        p(weights, ctypes.c_double), ctypes.c_int64(n),
        p(lab, ctypes.c_int64), ctypes.c_int64(max_iter),
    )
    if it < 0:
        return None
    return int(it)


def csr_order_c(src, dst, n):
    """Stable (src, dst) order of edge rows over positions in [0, n)
    by a native counting sort. Returns (perm, indptr) — perm equals
    ``np.argsort(src * n + dst, kind="stable")`` — or None when the
    native kernel is unavailable (caller falls back to that argsort).
    """
    import numpy as np

    if get_local_move() is None or _lib is None:
        return None
    for a in (src, dst):
        if a.dtype != np.int64 or not a.flags["C_CONTIGUOUS"]:
            return None
    if len(src) and (min(src.min(), dst.min()) < 0 or max(src.max(), dst.max()) >= n):
        raise ValueError(f"edge positions outside [0, {n})")
    perm = np.empty(len(src), dtype=np.int64)
    indptr = np.empty(n + 1, dtype=np.int64)
    p = lambda a: a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))  # noqa: E731
    rc = _lib.csr_order(
        p(src), p(dst), ctypes.c_int64(len(src)), ctypes.c_int64(n),
        p(perm), p(indptr),
    )
    if rc < 0:
        return None
    return perm, indptr
