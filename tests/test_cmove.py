"""Native (C) local-move kernel: bit-identity vs the pure-Python sweep.

The sequential local-move sweep and the contraction between passes are
compiled to native code (oracle/_cmove.py). These tests pin the
contract: identical membership, modularity, iteration counts, and pass
logs vs the pure-Python path (which itself is pinned against the slow
reference oracle in test_oracle.py), on fixtures covering a hub,
non-uniform float weights (summation-order sensitivity), warm starts,
and frontier seeding; and coarse weights summed left to right in the
reference's scan order.
"""

from __future__ import annotations

import importlib
import os

import numpy as np
import pytest

_cm = importlib.import_module(
    "louvain_communities_openmp_spark.oracle._cmove"
)
_ls = importlib.import_module(
    "louvain_communities_openmp_spark.oracle.louvain_seq"
)
from louvain_communities_openmp_spark.operators.serial import edge_csr  # noqa: E402


def _both(s2, d2, w2, **kw):
    """Run louvain_seq_fast with the Python sweep and the C sweep."""
    g = edge_csr(s2, d2, w2)
    os.environ["LOUVAIN_NO_CKERNEL"] = "1"
    try:
        cm = importlib.reload(_cm)
        ls = importlib.reload(_ls)
        r_py = ls.louvain_seq_fast(g, **kw)
    finally:
        del os.environ["LOUVAIN_NO_CKERNEL"]
    cm = importlib.reload(_cm)
    ls = importlib.reload(_ls)
    if cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")
    r_c = ls.louvain_seq_fast(g, **kw)
    return r_py, r_c


def _assert_identical(r_py, r_c):
    assert np.array_equal(r_py.membership, r_c.membership)
    assert r_py.modularity == r_c.modularity  # exact float equality
    assert r_py.iterations == r_c.iterations
    assert r_py.passes == r_c.passes
    assert r_py.pass_log == r_c.pass_log


def _sym(src, dst, w):
    return (
        np.concatenate([src, dst]).astype(np.int64),
        np.concatenate([dst, src]).astype(np.int64),
        np.concatenate([w, w]).astype(np.float64),
    )


def test_ckernel_random_graph_bit_identical():
    rs = np.random.RandomState(42)
    src = rs.randint(0, 3000, 60000)
    dst = rs.randint(0, 3000, 60000)
    m = src != dst
    s2, d2, w2 = _sym(src[m], dst[m], np.ones(int(m.sum())))
    _assert_identical(*_both(s2, d2, w2))


def test_ckernel_hub_and_float_weights_bit_identical():
    # a 6000-degree hub; non-uniform float weights make accumulation
    # order observable in the low bits
    rs = np.random.RandomState(7)
    hub_d = (np.arange(1, 6001) % 8000).astype(np.int64)
    hub_s = np.zeros(6000, dtype=np.int64)
    rest_s = rs.randint(1, 8000, 40000)
    rest_d = rs.randint(1, 8000, 40000)
    m = rest_s != rest_d
    src = np.concatenate([hub_s, rest_s[m]])
    dst = np.concatenate([hub_d, rest_d[m]])
    w = (rs.rand(len(src)) * 3 + 0.1).round(3)
    s2, d2, w2 = _sym(src, dst, w)
    _assert_identical(*_both(s2, d2, w2))


def test_ckernel_warm_start_and_frontier_bit_identical():
    rs = np.random.RandomState(11)
    src = rs.randint(0, 2000, 30000)
    dst = rs.randint(0, 2000, 30000)
    m = src != dst
    s2, d2, w2 = _sym(src[m], dst[m], np.ones(int(m.sum())))
    S = int(max(s2.max(), d2.max())) + 1
    init = rs.randint(0, 40, S).astype(np.int64)
    aff = rs.choice(S, 200, replace=False).astype(np.int64)
    _assert_identical(*_both(s2, d2, w2, init_com=init, init_aff=aff))


def test_ckernel_vs_slow_reference_oracle():
    # anchor the C path directly to the dict-walk reference oracle
    rs = np.random.RandomState(3)
    src = rs.randint(0, 500, 4000)
    dst = rs.randint(0, 500, 4000)
    m = src != dst
    s2, d2, w2 = _sym(src[m], dst[m], np.ones(int(m.sum())))
    cm = importlib.reload(_cm)
    ls = importlib.reload(_ls)
    if cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")
    g = edge_csr(s2, d2, w2)
    r_c = ls.louvain_seq_fast(g)
    S = int(max(s2.max(), d2.max())) + 1
    assert np.array_equal(g.ids, np.arange(S))  # positions are ids
    adj = [[] for _ in range(S)]
    order = np.lexsort((d2, s2))
    seen = set()
    for i in order:
        k = (int(s2[i]), int(d2[i]))
        if k in seen:
            continue
        seen.add(k)
        adj[int(s2[i])].append((int(d2[i]), float(w2[i])))
    r_slow = ls.louvain_seq(adj)
    assert r_slow.membership == r_c.membership.tolist()
    assert r_slow.passes == r_c.passes


# -- native contraction: per-call identity with _contract_fast ---------


def _csr(s2, d2, w2):
    """CSR of (src, dst)-sorted rows over vertices 0..max id."""
    o = np.lexsort((d2, s2))
    s, d, w = s2[o], d2[o], w2[o]
    n = int(max(s.max(), d.max())) + 1
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(s, minlength=n))
    return indptr, d, w, s


def _assert_same_contraction(indptr, indices, weights, cur, CN, src_idx):
    ref = _ls._contract_fast(indptr, indices, weights, cur, CN, src_idx)
    out = _cm.contract_c(indptr, indices, weights, cur, CN)
    assert out is not None
    for a, b in zip(ref, out):
        assert a.dtype == b.dtype
        assert a.tobytes() == b.tobytes()  # equal bit patterns
    return out


def _native_or_skip():
    importlib.reload(_cm)
    importlib.reload(_ls)
    if _cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")


def _float_graph(seed, n, m):
    rs = np.random.RandomState(seed)
    src = rs.randint(0, n, m)
    dst = rs.randint(0, n, m)
    keep = src != dst
    w = rs.rand(int(keep.sum())) * 10.0 ** rs.uniform(-3, 3, int(keep.sum()))
    return _sym(src[keep], dst[keep], w)


def _spy_contractions(monkeypatch):
    """Route louvain_seq_fast's contractions through an identity check;
    returns the list of checked calls."""
    calls = []

    def both(indptr, indices, weights, cur, CN):
        src_idx = np.repeat(np.arange(len(indptr) - 1), np.diff(indptr))
        calls.append(CN)
        return _assert_same_contraction(
            indptr, indices, weights, cur, CN, src_idx
        )

    monkeypatch.setattr(_ls, "contract_c", both)
    return calls


def test_contract_c_matches_numpy_random_float_weights(monkeypatch):
    # float weights spread over six decades: a different summation
    # order shows up in the low bits
    _native_or_skip()
    calls = _spy_contractions(monkeypatch)
    _ls.louvain_seq_fast(edge_csr(*_float_graph(13, 3000, 60000)))
    assert calls


def test_contract_c_matches_numpy_hub(monkeypatch):
    # a 5596-degree hub: its coarse entries sum thousands of weights
    _native_or_skip()
    rs = np.random.RandomState(17)
    deg = 5596
    hub_d = np.arange(1, deg + 1, dtype=np.int64)
    rest_s = rs.randint(1, deg + 1, 30000)
    rest_d = rs.randint(1, deg + 1, 30000)
    keep = rest_s != rest_d
    src = np.concatenate([np.zeros(deg, dtype=np.int64), rest_s[keep]])
    dst = np.concatenate([hub_d, rest_d[keep]])
    w = rs.rand(len(src)) * 3 + 0.1
    calls = _spy_contractions(monkeypatch)
    _ls.louvain_seq_fast(edge_csr(*_sym(src, dst, w)))
    assert calls
    # and one call that folds the hub's whole row into one entry
    indptr, d, w2, s = _csr(*_sym(src, dst, w))
    cur = np.zeros(len(indptr) - 1, dtype=np.int64)
    cur[0] = 1
    _assert_same_contraction(indptr, d, w2, cur, 2, s)


def test_contract_c_matches_numpy_warm_start_frontier(monkeypatch):
    _native_or_skip()
    s2, d2, w2 = _float_graph(19, 2000, 30000)
    S = int(max(s2.max(), d2.max())) + 1
    rs = np.random.RandomState(23)
    init = rs.randint(0, 40, S).astype(np.int64)
    aff = rs.choice(S, 200, replace=False).astype(np.int64)
    calls = _spy_contractions(monkeypatch)
    _ls.louvain_seq_fast(edge_csr(s2, d2, w2), init_com=init, init_aff=aff)
    assert calls


def test_contract_c_single_community_and_empty_row():
    _native_or_skip()
    s2, d2, w2 = _float_graph(29, 500, 8000)
    # vertex 500 has no edges at all: an empty CSR row
    indptr, d, w, s = _csr(s2, d2, w2)
    indptr = np.r_[indptr, indptr[-1]]
    n = len(indptr) - 1
    one = _assert_same_contraction(
        indptr, d, w, np.zeros(n, dtype=np.int64), 1, s
    )
    assert one[0].tolist() == [0, 1]
    # the empty row alone in its community gives an empty coarse row
    cur = np.zeros(n, dtype=np.int64)
    cur[-1] = 1
    two = _assert_same_contraction(indptr, d, w, cur, 2, s)
    assert two[0].tolist() == [0, 1, 1]
    # singletons: one coarse entry per distinct (src, dst) pair
    ident = _assert_same_contraction(
        indptr, d, w, np.arange(n, dtype=np.int64), n, s
    )
    assert len(ident[1]) == len(np.unique(s * n + d))


# -- marker-array triangle kernel --------------------------------------


def _hub_graph(seed):
    """Canonical (src < dst) rows of a hub-heavy graph with repeated
    rows; the symmetric rows with self-loops come back as well."""
    rs = np.random.RandomState(seed)
    n = 1500
    hubs = rs.randint(0, n, 6000) % 7  # five hubs of degree ~1k
    src = np.concatenate([hubs, rs.randint(0, n, 12000)])
    dst = np.concatenate([rs.randint(0, n, 6000), rs.randint(0, n, 12000)])
    loops = rs.randint(0, n, 50)
    src = np.concatenate([src, loops, src[:3000]])  # self-loops, repeats
    dst = np.concatenate([dst, loops, dst[:3000]])
    sym_s = np.concatenate([src, dst])
    sym_d = np.concatenate([dst, src])
    keep = sym_s < sym_d
    return sym_s, sym_d, sym_s[keep], sym_d[keep]


def test_triangle_kernel_matches_oracle():
    from louvain_communities_openmp_spark.operators.triangles import (
        _triangle_total_arrays,
    )
    from louvain_communities_openmp_spark.oracle.simple import (
        triangle_count_seq,
    )

    _native_or_skip()
    sym_s, sym_d, cs, cd = _hub_graph(31)
    adj = [[] for _ in range(int(sym_s.max()) + 1)]
    for u, v in zip(sym_s.tolist(), sym_d.tolist()):
        adj[u].append((v, 1.0))
    expected = triangle_count_seq(adj)[1]
    assert expected > 0
    assert _triangle_total_arrays(cs, cd) == expected


def test_triangle_kernel_thread_count_independent():
    """The same total on one thread and on four, each in a fresh
    process so libgomp reads OMP_NUM_THREADS at start-up."""
    import subprocess
    import sys

    _native_or_skip()
    code = (
        "import numpy as np, tests.test_cmove as t\n"
        "from louvain_communities_openmp_spark.oracle import _cmove as cm\n"
        "from louvain_communities_openmp_spark.operators.triangles import "
        "_triangle_total_arrays\n"
        "_, _, s, d = t._hub_graph(37)\n"
        "total = _triangle_total_arrays(s, d)\n"
        "threads = getattr(cm._lib, 'omp_get_max_threads', lambda: 1)()\n"
        "print(total, threads)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for t in ("1", "4"):
        r = subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True,
            text=True, timeout=300, env={**os.environ, "OMP_NUM_THREADS": t},
        )
        assert r.returncode == 0, r.stderr
        total, threads = r.stdout.split()
        out[t] = int(total)
        if _cm._lib is not None and hasattr(_cm._lib, "omp_get_max_threads"):
            assert threads == t
    assert out["1"] == out["4"] > 0


def test_triangle_kernel_without_openmp(monkeypatch):
    """The build without -fopenmp (a compiler that rejects the flag)
    compiles the same source and counts the same total."""
    import ctypes

    from louvain_communities_openmp_spark.operators.triangles import (
        _triangle_total_arrays,
    )

    _native_or_skip()
    seen = []
    real = _cm.triangle_count_csr_c
    monkeypatch.setattr(
        _cm, "triangle_count_csr_c",
        lambda ip, ix: seen.append((ip, ix)) or real(ip, ix),
    )
    _, _, s, d = _hub_graph(41)
    total = _triangle_total_arrays(s, d)
    lib = ctypes.CDLL(_cm._build(_cm._CFLAGS_SERIAL))
    assert not hasattr(lib, "omp_get_max_threads")
    fn = lib.triangle_count_csr
    fn.restype = ctypes.c_int64
    p = ctypes.POINTER(ctypes.c_int64)
    fn.argtypes = [p, p, ctypes.c_int64]
    indptr, indices = seen[0]
    assert fn(
        indptr.ctypes.data_as(p), indices.ctypes.data_as(p),
        len(indptr) - 1,
    ) == total > 0


def test_contraction_sums_left_to_right_in_scan_order():
    # 400 coarse entries of 2-300 edges each, with float weights over
    # six decades: every entry's weight must be the slow oracle's
    # left-to-right ``acc.get(dc, 0.0) + w`` over the reference's scan
    # (communities ascending, members ascending, adjacency in CSR order)
    rs = np.random.RandomState(31)
    C, per = 40, 5  # communities of 5 members each
    n = C * per
    cur = rs.permutation(np.repeat(np.arange(C), per)).astype(np.int64)
    members = [np.flatnonzero(cur == c) for c in range(C)]
    pairs = rs.choice(C * C, 400, replace=False)
    src, dst = [], []
    for pair in pairs:
        cu, cv = divmod(int(pair), C)
        k = rs.randint(2, 301)
        src.append(rs.choice(members[cu], k))
        dst.append(rs.choice(members[cv], k))
    src, dst = np.concatenate(src), np.concatenate(dst)
    w = rs.rand(len(src)) * 10.0 ** rs.uniform(-3, 3, len(src))
    order = np.argsort(src, kind="stable")  # CSR rows, adjacency unsorted
    src, indices, weights = src[order], dst[order], w[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(src, minlength=n))
    want_ptr, want_cv, want_w, pairwise = [0], [], [], []
    for c in range(C):
        acc: dict = {}
        grp: dict = {}
        for u in members[c]:
            for i in range(indptr[u], indptr[u + 1]):
                dc = int(cur[indices[i]])
                acc[dc] = acc.get(dc, 0.0) + float(weights[i])
                grp.setdefault(dc, []).append(weights[i])
        want_cv += list(acc)
        want_w += list(acc.values())
        pairwise += [np.sum(v) for v in grp.values()]
        want_ptr.append(len(want_cv))
    want_w = np.array(want_w)
    # numpy's pairwise sum differs from it here, so the check has teeth
    assert (np.array(pairwise) != want_w).sum() > 100
    outs = [_ls._contract_fast(indptr, indices, weights, cur, C, src)]
    _native_or_skip()
    outs.append(_cm.contract_c(indptr, indices, weights, cur, C))
    for new_ptr, g_cv, sums, _ in outs:
        assert new_ptr.tolist() == want_ptr
        assert g_cv.tolist() == want_cv
        assert sums.tobytes() == want_w.tobytes()  # equal bit patterns
