"""The serial-finish seam (operators/serial.py) and its native sort.

Pins that the contiguous-id map (``id - lo``) and the general
unique/searchsorted map give the same positions and (src, dst, w) row
order on contiguous, offset, gapped and dst-only id sets; that the C
counting sort and its numpy fallback give the same permutation; and
that every operator routed through the seam gives the same answer on
any of those id sets — including ``pagerank_fixed``'s serial finish
against its distributed plan.
"""

from __future__ import annotations

import importlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.labelprop import (
    _labelprop_rounds_numpy,
    label_propagation,
)
from louvain_communities_openmp_spark.operators.louvain import LouvainOptions, louvain
from louvain_communities_openmp_spark.operators.pagerank import (
    _pagerank_fixed_dist,
    _pagerank_fixed_local,
    pagerank_fixed,
)
from louvain_communities_openmp_spark.operators.triangles import triangle_count_total
from louvain_communities_openmp_spark.oracle.graphs import karate, power_law
from louvain_communities_openmp_spark.sources.edges import edges_from_list

_cm = importlib.import_module("louvain_communities_openmp_spark.oracle._cmove")

# relabellings of a 0-based graph: each is strictly increasing, so
# position order — and every operator's answer — is preserved
RELABEL = {
    "contiguous": lambda x: x,
    "offset": lambda x: x + 1,
    "gapped": lambda x: 3 * x + 7,
}


def _general(src, dst, w):
    """The reference construction: sorted-unique ids, searchsorted
    positions, lexsort by (src, dst, w)."""
    ids = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    o = np.lexsort((w, d, s))
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(s, minlength=len(ids)))
    return ids, s[o], d[o], w[o], indptr


def _arrays(edge_list, f=lambda x: x):
    a = np.array(edge_list, dtype=np.float64)
    return f(a[:, 0].astype(np.int64)), f(a[:, 1].astype(np.int64)), a[:, 2].copy()


def _shuffled(src, dst, w, seed=0):
    o = np.random.default_rng(seed).permutation(len(src))
    return src[o], dst[o], w[o]


def _directed_with_sinks():
    # 5, 6 and 9 appear only as a dst (sinks); 4 has a self-loop and a
    # duplicate row; weights are unequal floats
    return [
        (0, 1, 1.0), (0, 2, 0.5), (1, 2, 2.0), (2, 0, 1.5), (2, 3, 1.0),
        (3, 4, 0.25), (4, 4, 3.0), (4, 5, 1.0), (4, 5, 1.0), (3, 6, 2.0),
        (1, 9, 0.75), (0, 3, 1.0),
    ]


@pytest.mark.parametrize("name", [*RELABEL, "dst_only"])
def test_edge_csr_matches_general_map(name):
    if name == "dst_only":
        src, dst, w = _arrays(_directed_with_sinks())
    else:
        src, dst, w = _arrays(power_law(300, 4), RELABEL[name])
    src, dst, w = _shuffled(src, dst, w)
    g = serial.edge_csr(src, dst, w)
    ids, s, d, ww, indptr = _general(src, dst, w)
    for got, want in ((g.ids, ids), (g.src, s), (g.dst, d), (g.w, ww), (g.indptr, indptr)):
        np.testing.assert_array_equal(got, want)


def test_edge_csr_duplicates_take_the_max_w_order():
    # duplicate (src, dst) rows with unequal w: rows end in (src, dst, w)
    # order whatever order they arrive in, so the sequential kernel's
    # keep-last collapse keeps the max-w row
    src = np.array([2, 0, 2, 1, 0, 2, 0], dtype=np.int64)
    dst = np.array([1, 1, 1, 0, 1, 1, 2], dtype=np.int64)
    w = np.array([3.0, 1.0, 0.5, 2.0, 4.0, 1.0, 1.0])
    for seed in range(5):
        s0, d0, w0 = _shuffled(src, dst, w, seed)
        g = serial.edge_csr(s0, d0, w0)
        _, s, d, ww, _ = _general(s0, d0, w0)
        np.testing.assert_array_equal(g.src, s)
        np.testing.assert_array_equal(g.dst, d)
        np.testing.assert_array_equal(g.w, ww)


def test_edge_csr_keeps_loops_and_loop_only_vertices():
    # the serial finishes that ignore self-loops mask them out of these
    # rows and keep the vertex set
    src = np.array([5, 0, 1, 5], dtype=np.int64)
    dst = np.array([5, 1, 0, 5], dtype=np.int64)
    g = serial.edge_csr(src, dst)
    np.testing.assert_array_equal(g.ids, [0, 1, 5])
    np.testing.assert_array_equal(g.src, [0, 1, 2, 2])
    np.testing.assert_array_equal(g.dst, [1, 0, 2, 2])
    np.testing.assert_array_equal(g.indptr, [0, 1, 2, 4])
    empty = serial.edge_csr(src[:0], dst[:0])
    assert len(empty.ids) == len(empty.src) == 0
    np.testing.assert_array_equal(empty.indptr, [0])


def _pair_order_both(src, dst, n):
    os.environ["LOUVAIN_NO_CKERNEL"] = "1"
    try:
        importlib.reload(_cm)
        numpy_out = serial.pair_order(src, dst, n)
    finally:
        del os.environ["LOUVAIN_NO_CKERNEL"]
    cm = importlib.reload(_cm)
    if cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")
    return numpy_out, serial.pair_order(src, dst, n)


@pytest.mark.parametrize("m,n", [(0, 3), (1, 1), (5000, 40), (20000, 3000)])
def test_counting_sort_matches_numpy_fallback(m, n):
    rng = np.random.default_rng(m + n)
    src = rng.integers(0, n, m).astype(np.int64)
    dst = rng.integers(0, n, m).astype(np.int64)
    (p_np, i_np), (p_c, i_c) = _pair_order_both(src, dst, n)
    np.testing.assert_array_equal(p_c, p_np)
    np.testing.assert_array_equal(i_c, i_np)
    np.testing.assert_array_equal(p_np, np.argsort(src * np.int64(n) + dst, kind="stable"))


def test_counting_sort_rejects_out_of_range_positions():
    if _cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")
    with pytest.raises(ValueError):
        _cm.csr_order_c(np.array([0, 3], dtype=np.int64), np.array([1, 1], dtype=np.int64), 3)


def test_labelprop_numpy_rounds_match_native():
    if _cm.get_local_move() is None:
        pytest.skip("no C compiler available in this environment")
    src, dst, _ = _arrays(power_law(400, 5))
    # non-integer weights: the two add in the same (row) order
    w = np.random.default_rng(3).uniform(0.1, 2.0, len(src))
    keep = src != dst
    g = serial.edge_csr(src[keep], dst[keep], w[keep])
    for max_iter in (1, 3, 50):
        lab_c = np.arange(len(g.ids), dtype=np.int64)
        lab_np = lab_c.copy()
        it_c = _cm.labelprop_rounds_c(g.indptr, g.dst, g.w, lab_c, max_iter)
        it_np = _labelprop_rounds_numpy(g.src, g.dst, g.w, lab_np, max_iter)
        assert it_c == it_np
        np.testing.assert_array_equal(lab_c, lab_np)


def _frame(spark, edge_list, f):
    return edges_from_list(spark, [(f(u), f(v), w) for u, v, w in edge_list]).persist()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_operators_agree_across_id_sets(spark, monkeypatch):
    base = power_law(300, 4)
    out = {}
    for name, f in RELABEL.items():
        e = _frame(spark, base, f)
        inv = {f(x): x for x in range(300)}
        cc = connected_components(e)
        lp = label_propagation(e, max_iter=5)
        lv = louvain(e, LouvainOptions(mode="auto"))
        pr = pagerank_fixed(e, iters=4)
        out[name] = (
            sorted((inv[i], inv[c]) for i, c in _rows(cc.components, ["id", "comp"])),
            cc.iterations,
            sorted((inv[i], inv[x]) for i, x in _rows(lp.labels, ["id", "label"])),
            lp.iterations,
            sorted((inv[i], c) for i, c in _rows(lv.membership, ["id", "com"])),
            lv.modularity,
            triangle_count_total(e),
            sorted((inv[i], r) for i, r in _rows(pr, ["id", "rank"])),
        )
        # the serial finish equals the forced distributed plan here too
        with monkeypatch.context() as mp:
            mp.setattr(serial, "SERIAL_EDGES", 0)
            assert _rows(cc.components, ["id", "comp"]) == _rows(
                connected_components(e).components, ["id", "comp"])
            assert _rows(lp.labels, ["id", "label"]) == _rows(
                label_propagation(e, max_iter=5).labels, ["id", "label"])
        e.unpersist()
    assert out["offset"] == out["contiguous"]
    assert out["gapped"] == out["contiguous"]


def test_louvain_duplicate_rows_keep_max_w(spark):
    # a duplicate row with a smaller weight must not change the answer:
    # the kernel keeps the max-w row of each (src, dst)
    base = karate()
    dup = base + [(u, v, 0.5 * w) for u, v, w in base[::3]]
    r0 = louvain(_frame(spark, base, lambda x: x), LouvainOptions(mode="auto"))
    r1 = louvain(_frame(spark, dup[::-1], lambda x: x), LouvainOptions(mode="auto"))
    assert _rows(r0.membership, ["id", "com"]) == _rows(r1.membership, ["id", "com"])


def _pagerank_parity(spark, edge_list, iters=5):
    e = _frame(spark, edge_list, lambda x: x)
    local = _pagerank_fixed_local(e, 0.85, iters)
    assert local is not None
    dist = _pagerank_fixed_dist(e, 0.85, iters)
    a = dict(_rows(local, ["id", "rank"]))
    b = dict(_rows(dist, ["id", "rank"]))
    assert a.keys() == b.keys()
    assert max(abs(a[k] - b[k]) for k in a) <= 1e-12
    assert _rows(pagerank_fixed(e, iters=iters), ["id", "rank"]) == _rows(
        dist.select("id", F.round("rank", 7).alias("rank")), ["id", "rank"])
    e.unpersist()
    return a


def test_pagerank_fixed_serial_matches_distributed(spark):
    assert len(_pagerank_parity(spark, karate())) == 34
    # the vertex set is the src ids: sinks 5 and 6 and dst-only 9 drop out
    ranks = _pagerank_parity(spark, _directed_with_sinks())
    assert sorted(ranks) == [0, 1, 2, 3, 4]
    gapped = [(3 * u + 11, 5 * v + 2, w) for u, v, w in power_law(200, 3)]
    _pagerank_parity(spark, gapped, iters=3)


def test_pagerank_fixed_local_defers_zero_out_weight(spark):
    e = _frame(spark, [(0, 1, 1.0), (1, 0, 1.0), (2, 0, 0.0)], lambda x: x)
    assert _pagerank_fixed_local(e, 0.85, 3) is None
    e.unpersist()
