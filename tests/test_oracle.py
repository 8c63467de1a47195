"""Oracle sanity: the sequential reference port behaves like Louvain."""

import math

from louvain_communities_openmp_spark.oracle import (
    adjacency,
    connected_components_seq,
    karate,
    label_propagation_seq,
    louvain_seq,
    pagerank_seq,
    ring_of_cliques,
    toy5,
    triangle_count_seq,
    two_cliques,
)
from louvain_communities_openmp_spark.oracle.graphs import (
    disconnected,
    power_law,
    toy5_selfloops,
    toy5_weighted,
    undirected,
)
from louvain_communities_openmp_spark.oracle.louvain_seq import modularity


def groups(membership):
    g = {}
    for u, c in enumerate(membership):
        g.setdefault(c, set()).add(u)
    return sorted(g.values(), key=min)


def test_two_cliques_two_communities():
    res = louvain_seq(adjacency(two_cliques()))
    assert groups(res.membership) == [set(range(8)), set(range(8, 16))]
    assert res.modularity > 0.45


def test_karate_quality():
    res = louvain_seq(adjacency(karate()))
    ncom = len(set(res.membership))
    assert 2 <= ncom <= 6
    assert res.modularity > 0.38  # known optimum ≈ 0.4198
    # membership is a valid partition over all 34 vertices
    assert len(res.membership) == 34


def test_ring_of_cliques_multipass():
    res = louvain_seq(adjacency(ring_of_cliques(16, 8)))
    # each clique must be one community
    m = res.membership
    for q in range(16):
        base = q * 8
        assert len({m[base + i] for i in range(8)}) == 1
    assert res.passes >= 2


def test_modularity_weight_conservation_toy5():
    adj = adjacency(toy5())
    res = louvain_seq(adj)
    # hand check: M = 6 undirected edges → Σw = 12, M = 6
    assert sum(res.vertex_weight) == 12.0
    q = modularity(adj, res.membership)
    assert math.isclose(q, res.modularity, abs_tol=1e-12)
    assert -0.5 <= q <= 1.0


def test_selfloops_in_vtot():
    adj = adjacency(toy5_selfloops())
    res = louvain_seq(adj)
    # vtot counts self-loops (louvain.hxx:194-218): vertex 0 had 2 edges + self 2.0
    assert res.vertex_weight[0] == 4.0
    assert res.vertex_weight[2] == 6.0


def test_weighted_runs():
    res = louvain_seq(adjacency(toy5_weighted()))
    assert len(set(res.membership)) >= 1
    assert res.modularity > 0


def test_pagerank_sums_to_one():
    for fix in (toy5(), karate(), two_cliques()):
        adj = adjacency(fix)
        r, it = pagerank_seq(adj)
        assert math.isclose(sum(r), 1.0, abs_tol=1e-9)
        assert it < 200


def test_pagerank_dangling():
    edges, n = disconnected(8, 3)
    adj = adjacency(edges, n=n)
    r, _ = pagerank_seq(adj)
    assert math.isclose(sum(r), 1.0, abs_tol=1e-9)
    # isolated vertices all get the same rank
    assert r[16] == r[17] == r[18]


def test_connected_components():
    edges, n = disconnected(8, 3)
    comp = connected_components_seq(adjacency(edges, n=n))
    assert comp[:8] == [0] * 8
    assert comp[8:16] == [8] * 8
    assert comp[16:] == [16, 17, 18]


def test_label_propagation_cliques():
    labels = label_propagation_seq(adjacency(two_cliques()))
    assert len({labels[i] for i in range(8)}) == 1
    assert len({labels[i] for i in range(8, 16)}) == 1


def test_triangle_count_toy5():
    per, total = triangle_count_seq(adjacency(toy5()))
    assert total == 2
    assert per == [1, 1, 2, 1, 1]


def test_triangle_count_cliques():
    per, total = triangle_count_seq(adjacency(two_cliques()))
    # each K8 has C(8,3)=56 triangles
    assert total == 112


def test_power_law_deterministic_and_skewed():
    e1 = power_law(2000, 4)
    e2 = power_law(2000, 4)
    assert e1 == e2
    deg = {}
    for u, _, _ in e1:
        deg[u] = deg.get(u, 0) + 1
    mx = max(deg.values())
    mean = sum(deg.values()) / len(deg)
    assert mx > 10 * mean  # hubs exist
    res = louvain_seq(adjacency(e1))
    assert res.modularity > 0.1


def _parity_fixtures():
    """Edge lists of the fast-oracle parity tests. ``toy5_weighted``
    and ``power_law400_rand`` carry non-integer weights, so a sum in
    another order than the slow oracle's shows in the low bits."""
    import random

    rng = random.Random(5)
    pairs = sorted({(min(u, v), max(u, v)) for u, v, _ in power_law(400, 3)})
    return {
        "toy5": toy5(),
        "toy5_selfloops": toy5_selfloops(),
        "toy5_weighted": toy5_weighted(),
        "two_cliques": two_cliques(),
        "karate": karate(),
        "ring16x8": ring_of_cliques(16, 8),
        "power_law400": power_law(400, 3),
        "power_law400_rand": undirected([(u, v, rng.random()) for u, v in pairs]),
        "disc8": disconnected(8, 0)[0],
    }


def _assert_fast_matches_slow(louvain_seq_fast):
    """louvain_seq_fast over each fixture's EdgeCSR equals the slow
    oracle: membership, passes, iterations and every pass's graph
    order and community count; modularity within 1e-12 (the two score
    Q with different summation orders)."""
    import numpy as np

    from louvain_communities_openmp_spark.operators.serial import edge_csr

    for name, el in _parity_fixtures().items():
        slow = louvain_seq(adjacency(el))
        src, dst, w = (np.array(c) for c in zip(*el))
        g = edge_csr(src.astype(np.int64), dst.astype(np.int64), w.astype(np.float64))
        fast = louvain_seq_fast(g)
        assert fast.membership.tolist() == slow.membership, name
        assert abs(fast.modularity - slow.modularity) < 1e-12, name
        assert (fast.passes, fast.iterations) == (slow.passes, slow.iterations), name
        shape = [(e["graph_order"], e.get("communities")) for e in fast.pass_log]
        assert shape == [(e["graph_order"], e.get("communities")) for e in slow.pass_log], name


def test_fast_oracle_parity():
    """louvain_seq_fast (native kernels where a compiler is available)
    must be bit-identical to the faithful port on every fixture."""
    from louvain_communities_openmp_spark.oracle.louvain_seq import louvain_seq_fast

    _assert_fast_matches_slow(louvain_seq_fast)


def test_fast_oracle_no_ckernel_parity():
    """The no-compiler path (pure-Python sweep, numpy contraction) must
    be bit-identical to the faithful port on every fixture as well.
    LOUVAIN_NO_CKERNEL is read when the kernel module loads, so both
    modules are reloaded with it set, and again after."""
    import importlib
    import os

    # importlib: the oracle package re-exports the louvain_seq FUNCTION,
    # shadowing the module attribute of the same name
    cm = importlib.import_module("louvain_communities_openmp_spark.oracle._cmove")
    ls = importlib.import_module("louvain_communities_openmp_spark.oracle.louvain_seq")
    os.environ["LOUVAIN_NO_CKERNEL"] = "1"
    try:
        importlib.reload(cm)
        importlib.reload(ls)
        assert cm.get_local_move() is None
        _assert_fast_matches_slow(ls.louvain_seq_fast)
    finally:
        del os.environ["LOUVAIN_NO_CKERNEL"]
        importlib.reload(cm)
        importlib.reload(ls)
