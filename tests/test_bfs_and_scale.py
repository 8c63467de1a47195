"""BFS, synthetic power-law generator, and multi-block Louvain paths."""

import pytest

from louvain_communities_openmp_spark.oracle import (
    adjacency,
    karate,
    louvain_seq,
    ring_of_cliques,
)
from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators import louvain as lv
from louvain_communities_openmp_spark.operators.bfs import bfs
from louvain_communities_openmp_spark.operators.louvain import (
    LouvainOptions,
    louvain,
)
from louvain_communities_openmp_spark.sources.edges import (
    edges_from_list,
    synthetic_powerlaw_edges,
)


def _bfs_seq(adj, src):
    dist = {src: 0}
    frontier = [src]
    while frontier:
        nxt = []
        for u in frontier:
            for v, _ in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return dist


def test_bfs_matches_sequential(spark):
    el = ring_of_cliques(6, 5)
    e = edges_from_list(spark, el)
    want = _bfs_seq(adjacency(el), 0)
    got = {r["id"]: r["dist"] for r in bfs(e, [0]).distances.collect()}
    assert got == want


def test_bfs_multi_source_and_unreachable(spark):
    # two components: 0-1-2 and 10-11; sources {0}
    el = [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0), (2, 1, 1.0),
          (10, 11, 1.0), (11, 10, 1.0)]
    e = edges_from_list(spark, el)
    got = {r["id"]: r["dist"] for r in bfs(e, [0]).distances.collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # 10/11 unreachable
    got2 = {r["id"]: r["dist"] for r in bfs(e, [0, 10]).distances.collect()}
    assert got2 == {0: 0, 1: 1, 2: 2, 10: 0, 11: 1}


def test_synthetic_powerlaw_deterministic_and_symmetric(spark):
    a = synthetic_powerlaw_edges(spark, 1000, 20000, seed=3)
    b = synthetic_powerlaw_edges(spark, 1000, 20000, seed=3)
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))
    # symmetric: reverse of every edge present with same weight
    rev = a.selectExpr("dst as src", "src as dst", "w")
    assert a.exceptAll(rev).count() == 0
    # skewed: low ids are hubs
    from pyspark.sql import functions as F

    deg = a.groupBy("src").count()
    low = deg.where("src < 10").agg(F.avg("count")).collect()[0][0]
    high = deg.where("src >= 500").agg(F.avg("count")).collect()[0][0]
    assert low > 5 * high


def test_dist_multiblock_cross_block_emissions(spark, monkeypatch):
    """Force multiple kernel blocks on a small graph so the
    cross-block com-null emissions and gating paths are exercised."""
    monkeypatch.setattr(lv, "BLOCK_VERTICES", 8)
    el = karate()
    e = edges_from_list(spark, el)
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    got = {r["id"]: r["com"] for r in res.membership.collect()}
    assert len(got) == 34
    want = louvain_seq(adjacency(el))
    assert res.modularity >= 0.9 * want.modularity
    # deterministic across reruns
    res2 = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    assert sorted(got.items()) == sorted(
        (r["id"], r["com"]) for r in res2.membership.collect()
    )


def test_dist_nonbroadcast_path(spark, monkeypatch):
    """serial.BROADCAST_VERTICES = 0 forces the shuffle-join groupBy
    fallback."""
    monkeypatch.setattr(lv, "BLOCK_VERTICES", 8)
    monkeypatch.setattr(serial, "BROADCAST_VERTICES", 0)
    el = ring_of_cliques(8, 6)
    e = edges_from_list(spark, el)
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    m = {r["id"]: r["com"] for r in res.membership.collect()}
    for q in range(8):
        assert len({m[q * 6 + i] for i in range(6)}) == 1, f"clique {q} split"


def _dfs_seq(adj, src):
    """Faithful transliteration of dfs.hxx:19-26: recursive preorder,
    neighbors in (sorted) adjacency order."""
    import sys

    vis, order = set(), []
    sys.setrecursionlimit(100000)

    def go(u):
        if u in vis:
            return
        vis.add(u)
        order.append(u)
        for v, _ in sorted(adj[u]):
            go(v)

    go(src)
    return order


def test_dfs_matches_reference_recursion(spark):
    from louvain_communities_openmp_spark.operators.dfs import dfs_order

    for el, src in ((ring_of_cliques(6, 5), 0), (karate(), 5)):
        want = _dfs_seq(adjacency(el), src)
        rows = sorted(
            ((r["ord"], r["id"]) for r in dfs_order(edges_from_list(spark, el), src).collect())
        )
        got = [i for _, i in rows]
        assert got == want


def test_dfs_unreachable_and_missing_source(spark):
    from louvain_communities_openmp_spark.operators.dfs import dfs_order

    el = [(0, 1, 1.0), (1, 0, 1.0), (10, 11, 1.0), (11, 10, 1.0)]
    e = edges_from_list(spark, el)
    got = {r["id"]: r["ord"] for r in dfs_order(e, 0).collect()}
    assert got == {0: 0, 1: 1}  # component {10,11} not visited
    assert dfs_order(e, 99).count() == 0


def test_dfs_empty_edge_table(spark):
    """Regression (round-3 ADVICE): zero Arrow batches reach the kernel
    on an empty edge table; pd.concat([]) raised before the len check."""
    from louvain_communities_openmp_spark.operators.dfs import dfs_order

    e = spark.createDataFrame([], "src long, dst long, w double")
    assert dfs_order(e, 0).count() == 0
