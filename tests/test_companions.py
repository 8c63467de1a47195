"""Companion operators vs their sequential oracles (exact / 1e-6)."""

import math

import pytest

from louvain_communities_openmp_spark.oracle import (
    adjacency,
    connected_components_seq,
    karate,
    label_propagation_seq,
    pagerank_seq,
    toy5,
    triangle_count_seq,
    two_cliques,
)
from louvain_communities_openmp_spark.oracle.graphs import power_law
from louvain_communities_openmp_spark.operators.centrality import (
    absorb_fixed,
    eigenvector_fixed,
    katz_fixed,
)
from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.hits import hits_fixed
from louvain_communities_openmp_spark.operators.labelprop import label_propagation
from louvain_communities_openmp_spark.operators.mis import mis_rounds
from louvain_communities_openmp_spark.operators.pagerank import (
    pagerank,
    pagerank_dangling_fixed,
    pagerank_fixed,
    personalized_pagerank_fixed,
)
from louvain_communities_openmp_spark.operators.triangles import (
    triangle_count,
    triangle_count_total,
)
from louvain_communities_openmp_spark.operators.webstructure import salsa_fixed
from louvain_communities_openmp_spark.sources.edges import edges_from_list


def test_pagerank_allclose_karate(spark):
    # identical fixed-iteration trajectories (tol=0): engine must match
    # the oracle to float precision, iteration by iteration
    kar = karate()
    want, _ = pagerank_seq(adjacency(kar), alpha=0.85, tol=0.0, max_iter=20)
    res = pagerank(edges_from_list(spark, kar), alpha=0.85, tol=0.0, max_iter=20)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert len(got) == 34
    assert res.iterations == 20
    for i, r in enumerate(want):
        assert math.isclose(got[i], r, abs_tol=1e-9), i
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_pagerank_allclose_powerlaw(spark):
    pl = power_law(300, 3)
    want, _ = pagerank_seq(adjacency(pl), tol=0.0, max_iter=15)
    res = pagerank(edges_from_list(spark, pl), tol=0.0, max_iter=15)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i, r in enumerate(want):
        assert math.isclose(got[i], r, abs_tol=1e-9), i


def test_pagerank_dangling_fixed_matches_oracle(spark):
    # DIRECTED graph with sinks (3 and 4 have no out-edges): the
    # fixed-iteration kernel must match the dangling-redistributing
    # oracle trajectory and conserve total mass 1 (without the
    # dangling term the sum would leak 15% of sink mass per round)
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_dangling_fixed,
    )

    g = [
        (0, 1, 1.0),
        (0, 2, 2.0),
        (1, 2, 1.0),
        (2, 3, 1.0),
        (1, 4, 3.0),
        (0, 3, 1.0),
    ]
    want, _ = pagerank_seq(adjacency(g, n=5), alpha=0.85, tol=0.0, max_iter=3)
    got = {
        r["id"]: r["rank"]
        for r in pagerank_dangling_fixed(
            edges_from_list(spark, g), alpha=0.85, iters=3
        ).collect()
    }
    assert len(got) == 5
    for i, r in enumerate(want):
        assert math.isclose(got[i], r, abs_tol=2e-7), i
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


def test_components_exact(spark):
    from louvain_communities_openmp_spark.oracle.graphs import disconnected

    edges, n = disconnected(8, 0)  # isolated verts can't appear in an edge table
    want = connected_components_seq(adjacency(edges, n=n))
    res = connected_components(edges_from_list(spark, edges))
    got = {r["id"]: r["comp"] for r in res.components.collect()}
    assert got == {i: c for i, c in enumerate(want)}


def test_components_ring(spark):
    from louvain_communities_openmp_spark.oracle import ring_of_cliques

    ring = ring_of_cliques(6, 5)
    want = connected_components_seq(adjacency(ring))
    res = connected_components(edges_from_list(spark, ring))
    got = {r["id"]: r["comp"] for r in res.components.collect()}
    assert got == {i: c for i, c in enumerate(want)}
    assert set(got.values()) == {0}


def test_label_propagation_exact(spark):
    for fix in (toy5(), two_cliques(), karate()):
        want = label_propagation_seq(adjacency(fix), max_iter=10)
        res = label_propagation(edges_from_list(spark, fix), max_iter=10)
        got = {r["id"]: r["label"] for r in res.labels.collect()}
        assert got == {i: c for i, c in enumerate(want)}


def test_triangles_exact(spark):
    for fix in (toy5(), two_cliques(), karate()):
        per_want, tot_want = triangle_count_seq(adjacency(fix))
        e = edges_from_list(spark, fix)
        assert triangle_count_total(e) == tot_want
        res = triangle_count(e)
        got = {r["id"]: r["triangles"] for r in res.per_vertex.collect()}
        assert got == {i: c for i, c in enumerate(per_want)}
        assert res.total == tot_want


def test_components_path_graph_log_rounds(spark):
    # path 0-1-...-127: hash-min alone needs ~127 rounds to carry the
    # minimum to the far end; the pointer-jump phase must bring
    # convergence down to O(log n) rounds (components.py two-phase)
    n = 128
    path = [(i, i + 1, 1.0) for i in range(n - 1)]
    path += [(v, u, w) for u, v, w in list(path)]
    res = connected_components(edges_from_list(spark, path))
    got = {r["id"]: r["comp"] for r in res.components.collect()}
    assert len(got) == n
    assert set(got.values()) == {0}
    assert res.iterations <= 14, res.iterations  # log2(128)=7, +slack


def test_components_grid_fixture_log_rounds(spark):
    """Road-network shape (asia_osm analog, reference main.sh:35-36):
    a 60x60 grid with a 400-vertex path tail — diameter ~518, so plain
    hash-min would need ~518 rounds; pointer jumping must stay
    O(log diameter). Same fixture family as the committed 1M-vertex
    SPARSECC.json datapoint (bench.py --sparsecc)."""
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_grid_edges,
    )

    e = synthetic_grid_edges(spark, 60, 60, path_tail=400)
    res = connected_components(e)
    assert res.components.select("comp").distinct().count() == 1
    assert res.components.count() == 60 * 60 + 400
    # log2(518) ~ 9.02; generous slack for the two-phase constant
    assert res.iterations <= 14, res.iterations


def test_kcore_peeling(spark):
    from louvain_communities_openmp_spark.operators.kcore import kcore

    # K4 (4-clique) with a pendant path hanging off vertex 0:
    # 0-1-2-3 all mutually connected; 0-4, 4-5.
    und = [(a, b) for a in range(4) for b in range(4) if a != b]
    und += [(0, 4), (4, 0), (4, 5), (5, 4)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in und], "src long, dst long, w double"
    )
    res = kcore(e, k=3)
    got = {r["id"]: r["deg_in_core"] for r in res.core.collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}   # the clique, pendant peeled
    assert res.iterations >= 2               # 5 peels first, then 4

    # k=2 keeps clique only as well (path contributes degree-1 chain)
    got2 = {r["id"] for r in kcore(e, k=2).core.collect()}
    assert got2 == {0, 1, 2, 3}

    # k above max degree: empty core, correct schema
    res5 = kcore(e, k=5)
    assert res5.core.count() == 0
    assert [f.name for f in res5.core.schema.fields] == ["id", "deg_in_core"]

    # self-loops don't count as peer support
    e_loop = spark.createDataFrame(
        [(7, 7, 1.0), (7, 8, 1.0), (8, 7, 1.0)], "src long, dst long, w double"
    )
    assert kcore(e_loop, k=2).core.count() == 0


def test_clustering_coefficient(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        clustering_coefficient,
    )

    # triangle 0-1-2 plus a pendant 2-3
    und = [(0, 1), (1, 2), (0, 2), (2, 3)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    got = {r["id"]: r for r in clustering_coefficient(e).collect()}
    assert got[0]["lcc"] == 1.0 and got[0]["degree"] == 2
    assert got[1]["lcc"] == 1.0
    # vertex 2: degree 3, one closed pair of three -> 1/3
    assert abs(got[2]["lcc"] - round(1 / 3, 6)) < 1e-9
    assert got[3]["lcc"] == 0.0 and got[3]["triangles"] == 0


def test_common_neighbors_topk(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        common_neighbors_topk,
    )

    # star: 0 connected to 1..4; plus edge 1-2
    und = [(0, i) for i in range(1, 5)] + [(1, 2)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = common_neighbors_topk(e, k=8).collect()
    # every pair here shares exactly one neighbor; deterministic
    # (cn desc, a, b) order and correct is_edge flags
    assert [r["common_neighbors"] for r in rows] == [1] * 8
    assert [(r["a"], r["b"]) for r in rows] == [
        (0, 1), (0, 2), (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    ]
    by_pair = {(r["a"], r["b"]): r["is_edge"] for r in rows}
    assert by_pair[(0, 1)] is True and by_pair[(1, 2)] is True
    assert by_pair[(3, 4)] is False and by_pair[(1, 3)] is False

    # hub cap: capping pivot degree below the star hub's 4 removes all
    # pairs that only share the hub
    capped = common_neighbors_topk(e, k=10, max_pivot_degree=3).collect()
    assert all((r["a"], r["b"]) != (3, 4) for r in capped)


def test_adamic_adar(spark):
    import math

    from louvain_communities_openmp_spark.operators.linkpred import (
        adamic_adar_topk,
    )

    # pivots with different degrees: 0 (deg 4) and 5 (deg 2), both
    # adjacent to 1 and 2 -> aa(1,2) = 1/ln(4) + 1/ln(2)
    und = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 1), (5, 2)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = adamic_adar_topk(e, k=100).collect()
    # cn=2 pairs: (0,5) via pivots 1,2 (deg 2 each) and (1,2) via
    # pivots 0 (deg 4) and 5 (deg 2); tie-break puts (0,5) first
    assert (rows[0]["a"], rows[0]["b"]) == (0, 5)
    assert abs(rows[0]["aa_score"] - round(2 / math.log(2), 6)) < 1e-9
    top = rows[1]
    assert (top["a"], top["b"]) == (1, 2) and top["common_neighbors"] == 2
    assert abs(top["aa_score"] - round(1 / math.log(4) + 1 / math.log(2), 6)) < 1e-9
    # single-pivot pairs score 1/ln(deg(pivot 0)) = 1/ln(4)
    one = {(r["a"], r["b"]): r["aa_score"] for r in rows if r["common_neighbors"] == 1}
    assert abs(one[(3, 4)] - round(1 / math.log(4), 6)) < 1e-9


def test_personalized_pagerank(spark):
    from louvain_communities_openmp_spark.operators.pagerank import (
        personalized_pagerank_fixed,
    )

    # two 3-cliques joined by a bridge 2-3; seed on vertex 0
    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank_fixed(e, seeds, iters=8).collect()
    }
    # numpy oracle: same recurrence
    import numpy as np

    adj = {i: [] for i in range(6)}
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    s = np.zeros(6)
    s[0] = 1.0
    r = s.copy()
    for _ in range(8):
        nxt = 0.15 * s
        for u in range(6):
            for v in adj[u]:
                nxt[v] += 0.85 * r[u] / len(adj[u])
        r = nxt
    for i in range(6):
        assert abs(got[i] - round(r[i], 7)) < 1e-9, i
    # teleport locality: seed-side clique outranks the far clique
    assert got[0] > got[5] and got[1] > got[4]


def _cached_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs that are not local checkpoints: the
    frames an operator cached and did not release (the eager local
    checkpoints hold its results and round states, so they are not
    counted). A window compares the ids it adds, so an earlier test's
    RDD that leaves the list inside it does not count."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k, r in rdds.items() if not r.rdd().isCheckpointed()}


def test_pagerank_operators_release_caches(spark):
    """The PageRank operators release every frame they cache, also on
    the empty-graph return and the empty-seed ValueError:
    DynamicPageRank calls pagerank once per graph version. HITS and
    SALSA answer an empty graph with no rows and reject ``iters=0``,
    and katz_fixed rejects an exact_int alpha, before they cache
    anything."""
    from louvain_communities_openmp_spark.operators.centrality import katz_fixed
    from louvain_communities_openmp_spark.operators.hits import hits_fixed
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_dangling_fixed,
        personalized_pagerank_fixed,
    )
    from louvain_communities_openmp_spark.operators.webstructure import salsa_fixed

    e = edges_from_list(spark, karate())
    empty = e.limit(0)
    no_seeds = spark.createDataFrame([], "id long")
    cached = _cached_rdds(spark)
    for run in (
        lambda: pagerank(e, max_iter=3),
        lambda: pagerank(empty),
        lambda: pagerank_dangling_fixed(empty),
        lambda: hits_fixed(empty),
        lambda: salsa_fixed(empty),
    ):
        run()
        assert _cached_rdds(spark) - cached == set()
    for op in (hits_fixed, salsa_fixed):
        out = op(empty)
        assert out.columns == ["id", "hub", "authority"] and out.collect() == []
        with pytest.raises(ValueError):
            op(e, iters=0)
        assert _cached_rdds(spark) - cached == set()
    with pytest.raises(ValueError):
        personalized_pagerank_fixed(e, no_seeds)
    assert _cached_rdds(spark) - cached == set()
    with pytest.raises(ValueError):
        katz_fixed(e, alpha=0.3, exact_int=True)
    assert _cached_rdds(spark) - cached == set()


_RAISE_OPS = {
    "pagerank": lambda e: pagerank(e, max_iter=4),
    "pagerank_fixed": pagerank_fixed,
    "personalized_pagerank_fixed": lambda e: personalized_pagerank_fixed(
        e, e.sparkSession.createDataFrame([(0,), (33,)], "id long")
    ),
    "pagerank_dangling_fixed": pagerank_dangling_fixed,
    "hits_fixed": hits_fixed,
    "salsa_fixed": salsa_fixed,
    "katz_fixed": katz_fixed,
    "absorb_fixed": absorb_fixed,
    "eigenvector_fixed": eigenvector_fixed,
    "connected_components": connected_components,
    "label_propagation": lambda e: label_propagation(e, max_iter=4),
    "mis_rounds": mis_rounds,
}


def _raise_on_join(monkeypatch, cls) -> dict:
    """Count ``cls.join`` calls from now on in ``["calls"]``, raising
    RuntimeError on call number ``["at"]`` (0: never)."""
    join, state = cls.join, {"calls": 0, "at": 0}

    def counted(self, *args, **kwargs):
        state["calls"] += 1
        if state["calls"] == state["at"]:
            raise RuntimeError("injected mid-round failure")
        return join(self, *args, **kwargs)

    monkeypatch.setattr(cls, "join", counted)
    return state


@pytest.mark.parametrize("regime", ["broadcast", "partitioned"])
@pytest.mark.parametrize(
    "name", [*_RAISE_OPS, "strongly_connected_components", "bowtie_classes"]
)
def test_a_raise_mid_round_keeps_the_callers_caches_and_leaks_none(
    spark, monkeypatch, name, regime
):
    """Each of the 14 iterative operators, raising mid-round in either
    regime (serial finishes off), leaves the caller's cache entries of
    ``e``, ``vertices(e)`` and ``vertex_weights(e)`` in place (Spark
    caches by plan, so an operator that unpersists its own equal frame
    drops the caller's entry) and leaves no entry of its own. SCC and
    bow-tie raise their non-convergence RuntimeError on a path; the
    others raise at the middle DataFrame.join of a clean run."""
    import functools

    from louvain_communities_openmp_spark.operators import scc, serial
    from louvain_communities_openmp_spark.operators.properties import vertex_weights
    from louvain_communities_openmp_spark.operators.transforms import vertices

    monkeypatch.setattr(serial, "SERIAL_EDGES", 0)
    if regime == "partitioned":
        monkeypatch.setattr(serial, "BROADCAST_VERTICES", 0)
    path = [(i, i + 1, 1.0) for i in range(30)]
    if name == "strongly_connected_components":
        e = edges_from_list(spark, path)
        run = lambda: scc.strongly_connected_components(e, max_iter=2)  # noqa: E731
    elif name == "bowtie_classes":
        e = edges_from_list(spark, path)
        # every vertex of a path is its own SCC: the core is {0}, and
        # reaching the 30 vertices after it takes 30 rounds
        comps = spark.createDataFrame([(i, i) for i in range(31)], "id long, scc long")
        monkeypatch.setattr(
            scc, "_reachable_set", functools.partial(scc._reachable_set, max_rounds=2)
        )
        run = lambda: scc.bowtie_classes(e, comps)  # noqa: E731
    else:
        e = edges_from_list(spark, karate())
        joins = _raise_on_join(monkeypatch, type(e))
        _RAISE_OPS[name](e)
        joins.update(at=joins["calls"] // 2 + 1, calls=0)
        run = lambda: _RAISE_OPS[name](e)  # noqa: E731
    mine = [e, vertices(e), vertex_weights(e)]
    for df in mine:
        df.persist()
    try:
        keys = [serial.cache_key(df) for df in mine]
        assert None not in keys
        cached = _cached_rdds(spark)
        with pytest.raises(RuntimeError):
            run()
        assert [serial.cache_key(df) for df in mine] == keys
        assert _cached_rdds(spark) - cached == set()
    finally:
        for df in mine:
            df.unpersist()


def test_degree_assortativity(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        degree_assortativity,
    )

    # star: every edge joins the deg-5 hub to a deg-1 leaf -> r = -1
    und = [(0, i) for i in range(1, 6)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    row = degree_assortativity(e).collect()[0]
    assert row["assortativity"] == -1.0
    assert row["n_edges"] == 10  # symmetric count

    # 4-clique: all degrees equal -> corr undefined (NULL)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    e2 = spark.createDataFrame(
        [(s, d, 1.0) for s, d in k4], "src long, dst long, w double"
    )
    row2 = degree_assortativity(e2).collect()[0]
    assert row2["assortativity"] is None


def test_jaccard_topk(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        jaccard_topk,
    )

    # star 0-(1..4) plus edge 1-2 (same fixture as common_neighbors)
    und = [(0, i) for i in range(1, 5)] + [(1, 2)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = {(r["a"], r["b"]): r for r in jaccard_topk(e, k=100).collect()}
    # degrees: 0->4, 1->2, 2->2, 3->1, 4->1; all pairs cn=1
    # j(3,4) = 1/(1+1-1) = 1.0 (both only know the hub)
    assert rows[(3, 4)]["jaccard"] == 1.0
    # j(1,2): cn=1 (hub), deg 2+2-1=3
    assert abs(rows[(1, 2)]["jaccard"] - round(1 / 3, 6)) < 1e-9
    # j(0,1): cn=1 (vertex 2), deg 4+2-1=5
    assert abs(rows[(0, 1)]["jaccard"] - 0.2) < 1e-9
    # ranking key is (cn desc, a, b) — same contract as adamic-adar
    ordered = jaccard_topk(e, k=100).collect()
    assert [(r["a"], r["b"]) for r in ordered] == sorted(
        [(r["a"], r["b"]) for r in ordered]
    )


def test_harmonic_centrality_path(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        harmonic_centrality,
    )

    # undirected path 0-1-2-3-4; sources = 2 smallest ids {0, 1}
    und = [(i, i + 1) for i in range(4)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    res = harmonic_centrality(e, n_sources=2)
    got = {r["id"]: r["harmonic"] for r in res.scores.collect()}
    # h(v) = sum over s in {0,1}, s != v of 1/d(s,v)
    exp = {
        0: 1 / 1,                # from 1
        1: 1 / 1,                # from 0
        2: 1 / 2 + 1 / 1,
        3: 1 / 3 + 1 / 2,
        4: 1 / 4 + 1 / 3,
    }
    assert set(got) == set(exp)
    for v, h in exp.items():
        assert abs(got[v] - round(h, 6)) < 1e-9, v
    # frontier BFS converges in diameter rounds (+1 empty-check round)
    assert res.iterations <= 5


def test_harmonic_centrality_disconnected_zero(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        harmonic_centrality,
    )

    # two components: triangle {0,1,2} and edge {7,8}; sources {0,1}
    und = [(0, 1), (1, 2), (0, 2), (7, 8)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    got = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(e, n_sources=2).scores.collect()
    }
    # far component untouched by every pivot -> exact 0, still present
    assert got[7] == 0.0 and got[8] == 0.0
    assert got[2] == 2.0  # 1/1 from each of 0 and 1


def test_eccentricities_path(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        eccentricities,
    )

    # undirected path 0-1-2-3-4; pivots {0, 1}
    und = [(i, i + 1) for i in range(4)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = {r["s"]: r for r in eccentricities(e, n_sources=2).collect()}
    assert rows[0]["ecc"] == 4 and rows[0]["n_reached"] == 5
    assert rows[1]["ecc"] == 3 and rows[1]["n_reached"] == 5


def test_labelprop_broadcast_round_is_exchange_free(spark):
    """The designed scale property of the broadcast regime, pinned as a
    plan assertion: a label-propagation round's own operators (above
    the cached static edge table) contain broadcast exchanges only —
    no shuffle Exchange. Regressing the partitioning/broadcast layout
    re-introduces an edge-sized per-round shuffle and fails here."""
    from pyspark.sql import functions as F

    from louvain_communities_openmp_spark.operators.labelprop import _best_labels
    from louvain_communities_openmp_spark.operators.propagate import Propagation
    from louvain_communities_openmp_spark.operators.transforms import vertices

    und = [(i, (i * 3) % 40) for i in range(40)] + [(i, i + 1) for i in range(39)]
    e = spark.createDataFrame(
        [
            (s, d, 1.0)
            for a, b in und
            if a != b
            for s, d in ((a, b), (b, a))
        ],
        "src long, dst long, w double",
    )
    with Propagation(vertices(e)) as prop:
        step = prop.step(e, F.col("w"), to="src", loops=False)
        labels = (
            prop.verts.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
        )
        best = _best_labels(step, labels)
        best.count()
        lines = best._jdf.queryExecution().executedPlan().toString().splitlines()
    # the static table appears as a cached scan; everything above it
    # is this round's own dataflow
    cut = next(
        i
        for i, ln in enumerate(lines)
        if "InMemoryTableScan" in ln or "TableCacheQueryStage" in ln
    )
    bad = [
        ln
        for ln in lines[:cut]
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert not bad, bad


def _ancestors(lines: list[str], i: int) -> list[str]:
    """The lines of the plan nodes above line ``i`` of a plan's tree
    string, nearest first."""

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out, d = [], depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            out.append(ln)
            d = depth(ln)
    return out


@pytest.mark.parametrize(
    "regime, agg",
    [
        pytest.param("broadcast", "sum", id="broadcast"),
        pytest.param("partitioned", "sum", id="partitioned"),
        pytest.param("broadcast", "min", id="broadcast-min"),
        pytest.param("partitioned", "min", id="partitioned-min"),
    ],
)
def test_propagation_step_never_shuffles_the_edge_table(spark, monkeypatch, regime, agg):
    """The designed layout of the shared propagation step, pinned as a
    plan assertion for both directions and for the Σ w·x and min
    aggregates: no shuffle Exchange sits
    between the cached edge table and the step's join. Under the
    broadcast gate the table is partitioned on the aggregation key and
    the round has no shuffle at all; over it the table is partitioned
    on the join key, so only the vertex-sized x and the partial sums
    move. A table partitioned on the other endpoint is re-shuffled
    every round and fails here."""
    from pyspark.sql import functions as F

    from louvain_communities_openmp_spark.operators import serial
    from louvain_communities_openmp_spark.operators.propagate import Propagation
    from louvain_communities_openmp_spark.operators.transforms import vertices

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    if regime == "partitioned":
        monkeypatch.setattr(serial, "BROADCAST_VERTICES", 0)
        spark.conf.set(key, "-1")
    try:
        e = edges_from_list(spark, karate())
        with Propagation(vertices(e)) as prop:
            x = prop.verts.select("id", F.lit(1.0).alias("x")).localCheckpoint(eager=True)
            total = F.sum(F.col("w") * F.col("x")) if agg == "sum" else F.min("x")
            for to in ("dst", "src"):
                s = prop.step(e, F.col("w"), to)(x, total)
                assert s.count() == 34
                lines = s._jdf.queryExecution().executedPlan().toString().splitlines()
                scan = next(
                    i
                    for i, ln in enumerate(lines)
                    if "InMemoryTableScan" in ln or "TableCacheQueryStage" in ln
                )
                above = _ancestors(lines, scan)
                join = next(i for i, ln in enumerate(above) if "Join" in ln)
                assert not [ln for ln in above[:join] if "Exchange" in ln], (to, lines)
                shuffles = [
                    ln for ln in lines[:scan] if "Exchange" in ln and "BroadcastExchange" not in ln
                ]
                assert bool(shuffles) == (regime == "partitioned"), (to, lines)
    finally:
        spark.conf.set(key, prior)


def test_hits_allclose_directed_karate(spark):
    """HITS vs the sequential oracle on the directed (u < v) half of
    karate — asymmetric, so hub and authority genuinely differ."""
    from louvain_communities_openmp_spark.operators.hits import hits_fixed
    from louvain_communities_openmp_spark.oracle.simple import hits_seq

    kar = [(u, v, w) for u, v, w in karate() if u < v]
    want_h, want_a = hits_seq(adjacency(kar), iters=4)
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in hits_fixed(edges_from_list(spark, kar), iters=4).collect()
    }
    assert len(got) == 34
    for i in range(34):
        assert math.isclose(got[i][0], want_h[i], abs_tol=1e-7), i
        assert math.isclose(got[i][1], want_a[i], abs_tol=1e-7), i
    # L1 normalization holds on both axes
    assert math.isclose(sum(h for h, _ in got.values()), 1.0, abs_tol=1e-6)
    assert math.isclose(sum(a for _, a in got.values()), 1.0, abs_tol=1e-6)
    # asymmetry sanity: on a DAG orientation the two scores differ
    assert any(abs(h - a) > 1e-4 for h, a in got.values())


def test_ktruss_peeling_matches_oracle(spark):
    """k-truss vs the sequential peeling oracle, including a 2-round
    cascade: peeling the pendant triangle lowers no K5 support, but a
    triangle CHAIN (each sharing one edge with the next) unravels one
    link per round."""
    from louvain_communities_openmp_spark.operators.ktruss import ktruss
    from louvain_communities_openmp_spark.oracle.simple import ktruss_seq

    def und(pairs):
        return spark.createDataFrame(
            [(s, d, 1.0) for a, b in pairs for s, d in ((a, b), (b, a))],
            "src long, dst long, w double",
        )

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    # triangle chain hanging off vertex 4: (4,5,6), (5,6,7), (6,7,8)
    chain = [(4, 5), (4, 6), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8)]
    for pairs, k in ((k5, 5), (k5 + chain, 4), (chain, 3), (k5, 6)):
        want, want_rounds = ktruss_seq(pairs, k)
        res = ktruss(und(pairs), k=k)
        got = sorted(
            (r["src"], r["dst"], r["support"]) for r in res.edges.collect()
        )
        assert got == want, (k, got, want)
        assert res.iterations == want_rounds, (k, res.iterations, want_rounds)


def test_betweenness_matches_truncated_brandes_oracle(spark):
    """Sampled+depth-capped betweenness vs the sequential truncated
    Brandes on karate (symmetric), at two depth caps — depth 2 (the
    truncation genuinely bites: karate's pivot eccentricities are >2)
    and depth 8 (effectively uncapped at diameter 5)."""
    from louvain_communities_openmp_spark.operators.betweenness import (
        betweenness_sampled,
    )
    from louvain_communities_openmp_spark.oracle.simple import betweenness_seq

    kar = karate()
    pairs = [(u, v) for u, v, _ in kar]
    for depth in (2, 8):
        want = betweenness_seq(pairs, sources=list(range(8)), max_depth=depth)
        res = betweenness_sampled(
            edges_from_list(spark, kar), n_sources=8, max_depth=depth
        )
        got = {r["id"]: r["betweenness"] for r in res.scores.collect()}
        assert len(got) == 34
        assert res.depth <= depth
        for i in range(34):
            assert math.isclose(got[i], want[i], abs_tol=1e-6), (depth, i)
    # depth-8 run on karate must reproduce a nonzero, non-uniform score
    assert max(got.values()) > 0
    assert len({round(v, 4) for v in got.values()}) > 5


def test_ktruss_peel_fixed_rounds_matches_oracle(spark):
    """Fixed-round peeling (the cross-engine query contract) vs the
    sequential twin, mid-peel: on the triangle chain with k=4 the peel
    is STILL IN PROGRESS after 1 round, so the unfiltered support
    column must expose next round's casualties."""
    from louvain_communities_openmp_spark.operators.ktruss import ktruss_peel
    from louvain_communities_openmp_spark.oracle.simple import ktruss_peel_seq

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(4, 5), (4, 6), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8)]

    def und(pairs):
        return spark.createDataFrame(
            [(s, d, 1.0) for a, b in pairs for s, d in ((a, b), (b, a))],
            "src long, dst long, w double",
        )

    for pairs, k, rounds in (
        (k5 + chain, 4, 1),  # mid-peel: chain half-unraveled
        (k5 + chain, 4, 3),  # converged by round 3
        (k5, 6, 2),          # k above max support: everything gone
    ):
        want = ktruss_peel_seq(pairs, k=k, rounds=rounds)
        got = sorted(
            (r["src"], r["dst"], r["support"])
            for r in ktruss_peel(und(pairs), k=k, rounds=rounds).collect()
        )
        assert got == want, (k, rounds, got, want)


def test_sssp_fixed_rounds_matches_bellman_ford(spark):
    """Fixed-round weighted SSSP vs sequential Bellman-Ford on a
    weighted digraph where the shortest path is NOT the fewest-hop
    path (direct edge weight 10 vs a 3-hop detour of weight 3), so
    bounded rounds genuinely change the answer: at rounds=1 the direct
    edge wins, by rounds=3 the detour does."""
    from louvain_communities_openmp_spark.operators.sssp import sssp_fixed
    from louvain_communities_openmp_spark.oracle.simple import sssp_seq

    wedges = [
        (0, 4, 10.0),
        (0, 1, 1.0), (1, 2, 1.0), (2, 4, 1.0),
        (1, 3, 5.0), (3, 4, 1.0),
        (4, 5, 2.0), (5, 0, 1.0),
        (2, 6, 0.5),
    ]
    df = spark.createDataFrame(wedges, "src long, dst long, w double")
    for rounds in (1, 3, 6):
        want = sssp_seq(wedges, sources=[0, 1], rounds=rounds)
        got = {
            (r["s"], r["id"]): r["dist"]
            for r in sssp_fixed(df, n_sources=2, rounds=rounds).dists.collect()
        }
        assert set(got) == set(want), (rounds, got, want)
        for k in want:
            assert math.isclose(got[k], want[k], abs_tol=1e-9), (rounds, k)
    # the hop/weight divergence actually exercised
    assert got[(0, 4)] == 3.0  # 3-hop detour beat the direct w=10 edge


def test_resource_allocation(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        resource_allocation_topk,
    )

    # same fixture as test_adamic_adar: pivots 0 (deg 4) and 5 (deg 2)
    und = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 1), (5, 2)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = resource_allocation_topk(e, k=100).collect()
    # ra(0,5) via pivots 1,2 (deg 2 each) = 1/2 + 1/2
    assert (rows[0]["a"], rows[0]["b"]) == (0, 5)
    assert abs(rows[0]["ra_score"] - 1.0) < 1e-9
    # ra(1,2) via pivots 0 (deg 4) and 5 (deg 2) = 1/4 + 1/2
    top = rows[1]
    assert (top["a"], top["b"]) == (1, 2) and top["common_neighbors"] == 2
    assert abs(top["ra_score"] - 0.75) < 1e-9
    one = {
        (r["a"], r["b"]): r["ra_score"]
        for r in rows
        if r["common_neighbors"] == 1
    }
    assert abs(one[(3, 4)] - 0.25) < 1e-9  # pivot 0, deg 4


def test_preferential_attachment(spark):
    from louvain_communities_openmp_spark.operators.linkpred import (
        preferential_attachment_topk,
    )

    und = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 1), (5, 2)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    rows = {
        (r["a"], r["b"]): r
        for r in preferential_attachment_topk(e, k=100).collect()
    }
    # degrees: 0->4, 1->2, 2->2, 3->1, 4->1, 5->2
    assert rows[(1, 2)]["pa_score"] == 4  # 2*2, cn=2
    assert rows[(0, 5)]["pa_score"] == 8  # 4*2, cn=2
    assert rows[(3, 4)]["pa_score"] == 1  # 1*1, cn=1 via hub 0
    # exact long, never float
    assert all(isinstance(r["pa_score"], int) for r in rows.values())


def test_closeness_per_source(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        closeness_per_source,
    )

    # undirected path 0-1-2-3-4; pivots {0, 1}
    und = [(i, i + 1) for i in range(4)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    got = {
        r["s"]: r for r in closeness_per_source(e, n_sources=2).collect()
    }
    # from 0: dists 0,1,2,3,4 -> n=5, sum=10, closeness 4/10
    assert got[0]["n_reached"] == 5 and got[0]["sum_dist"] == 10
    assert abs(got[0]["closeness"] - 0.4) < 1e-9
    # from 1: dists 1,0,1,2,3 -> n=5, sum=7, closeness 4/7
    assert got[1]["n_reached"] == 5 and got[1]["sum_dist"] == 7
    assert abs(got[1]["closeness"] - round(4 / 7, 6)) < 1e-9


def test_closeness_isolated_pivot_zero(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        closeness_per_source,
    )

    # pivot 0 is a self-loop island (reaches only itself, sum_dist 0);
    # the try_divide guard must yield 0.0, not a DIVIDE_BY_ZERO
    und = [(0, 0), (1, 2), (2, 3)]
    e = spark.createDataFrame(
        [(s, d, 1.0) for a, b in und for s, d in ((a, b), (b, a))],
        "src long, dst long, w double",
    )
    got = {
        r["s"]: r for r in closeness_per_source(e, n_sources=2).collect()
    }
    assert got[0]["n_reached"] == 1 and got[0]["closeness"] == 0.0
    assert abs(got[1]["closeness"] - round(2 / 3, 6)) < 1e-9


def test_eigenvector_fixed_path_counts(spark):
    from louvain_communities_openmp_spark.operators.centrality import (
        eigenvector_fixed,
    )

    # directed triangle 0->1->2->0 plus a feeder 3->1 (deg-0 in-vertex
    # 3 decays to 0 paths once t exceeds its in-reach)
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 1, 1.0)],
        "src long, dst long, w double",
    )
    res = {r["id"]: r for r in eigenvector_fixed(e, iters=2).collect()}
    # p1: in-sums of p0=1 -> 0:1, 1:2 (from 0 and 3), 2:1, 3:0
    # p2: 0: p1(2)=1, 1: p1(0)+p1(3)=1, 2: p1(1)=2, 3: 0
    assert {v: res[v]["paths2"] for v in res} == {0: 1, 1: 1, 2: 2, 3: 0}
    total = 4.0
    for v, p in ((0, 1), (1, 1), (2, 2), (3, 0)):
        assert abs(res[v]["eigenvector"] - round(p / total, 9)) < 1e-12
    # weighted: doubling an edge weight doubles the paths through it
    e2 = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 1.0), (3, 1, 1.0)],
        "src long, dst long, w double",
    )
    res2 = {r["id"]: r["paths2"] for r in eigenvector_fixed(e2, iters=2).collect()}
    assert res2[2] == 3  # w(0->1)*p1(0) + w(3->1)*p1(3) routed: 2*1 + 1*0... via 1


def test_bm25_scores(spark):
    import math

    from louvain_communities_openmp_spark.operators.pipeline import (
        bm25_scores,
    )

    docs = spark.createDataFrame(
        [
            (0, "join join hash"),
            (1, "hash scan scan scan"),
            (2, "scan scan"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in bm25_scores(docs, ["join", "hash"], k1=1.2, b=0.75).collect()
    }
    # doc 2 matches nothing -> absent
    assert set(got) == {0, 1}
    n, avgdl = 3, 9 / 3.0
    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    exp0 = idf(1) * term(2, 3) + idf(2) * term(1, 3)
    exp1 = idf(2) * term(1, 4)
    assert got[0]["n_terms_matched"] == 2
    assert abs(got[0]["bm25"] - round(exp0, 6)) < 1e-9
    assert got[1]["n_terms_matched"] == 1
    assert abs(got[1]["bm25"] - round(exp1, 6)) < 1e-9
