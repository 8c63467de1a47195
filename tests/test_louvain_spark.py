"""Louvain engine vs the sequential oracle.

- exact mode: per-vertex membership EXACT vs oracle (the north-rule
  criterion), modularity allclose 1e-6.
- dist/auto mode: valid partition, modularity within quality bound of
  the oracle (the reference's own OMP variant accepts the same
  divergence from its sequential variant).
- checkpoint/resume: mid-run restart reproduces a valid result.
"""

import math
import shutil

import pytest

from louvain_communities_openmp_spark.oracle import (
    adjacency,
    karate,
    louvain_seq,
    ring_of_cliques,
    toy5,
    two_cliques,
)
from louvain_communities_openmp_spark.oracle.graphs import (
    power_law,
    toy5_selfloops,
    toy5_weighted,
)
from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators.louvain import (
    LouvainOptions,
    louvain,
    louvain_exact,
)
from louvain_communities_openmp_spark.operators.properties import modularity
from louvain_communities_openmp_spark.sources.edges import edges_from_list

FIXTURES = {
    "toy5": toy5,
    "toy5_selfloops": toy5_selfloops,
    "toy5_weighted": toy5_weighted,
    "two_cliques": two_cliques,
    "karate": karate,
    "ring16x8": lambda: ring_of_cliques(16, 8),
}


@pytest.mark.parametrize("name", list(FIXTURES))
def test_exact_mode_matches_oracle(spark, name):
    edge_list = FIXTURES[name]()
    want = louvain_seq(adjacency(edge_list))
    e = edges_from_list(spark, edge_list)
    mem = louvain_exact(e).persist()
    got = {r["id"]: r["com"] for r in mem.collect()}
    assert got == {i: c for i, c in enumerate(want.membership)}, name
    q = modularity(e, mem)
    assert math.isclose(q, want.modularity, abs_tol=1e-6)
    # the result also reports the oracle's pass and iteration counts
    res = louvain(e, LouvainOptions(mode="exact"))
    assert (res.passes, res.iterations) == (want.passes, want.iterations)
    assert math.isclose(res.modularity, q, abs_tol=1e-12)


def test_dist_mode_quality_two_cliques(spark):
    edge_list = two_cliques()
    e = edges_from_list(spark, edge_list)
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    got = {r["id"]: r["com"] for r in res.membership.collect()}
    assert len(got) == 16
    # the two cliques must separate
    assert len({got[i] for i in range(8)}) == 1
    assert len({got[i] for i in range(8, 16)}) == 1
    assert got[0] != got[8]
    want = louvain_seq(adjacency(edge_list))
    assert res.modularity >= want.modularity - 1e-9


def test_dist_mode_quality_karate(spark):
    e = edges_from_list(spark, karate())
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    want = louvain_seq(adjacency(karate()))
    # partition covers every vertex exactly once
    assert res.membership.count() == 34
    assert res.membership.select("id").distinct().count() == 34
    assert res.modularity >= 0.9 * want.modularity
    # deterministic: rerun gives identical membership
    res2 = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    a = sorted((r["id"], r["com"]) for r in res.membership.collect())
    b = sorted((r["id"], r["com"]) for r in res2.membership.collect())
    assert a == b


def test_auto_mode_small_graph_equals_exact(spark):
    e = edges_from_list(spark, karate())
    res = louvain(e, LouvainOptions(mode="auto"))
    want = louvain_seq(adjacency(karate()))
    got = {r["id"]: r["com"] for r in res.membership.collect()}
    assert got == {i: c for i, c in enumerate(want.membership)}
    assert math.isclose(res.modularity, want.modularity, abs_tol=1e-6)
    # the serial finish's phase split adds up to its total (each part
    # is rounded to 1 ms)
    rec = res.pass_log[0]
    assert rec["mode"] == "local_finish"
    parts = [rec[k] for k in ("t_collect", "t_csr", "t_solve", "t_q")]
    assert abs(sum(parts) - rec["t_local"]) <= 0.05 * rec["t_local"] + 0.002


def test_dist_multipass_ring(spark):
    edge_list = ring_of_cliques(8, 6)
    e = edges_from_list(spark, edge_list)
    res = louvain(
        e, LouvainOptions(mode="dist", num_blocks=4)
    )
    m = {r["id"]: r["com"] for r in res.membership.collect()}
    for q in range(8):
        assert len({m[q * 6 + i] for i in range(6)}) == 1, f"clique {q} split"
    want = louvain_seq(adjacency(edge_list))
    assert res.modularity >= 0.95 * want.modularity


def test_dist_powerlaw_quality(spark):
    edge_list = power_law(400, 3)
    e = edges_from_list(spark, edge_list)
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    want = louvain_seq(adjacency(edge_list))
    assert res.modularity >= 0.9 * want.modularity


def test_dist_fallback_matches_broadcast(spark, monkeypatch):
    """serial.BROADCAST_VERTICES = 0 forces the non-broadcast scale path
    (per-pass edge bucketing + per-iteration vertex-state routing via
    cogroup). Block assignment, gating and the in-block sweep are
    identical to the broadcast path, so the membership must match
    exactly."""
    for fixture in (lambda: ring_of_cliques(8, 6), karate):
        e = edges_from_list(spark, fixture())
        a = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
        with monkeypatch.context() as mp:
            mp.setattr(serial, "BROADCAST_VERTICES", 0)
            b = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
        ma = sorted((r["id"], r["com"]) for r in a.membership.collect())
        mb = sorted((r["id"], r["com"]) for r in b.membership.collect())
        assert ma == mb
        assert abs(a.modularity - b.modularity) < 1e-12


def test_dist_rounds_without_block_caches(spark, monkeypatch):
    """With the npz block caches off, the broadcast gate runs the
    cluster-shaped kernel (_bcast_state_kernel_factory) and matches the
    cached local-mode rounds. _block_caches only switches the broadcast
    gate; the routed gate (BROADCAST_VERTICES = 0) is pinned against it
    by test_dist_fallback_matches_broadcast."""
    from louvain_communities_openmp_spark.operators import louvain as lv

    for fixture in (lambda: ring_of_cliques(8, 6), karate):
        e = edges_from_list(spark, fixture())
        opts = LouvainOptions(mode="dist", num_blocks=4)
        cached = louvain(e, opts)
        with monkeypatch.context() as mp:
            mp.setattr(lv, "_block_caches", lambda spark: False)
            plain = louvain(e, opts)
        ma = sorted((r["id"], r["com"]) for r in cached.membership.collect())
        mb = sorted((r["id"], r["com"]) for r in plain.membership.collect())
        assert ma == mb
        assert abs(cached.modularity - plain.modularity) < 1e-12


def _cached_rdds(spark) -> int:
    """Persisted RDDs that are not local checkpoints (the eager local
    checkpoints hold round states, so they are not counted)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(1 for r in rdds.values() if not r.rdd().isCheckpointed())


def test_dist_louvain_releases_caches(spark, monkeypatch):
    """Repeated dist runs cache nothing beyond their result membership,
    on both gates: the breaking pass releases its vertex weights and
    the driver gate's round membership once the result is built."""
    e = edges_from_list(spark, ring_of_cliques(8, 6))
    for bound in (serial.BROADCAST_VERTICES, 0):
        monkeypatch.setattr(serial, "BROADCAST_VERTICES", bound)
        cached = _cached_rdds(spark)
        for _ in range(2):
            res = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
            assert res.membership.count() == 48
            res.membership.unpersist()
            assert _cached_rdds(spark) == cached, bound


def test_block_body_resorts_unordered_rows():
    """The routed gate's block body (_state_edges_sweep) needs each
    block's rows in (src, dst) order; rows that arrive shuffled are
    re-sorted, so the emissions match the ordered run exactly."""
    import numpy as np
    import pandas as pd

    from louvain_communities_openmp_spark.operators.louvain import (
        _state_edges_sweep,
    )

    src, dst, w = (np.array(c) for c in zip(*karate()))
    src, dst, w = src.astype(np.int64), dst.astype(np.int64), w.astype(np.float64)
    block = src % 2 == 0  # one block: the even-id sources
    o = np.lexsort((dst[block], src[block]))
    bs, bd, bw = src[block][o], dst[block][o], w[block][o]
    ids = np.unique(np.concatenate([bs, bd]))
    vtot = np.bincount(src, weights=w)
    com = ids // 3  # communities of up to three consecutive ids
    ctot = pd.Series(vtot[ids]).groupby(com).transform("sum").to_numpy()
    spdf = pd.DataFrame(
        {"id": ids, "com": com, "vtot": vtot[ids], "ctot": ctot,
         "vaff": ids % 5 != 0}
    )
    m = float(w.sum()) / 2.0
    want = _state_edges_sweep(bs, bd, bw, spdf, 0, 1, m, 1.0)
    assert len(want) > 0
    p = np.random.default_rng(7).permutation(len(bs))
    got = _state_edges_sweep(bs[p], bd[p], bw[p], spdf.iloc[::-1], 0, 1, m, 1.0)
    pd.testing.assert_frame_equal(got, want)


def test_warm_start_oracle_converged_input(spark):
    """Seeding louvain_seq_fast with its own converged membership makes
    the next run converge immediately (louvainInitializeFromW)."""
    import numpy as np

    from louvain_communities_openmp_spark.operators.serial import edge_csr
    from louvain_communities_openmp_spark.oracle.louvain_seq import (
        louvain_seq_fast,
    )

    src, dst, w = (np.array(c) for c in zip(*ring_of_cliques(8, 6)))
    g = edge_csr(src, dst, w)
    cold = louvain_seq_fast(g)
    # remap membership to dense labels for init
    mem = cold.membership
    dense = np.searchsorted(np.unique(mem), mem)
    warm = louvain_seq_fast(g, init_com=dense)
    assert warm.iterations < cold.iterations
    assert warm.modularity >= cold.modularity - 1e-9


def test_warm_start_after_delta_batch(spark):
    """DYNAMIC path: apply a ~5% edge delta, warm-start from the stale
    membership — converges to the cold-run modularity (within 1e-6)
    in no more iterations (louvain.hxx:305-389 semantics)."""
    from louvain_communities_openmp_spark.operators.structure import (
        generate_edge_deltas,
    )
    from louvain_communities_openmp_spark.operators.transforms import apply_batch

    edge_list = ring_of_cliques(8, 6)
    e0 = edges_from_list(spark, edge_list).persist()
    cold0 = louvain(e0, LouvainOptions(mode="auto"))

    dels, ins = generate_edge_deltas(e0, frac_del=0.05, frac_ins=0.05)
    e1 = apply_batch(e0, dels, ins).persist()

    cold1 = louvain(e1, LouvainOptions(mode="auto"))
    warm1 = louvain(
        e1,
        LouvainOptions(mode="auto", initial_membership=cold0.membership),
    )
    assert warm1.modularity >= cold1.modularity - 1e-6
    assert warm1.iterations <= cold1.iterations
    # valid partition: every vertex exactly once
    n = warm1.membership.count()
    assert n == warm1.membership.select("id").distinct().count()
    assert n == e1.selectExpr("src AS id").union(e1.selectExpr("dst")).distinct().count()


def test_warm_start_dist_mode(spark):
    edge_list = ring_of_cliques(8, 6)
    e = edges_from_list(spark, edge_list)
    cold = louvain(e, LouvainOptions(mode="dist", num_blocks=4))
    warm = louvain(
        e,
        LouvainOptions(
            mode="dist", num_blocks=4, initial_membership=cold.membership
        ),
    )
    assert warm.modularity >= cold.modularity - 1e-9
    assert warm.iterations <= cold.iterations


def test_checkpoint_and_resume(spark, tmp_path):
    rd = str(tmp_path / "run")
    edge_list = ring_of_cliques(8, 6)
    e = edges_from_list(spark, edge_list)
    res = louvain(e, LouvainOptions(mode="dist", num_blocks=4, run_dir=rd))
    base = sorted((r["id"], r["com"]) for r in res.membership.collect())

    # resume of a finished run short-circuits to the stored result
    res2 = louvain(
        e, LouvainOptions(mode="dist", num_blocks=4, run_dir=rd, resume=True)
    )
    assert sorted((r["id"], r["com"]) for r in res2.membership.collect()) == base

    # simulate a crash: drop the final snapshot, resume mid-run
    import os

    passes = sorted(d for d in os.listdir(rd) if d.startswith("pass_"))
    if len(passes) > 1:
        shutil.rmtree(os.path.join(rd, passes[-1]))
        res3 = louvain(
            e, LouvainOptions(mode="dist", num_blocks=4, run_dir=rd, resume=True)
        )
        m3 = {r["id"]: r["com"] for r in res3.membership.collect()}
        assert len(m3) == 48
        assert res3.modularity >= 0.95 * res.modularity


def test_warm_start_absent_vertex_label_collision(spark, monkeypatch):
    """Regression (round-3 ADVICE): warm-start membership is
    dense-renumbered 0..C-1, so an absent LOW-ID vertex seeded with
    com = its own id would collide with an existing community label
    and silently merge two unrelated communities at init
    (louvainInitializeFromW seeds absent vertices as SINGLETONS —
    louvain.hxx:305-318 — which requires fresh labels).

    K disconnected cliques; membership provided for cliques 1..K-1
    with dense labels 0..K-2; clique 0 (lowest ids, colliding with
    every provided label) absent. A correct init must recover exactly
    K communities, none spanning two cliques."""
    from louvain_communities_openmp_spark.oracle.graphs import undirected

    K, c = 5, 6
    pairs = [
        (k * c + i, k * c + j)
        for k in range(K)
        for i in range(c)
        for j in range(i + 1, c)
    ]
    e = edges_from_list(spark, undirected(pairs)).persist()
    init = spark.createDataFrame(
        [(k * c + i, k - 1) for k in range(1, K) for i in range(c)],
        "id long, com long",
    )
    dist = LouvainOptions(mode="dist", num_blocks=4, initial_membership=init)
    for opts, bound in (
        (dist, serial.BROADCAST_VERTICES),
        (dist, 0),  # force the cogroup scale-path init
        (LouvainOptions(mode="auto", initial_membership=init), serial.BROADCAST_VERTICES),
    ):
        monkeypatch.setattr(serial, "BROADCAST_VERTICES", bound)
        res = louvain(e, opts)
        mem = {r["id"]: r["com"] for r in res.membership.collect()}
        assert len(mem) == K * c
        # each clique lands in exactly one community, and no community
        # spans two (disconnected) cliques
        clique_coms = [
            {mem[k * c + i] for i in range(c)} for k in range(K)
        ]
        assert all(len(s) == 1 for s in clique_coms), clique_coms
        labels = [next(iter(s)) for s in clique_coms]
        assert len(set(labels)) == K, labels



def test_warm_start_labels_above_2_53_stay_distinct(spark):
    """Provided labels are int64 values: 2**53 and 2**53 + 1 are one
    float64, and a float round trip would seed two disconnected cliques
    as one community."""
    from louvain_communities_openmp_spark.oracle.graphs import undirected

    c = 6
    pairs = [
        (k * c + i, k * c + j)
        for k in range(2)
        for i in range(c)
        for j in range(i + 1, c)
    ]
    e = edges_from_list(spark, undirected(pairs)).persist()
    init = spark.createDataFrame(
        [(k * c + i, 2**53 + k) for k in range(2) for i in range(c)],
        "id long, com long",
    )
    for mode in ("auto", "dist"):
        res = louvain(e, LouvainOptions(mode=mode, num_blocks=4, initial_membership=init))
        mem = {r["id"]: r["com"] for r in res.membership.collect()}
        assert len({mem[i] for i in range(c)}) == 1, mode
        assert len({mem[c + i] for i in range(c)}) == 1, mode
        assert mem[0] != mem[c], mode
        assert math.isclose(res.modularity, 0.5, abs_tol=1e-9), mode
    e.unpersist()


def test_frontier_seeded_oracle_fewer_scans():
    """Frontier-seeded DYNAMIC marking (louvain.hxx:305-389 + DYNAMIC
    louvain.hxx:1009): warm-start + init_aff (endpoints of the changed
    edges) lands on the SAME membership as a flooded warm start while
    scanning strictly fewer vertices in pass 0."""
    import numpy as np

    from louvain_communities_openmp_spark.operators.serial import edge_csr
    from louvain_communities_openmp_spark.oracle.graphs import undirected
    from louvain_communities_openmp_spark.oracle.louvain_seq import (
        louvain_seq_fast,
    )

    def csr(el):
        return edge_csr(*(np.array(c) for c in zip(*el)))

    base = ring_of_cliques(8, 6)
    cold = louvain_seq_fast(csr(base))
    mem = cold.membership
    dense = np.searchsorted(np.unique(mem), mem)

    # delta batch: drop one intra-clique edge, add one cross-ring edge
    changed = {(0, 1), (2, 27)}
    pairs = sorted(
        {(s, d) for s, d, _ in base if s < d and (s, d) != (0, 1)} | {(2, 27)}
    )
    g1 = csr(undirected(pairs))
    assert g1.ids.tolist() == list(range(48))  # positions are ids

    flood = louvain_seq_fast(g1, init_com=dense.copy())
    aff = np.unique([v for p in changed for v in p])
    seeded = louvain_seq_fast(g1, init_com=dense.copy(), init_aff=aff)
    assert seeded.membership.tolist() == flood.membership.tolist()
    p_flood = flood.pass_log[0]["processed"]
    p_seed = seeded.pass_log[0]["processed"]
    assert 0 < p_seed < p_flood, (p_seed, p_flood)
    # pass-0 round 1 scans exactly the seeded frontier, not all 48
    assert p_seed < 48


def test_frontier_seeded_spark_paths(spark, monkeypatch):
    """affected_vertices through the engine: the auto/local-finish,
    dist/broadcast and dist/cogroup paths all honor the seed — fewer
    vertex scans than a flooded warm start, same-quality partition."""
    from louvain_communities_openmp_spark.operators.transforms import apply_batch

    e0 = edges_from_list(spark, ring_of_cliques(8, 6)).persist()
    cold = louvain(e0, LouvainOptions(mode="auto"))

    dels = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    ins = spark.createDataFrame(
        [(2, 27, 1.0), (27, 2, 1.0)], "src long, dst long, w double"
    )
    e1 = apply_batch(e0, dels, ins).persist()
    aff = spark.createDataFrame([(0,), (1,), (2,), (27,)], "id long")

    def total_processed(res):
        # the cogroup path only pays the per-round count job when a
        # seed is active; a flooded run's work is ≥ V·iters by
        # definition (frontier=None ≙ all marked in round 0)
        return sum(
            x["processed"]
            if x.get("processed") is not None
            else x.get("vertices", 0) * max(x.get("iterations", 1), 1)
            for x in res.pass_log
        )

    for extra, bound in (
        ({"mode": "auto"}, serial.BROADCAST_VERTICES),
        ({"mode": "dist", "num_blocks": 4}, serial.BROADCAST_VERTICES),
        ({"mode": "dist", "num_blocks": 4}, 0),
    ):
        monkeypatch.setattr(serial, "BROADCAST_VERTICES", bound)
        flood = louvain(
            e1,
            LouvainOptions(initial_membership=cold.membership, **extra),
        )
        seeded = louvain(
            e1,
            LouvainOptions(
                initial_membership=cold.membership,
                affected_vertices=aff,
                **extra,
            ),
        )
        assert total_processed(seeded) < total_processed(flood), extra
        assert seeded.modularity >= flood.modularity - 1e-9, extra
        n = seeded.membership.count()
        assert n == seeded.membership.select("id").distinct().count()
        assert n == 48
