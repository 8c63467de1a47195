"""Structured-Streaming edge-delta ingestion (dynamic-graph analog)."""

import datetime
import gc
import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators.transforms import apply_batch
from louvain_communities_openmp_spark.oracle import karate, toy5
from louvain_communities_openmp_spark.sources.edges import edges_from_list
from louvain_communities_openmp_spark.streaming.edge_stream import (
    DELTA_SCHEMA,
    EdgeStateStore,
    apply_delta_batch,
    start_edge_delta_stream,
    windowed_edge_rates,
)


def test_state_store_roundtrip(spark, tmp_path):
    store = EdgeStateStore(spark, str(tmp_path / "state"))
    assert store.latest_version() is None
    e = edges_from_list(spark, toy5())
    v = store.commit(e, batch_id=0, stats={"edges": e.count()})
    assert store.latest_version() == v
    back = store.load()
    assert back.count() == 12


def test_apply_delta_batch_symmetric(spark, tmp_path):
    store = EdgeStateStore(spark, str(tmp_path / "state"))
    store.commit(edges_from_list(spark, toy5()), 0, {})
    deltas = spark.createDataFrame(
        [("del", 3, 4, 1.0), ("ins", 0, 4, 2.0)], DELTA_SCHEMA
    )
    apply_delta_batch(store, deltas, 1)
    got = {(r["src"], r["dst"]): r["w"] for r in store.load().collect()}
    assert (3, 4) not in got and (4, 3) not in got
    assert got[(0, 4)] == 2.0 and got[(4, 0)] == 2.0
    # re-inserting an existing edge is a no-op (must-not-exist tidy rule)
    deltas2 = spark.createDataFrame([("ins", 0, 1, 9.0)], DELTA_SCHEMA)
    apply_delta_batch(store, deltas2, 2)
    got2 = {(r["src"], r["dst"]): r["w"] for r in store.load().collect()}
    assert got2[(0, 1)] == 1.0


def _apply_by_snapshot_plan(store, batch, batch_id):
    """The multi-pass composition apply_delta_batch replaced: the
    insertion tidy anti-joins the full snapshot, and every action
    (count, snapshot write, affected write) reruns that plan."""
    edges = store.load()
    dels = batch.where(F.col("op") == "del").select("src", "dst")
    ins = batch.where(F.col("op") == "ins").select("src", "dst", "w")
    dels = dels.unionByName(
        dels.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ins = (
        ins.unionByName(
            ins.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))
        .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    new_edges = apply_batch(edges, dels, ins)
    affected = (
        dels.select(F.col("src").alias("id"))
        .unionByName(dels.select(F.col("dst").alias("id")))
        .unionByName(ins.select(F.col("src").alias("id")))
        .unionByName(ins.select(F.col("dst").alias("id")))
        .distinct()
    )
    return store.commit(
        new_edges, batch_id, {"edges": new_edges.count(), "n_dels": dels.count()},
        affected=affected,
    )


# toy5 plus a duplicate 2->3 row, which the apply's sum collapses
DUP_V0 = toy5() + [(2, 3, 0.5)]
MIXED = [
    ("ins", 0, 1, 9.0),  # existing pair, other weight: old weight stays
    ("ins", 3, 4, 7.0),  # insert + delete of an existing pair
    ("del", 4, 3, 1.0),
    ("ins", 1, 3, 2.0),  # insert + delete of a new pair: deletes
    ("del", 1, 3, 1.0),  # apply first, so the insert lands
    ("ins", 0, 4, 2.0),  # duplicate inserts, both directions: max wins
    ("ins", 4, 0, 3.0),
    ("ins", 0, 4, 1.5),
    ("del", 0, 3, 1.0),  # delete of an absent pair
]
APPLY_CASES = {
    "mixed": (DUP_V0, MIXED),
    # ids below, between and above the parent's; an unknown op is ignored
    "new_ids": (toy5(), [("ins", 4, 7, 1.0), ("ins", 7, 9, 2.5), ("ins", -2, 1, 1.0),
                         ("del", 3, 4, 1.0), ("del", 9, 8, 1.0), ("upd", 0, 1, 5.0)]),
    # vertex 0 loses every edge, and vertex 1 its self-loop
    "isolated": (toy5() + [(1, 1, 2.0)], [("del", 0, 1, 1.0), ("del", 2, 0, 1.0),
                                          ("del", 1, 1, 1.0), ("ins", 3, 1, 2.0)]),
    "empty": (DUP_V0, []),
    # a raw v0: duplicate rows summed, a duplicated pair deleted whole,
    # an insert of a duplicated self-loop dropped
    "raw_dups": (toy5() + [(2, 3, 0.5), (2, 3, 0.25), (3, 4, 2.0), (4, 4, 1.0), (4, 4, 1.0)],
                 [("del", 3, 4, 1.0), ("ins", 4, 4, 5.0), ("ins", 0, 3, 0.5)]),
}


def _same_graph(got, want):
    """Bit-identical ``EdgeCSR``s."""
    for f in ("ids", "src", "dst", "w", "indptr"):
        a, b = getattr(got, f), getattr(want, f)
        assert (a.dtype, a.tobytes()) == (b.dtype, b.tobytes()), f


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. A window compares the ids it adds and
    the ids it expects gone, so an earlier test's RDD that leaves the
    list inside it does not count."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _apply_against_snapshot_plan(spark, tmp_path, case, memo):
    """Apply ``APPLY_CASES[case]`` to a store whose v0 has ``memo``
    "none" (nothing resident: the Spark path), "held" (v0's graph held:
    the resident path) or "evicted" (v0 resident, its graph evicted from
    the memo: the Spark path), and check it against the multi-pass
    composition. Returns the snapshot rows and n_dels."""
    v0, deltas = APPLY_CASES[case]
    e0 = edges_from_list(spark, v0)
    batch = spark.createDataFrame(deltas, DELTA_SCHEMA)
    stores = []
    for name in ("one_pass", "snapshot_plan"):
        store = EdgeStateStore(spark, str(tmp_path / name))
        store.commit(e0, 0, {"edges": len(v0)})
        stores.append(store)
    got, want = stores
    if memo != "none":
        assert serial.local_graph(got.resident(0), None) is not None
    if memo == "evicted":
        other = edges_from_list(spark, karate()).persist()
        serial.local_graph(other, None)
    assert (got._held_parent() is not None) == (memo == "held")
    v0_rdd = serial.cache_key(got.load(0))[1] if memo != "none" else None
    cached = _persisted(spark)
    v = apply_delta_batch(got, batch, 1)
    # the resident path persists v1 as it releases v0; the Spark path
    # releases v0, if resident, and leaves v1 to its first reader
    after = _persisted(spark)
    added = {serial.cache_key(got.load(1))[1]} if memo == "held" else set()
    assert after - cached == added
    if memo != "none":
        assert v0_rdd in cached and v0_rdd not in after
    assert _apply_by_snapshot_plan(want, batch, 1) == v == 1

    def rows(store):
        return sorted(tuple(r) for r in store.load(v).collect())

    def affected(store):
        return sorted(r["id"] for r in store.load_affected(v).collect())

    def meta(store):
        m = store.commit_meta(v)
        return m["edges"], m["n_dels"]

    assert rows(got) == rows(want)
    assert affected(got) == affected(want)
    assert meta(got) == meta(want)
    assert meta(got)[0] == got.load(v).count()
    # only the resident path holds the new version's graph, and it is
    # bit-identical to a collect of the snapshot
    held = serial.held_graph(got.load(v))
    assert (held is not None) == (memo == "held")
    if held is not None:
        fresh = serial.edge_csr(*serial.collect_columns(got.load(v), ["src", "dst", "w"]))
        _same_graph(held, fresh)
    if memo == "evicted":
        other.unpersist()
    got.close()
    return rows(want), meta(want)[1]


def test_apply_delta_batch_matches_snapshot_plan_and_releases_caches(spark, tmp_path):
    rows, n_dels = _apply_against_snapshot_plan(spark, tmp_path, "mixed", "none")
    assert n_dels == 6
    snap = {(s, d): w for s, d, w in rows}
    assert snap[(0, 1)] == snap[(1, 0)] == 1.0
    assert snap[(0, 4)] == snap[(4, 0)] == 3.0
    assert snap[(2, 3)] == 1.5
    assert snap[(1, 3)] == snap[(3, 1)] == 2.0
    assert (3, 4) not in snap and (4, 3) not in snap


@pytest.mark.parametrize("case", APPLY_CASES)
def test_resident_apply_matches_snapshot_plan(spark, tmp_path, case):
    _apply_against_snapshot_plan(spark, tmp_path, case, "held")


def test_apply_with_the_memo_evicted_takes_the_spark_path(spark, tmp_path):
    _apply_against_snapshot_plan(spark, tmp_path, "mixed", "evicted")


def test_every_version_matches_the_spark_path(spark, tmp_path):
    """A chain of batches through the resident path and through the
    Spark path gives the same snapshot and the same refreshed
    membership at every version."""
    import numpy as np

    from louvain_communities_openmp_spark.oracle import ring_of_cliques
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain

    v0 = ring_of_cliques(8, 6)
    rng = np.random.default_rng(7)
    stores, dyns = [], []
    for name in ("resident", "spark"):
        store = EdgeStateStore(spark, str(tmp_path / name))
        store.commit(edges_from_list(spark, v0), 0, {})
        stores.append(store)
        dyns.append(DynamicLouvain(store))
    stores[1]._held_parent = lambda: None
    pairs = sorted({(min(u, v), max(u, v)) for u, v, _ in v0})
    for b in range(1, 4):
        # one graph is held at a time: the resident store's refresh last
        for dyn in reversed(dyns):
            dyn.update_to_latest()
        dels = [pairs[i] for i in rng.choice(len(pairs), 4, replace=False)]
        ins = rng.integers(0, 52, size=(6, 2))
        deltas = spark.createDataFrame(
            [("del", int(u), int(v), 1.0) for u, v in dels]
            + [("ins", int(u), int(v), float(w)) for (u, v), w in zip(ins, rng.integers(1, 4, 6))],
            DELTA_SCHEMA,
        )
        assert serial.held_graph(stores[0].resident()) is not None
        assert [apply_delta_batch(st, deltas, b) for st in stores] == [b, b]
        assert serial.held_graph(stores[0].load(b)) is not None
        got, want = (sorted(tuple(r) for r in st.load(b).collect()) for st in stores)
        assert got == want
        pairs = sorted({(min(u, v), max(u, v)) for u, v, _ in got})
    mems = []
    for dyn in dyns:
        dyn.update_to_latest()
        mems.append([sorted(tuple(r) for r in dyn.load(v).collect()) for v in range(4)])
    assert mems[0] == mems[1]
    for st in stores:
        st.close()


def _jobs(spark, fn):
    """(``fn()``, the number of Spark jobs it ran), by job group."""
    sc = spark.sparkContext
    group = f"jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_GROUPS = itertools.count()


def test_warm_refresh_over_a_held_store_runs_no_spark_job(spark, tmp_path):
    """A warm refresh of a resident-path version starts from the
    maintainer's membership arrays and the store's affected ids, and
    writes its result with pyarrow; ``modularity`` of the result over
    ``store.load(v)`` reads the held graph and the result's arrays.
    Neither runs a Spark job, also after the caller unpersisted the
    previous result, and the refresh leaves nothing persisted."""
    from louvain_communities_openmp_spark.operators.properties import modularity
    from louvain_communities_openmp_spark.oracle import ring_of_cliques
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain

    store = EdgeStateStore(spark, str(tmp_path / "state"))
    store.commit(edges_from_list(spark, ring_of_cliques(8, 6)), 0, {})
    dyn = DynamicLouvain(store)
    dyn.update_to_latest()[1].membership.unpersist()
    for b, (u, v) in enumerate([(0, 24), (6, 30), (12, 40)], start=1):
        deltas = spark.createDataFrame([("ins", u, v, 1.0), ("del", u, u + 1, 1.0)], DELTA_SCHEMA)
        assert apply_delta_batch(store, deltas, b) == b
        persisted = _persisted(spark)
        (version, res), jobs = _jobs(spark, dyn.update_to_latest)
        assert (version, jobs) == (b, 0)
        assert dyn.commit_meta(b)["frontier_seeded"] is True
        q, jobs = _jobs(spark, lambda: modularity(store.load(b), res.membership))
        assert jobs == 0
        assert q == pytest.approx(res.modularity, abs=1e-12)
        res.membership.unpersist()
        after = _persisted(spark)
        assert after - persisted == set()
        assert serial.cache_key(store.load(b))[1] in after  # the resident version stays
    store.close()


def test_a_resumed_chain_matches_the_resident_chain(spark, tmp_path):
    """New store and maintainer objects on the directories of a chain
    continue it from disk (the written memberships and affected ids,
    a collected graph) and give, at every version, the memberships and
    the commit records (apart from times) of the resident chain and of
    the Spark path."""
    import numpy as np

    from louvain_communities_openmp_spark.oracle import ring_of_cliques
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain

    v0 = ring_of_cliques(8, 6)
    rng = np.random.default_rng(11)
    chains = {}
    for name in ("resident", "spark", "resumed"):
        store = EdgeStateStore(spark, str(tmp_path / name))
        store.commit(edges_from_list(spark, v0), 0, {})
        chains[name] = [store, DynamicLouvain(store)]
    chains["spark"][0]._held_parent = lambda: None
    pairs = sorted({(min(u, v), max(u, v)) for u, v, _ in v0})
    for b in range(1, 5):
        dels = [pairs[i] for i in rng.choice(len(pairs), 4, replace=False)]
        ins = rng.integers(0, 52, size=(6, 2))
        deltas = spark.createDataFrame(
            [("del", int(u), int(v), 1.0) for u, v in dels]
            + [("ins", int(u), int(v), float(w)) for (u, v), w in zip(ins, rng.integers(1, 4, 6))],
            DELTA_SCHEMA,
        )
        for name, chain in chains.items():
            if name == "resumed" and b == 3:
                chain[0].close()
                store = EdgeStateStore(spark, chain[0].dir)
                chain[:] = [store, DynamicLouvain(store)]
            store, dyn = chain
            assert dyn.update_to_latest()[0] == b - 1
            assert apply_delta_batch(store, deltas, b) == b
        pairs = sorted({(min(u, v), max(u, v)) for u, v, _ in chains["resident"][0].load(b).collect()})
    got = {}
    for name, (store, dyn) in chains.items():
        assert dyn.update_to_latest()[0] == 4
        got[name] = [
            (sorted(tuple(r) for r in dyn.load(v).collect()),
             {k: x for k, x in dyn.commit_meta(v).items() if k != "seconds"},
             {k: x for k, x in store.commit_meta(v).items() if k != "ts"})
            for v in range(5)
        ]
        assert all(meta["frontier_seeded"] for _, meta, _ in got[name][1:])
        store.close()
    assert got["resumed"] == got["resident"] == got["spark"]


def test_resident_version_is_released_at_the_next_version_and_at_close(spark, tmp_path):
    store = EdgeStateStore(spark, str(tmp_path / "state"))
    store.commit(edges_from_list(spark, toy5()), 0, {})
    serial.local_graph(store.resident(0), None)
    assert serial._cache_key(store.load(0)) is not None
    deltas = spark.createDataFrame([("ins", 0, 3, 1.0)], DELTA_SCHEMA)
    v1 = apply_delta_batch(store, deltas, 1)
    assert serial._cache_key(store.load(0)) is None
    assert serial._cache_key(store.load(v1)) is not None
    assert serial.held_graph(store.load(v1)) is not None
    # a commit through Spark releases it too; the next version is
    # persisted when a reader asks for it
    store.commit(store.load(v1), 2, {})
    assert serial._cache_key(store.load(v1)) is None
    assert serial._cache_key(store.load(2)) is None
    store.resident()
    assert serial._cache_key(store.load(2)) is not None
    store.close()
    assert serial._cache_key(store.load(2)) is None
    gc.collect()
    assert serial._held is None


def test_a_torn_version_leaks_nothing_into_the_next_commit(spark, tmp_path):
    """A version whose write never reached its commit record is written
    again from an empty directory: its leftover affected ids are not
    part of the next commit, so the refresh floods instead of seeding
    from them."""
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain

    store = EdgeStateStore(spark, str(tmp_path / "state"))
    e = edges_from_list(spark, toy5())
    store.commit(e, 0, {})
    dl = DynamicLouvain(store)
    dl.update_to_latest()
    # a torn v1: its affected ids were written, its commit record never
    spark.createDataFrame([(999,)], "id long").write.parquet(
        os.path.join(store.dir, "v000001", "affected"))
    assert store.latest_version() == 0
    assert store.commit(e, 1, {}) == 1
    assert store.load_affected(1) is None
    assert dl.update_to_latest()[0] == 1
    assert dl.commit_meta(1)["frontier_seeded"] is False
    store.close()


_STAMP = datetime.datetime(2025, 1, 1)
# log under test: (subdirectory, schema, committed rows, torn rows, the
# commit record's fields beside "version"), with each record's keys as
# the code before the shared version log wrote them
LOGS = {
    "edges": ("edges", "src long, dst long, w double", toy5(), [(999, 998, 1.0)],
              {"batch_id": 0, "ts": 1.0, "edges": 12}),
    "snapshot": ("snapshot", "url string, capture int, warc_ts timestamp",
                 [("u1", 0, _STAMP)], [("torn", 0, _STAMP)],
                 {"batch_id": 0, "ts": 1.0, "n_batch_rows": 1, "n_urls": 1}),
    "membership": ("membership", "id long, com long", [(i, 0) for i in range(5)], [(999, 999)],
                   {"warm_from": None, "modularity": 0.1, "iterations": 2, "passes": 1,
                    "processed": 10, "frontier_seeded": False, "seconds": 0.5}),
    "ranks": ("ranks", "id long, rank double", [(i, 0.2) for i in range(5)], [(999, 1.0)],
              {"warm_from": None, "iterations": 30, "err": 1e-11, "seconds": 0.5}),
    "components": ("components", "id long, comp long", [(i, 0) for i in range(5)], [(999, 999)],
                   {"warm_from": None, "mode": "cold", "iterations": 3, "seconds": 0.5}),
}


@pytest.mark.parametrize("kind", sorted(LOGS))
def test_version_log_protocol(spark, tmp_path, kind):
    """The edge store, the capture store and the three maintainers keep
    one protocol: a version without a commit record is not the latest,
    is not loaded and is not refreshed from; a version written as the
    code before the shared version log wrote it (raw Spark parquet and a
    hand-written record) reads back and refreshes; and a store directory
    that holds the maintainers' directories still resolves its own
    latest version."""
    from louvain_communities_openmp_spark.streaming.capture_stream import (
        SnapshotStore,
        apply_capture_batch,
    )
    from louvain_communities_openmp_spark.streaming.dynamic_components import DynamicComponents
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain
    from louvain_communities_openmp_spark.streaming.dynamic_pagerank import DynamicPageRank

    sub, schema, rows, torn, record = LOGS[kind]
    root = str(tmp_path / "state")
    if kind == "snapshot":
        store = log = SnapshotStore(spark, root)
        for name in ("membership", "pagerank", "components"):
            os.makedirs(os.path.join(root, name))
    else:
        store = EdgeStateStore(spark, root)
        maintainers = [DynamicLouvain(store), DynamicPageRank(store), DynamicComponents(store)]
        log = store if kind == "edges" else next(m for m in maintainers if m.frame == kind)
        if log is not store:
            store.commit(edges_from_list(spark, toy5()), 0, {"n_dels": 0})
    for v, data in ((0, rows), (1, torn)):
        spark.createDataFrame(data, schema).write.parquet(log.path(v, sub))
    with open(log.path(0, "_COMMIT.json"), "w") as f:
        json.dump({"version": 0, **record}, f)

    assert log.latest_version() == 0
    assert store.latest_version() == 0
    assert log.commit_meta(0) == {"version": 0, **record}
    assert sorted(tuple(r) for r in log.load().collect()) == sorted(rows)
    with pytest.raises(FileNotFoundError):
        log.load(1)
    if kind == "snapshot":
        batch = spark.createDataFrame([("u2", 0, _STAMP)], schema)
        assert apply_capture_batch(store, batch, 0) == -1  # the record's batch_id
        assert apply_capture_batch(store, batch, 1) == 1
        assert sorted(r["url"] for r in store.load().collect()) == ["u1", "u2"]
        return
    if kind == "edges":
        assert maintainers[0].update_to_latest()[0] == 0
        assert store.commit(store.load(), 1, {"n_dels": 0}) == 1
        assert sorted(tuple(r) for r in store.load(1).collect()) == sorted(rows)
    else:
        assert log.update_to_latest() is None
        assert store.commit(store.load(), 1, {"n_dels": 0}) == 1
        assert log.update_to_latest()[0] == 1
        assert log.commit_meta(1)["warm_from"] == 0
        assert sorted(r["id"] for r in log.load(1).collect()) == list(range(5))
    store.close()


def test_maintainers_share_one_resident_graph(spark, tmp_path, monkeypatch):
    """The three maintainers chained on one store read the resident
    version: one edge collect for v0, none after a resident-path apply,
    and no refresh uncaches the store's entry."""
    from louvain_communities_openmp_spark.streaming.dynamic_components import DynamicComponents
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain
    from louvain_communities_openmp_spark.streaming.dynamic_pagerank import DynamicPageRank

    collects = []
    real = serial.collect_columns
    monkeypatch.setattr(
        serial, "collect_columns",
        lambda df, cols, *bound: collects.append(cols) or real(df, cols, *bound))
    store = EdgeStateStore(spark, str(tmp_path / "state"))
    store.commit(edges_from_list(spark, karate()), 0, {})
    maintainers = [DynamicLouvain(store), DynamicPageRank(store), DynamicComponents(store)]
    deltas = spark.createDataFrame([("ins", 0, 9, 1.0), ("ins", 4, 30, 2.0)], DELTA_SCHEMA)
    for v in (0, 1):
        if v:
            assert apply_delta_batch(store, deltas, 1) == v
        frame = store.resident(v)
        key = serial._cache_key(frame)
        for m in maintainers:
            assert m.update_to_latest()[0] == v
            assert store.resident(v) is frame
            assert serial._cache_key(store.load(v)) == key
            assert serial.held_graph(store.load(v)) is not None
        assert len(collects) == 1
    store.close()


def test_streaming_drain(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    os.makedirs(delta_dir)
    spark.createDataFrame(
        [("ins", 0, 1, 1.0), ("ins", 1, 2, 1.0)], DELTA_SCHEMA
    ).coalesce(1).write.mode("append").parquet(delta_dir)
    spark.createDataFrame([("del", 0, 1, 1.0)], DELTA_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(delta_dir)
    state_dir = str(tmp_path / "state")
    q = start_edge_delta_stream(spark, delta_dir, state_dir)
    q.awaitTermination(120)
    store = EdgeStateStore(spark, state_dir)
    got = {(r["src"], r["dst"]) for r in store.load().collect()}
    # both files may land in one micro-batch or two; either way the
    # final state contains 1-2 (+reverse) and not 0-1
    assert (1, 2) in got and (2, 1) in got
    assert store.latest_version() is not None


def test_windowed_rates_batch_parity(spark):
    rows = [
        ("2025-01-01 00:00:01", "ins", 0, 1, 1.0),
        ("2025-01-01 00:00:05", "ins", 1, 2, 1.0),
        ("2025-01-01 00:00:15", "del", 0, 1, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "ts string, op string, src long, dst long, w double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["op"], str(r["start"])): r["n"]
        for r in windowed_edge_rates(df, "10 seconds").collect()
    }
    assert got[("ins", "2025-01-01 00:00:00")] == 2
    assert got[("del", "2025-01-01 00:00:10")] == 1


def test_dynamic_louvain_warm_start_over_versions(spark, tmp_path):
    """DYNAMIC maintainer: v0 cold, v1 warm-started from v0's
    membership; warm run takes no more iterations and lands at a sane
    modularity (reference DYNAMIC semantics, louvain.hxx:305-389)."""
    from louvain_communities_openmp_spark.oracle import ring_of_cliques
    from louvain_communities_openmp_spark.streaming.dynamic_louvain import (
        DynamicLouvain,
    )

    store = EdgeStateStore(spark, str(tmp_path / "state"))
    e0 = edges_from_list(spark, ring_of_cliques(8, 6))
    store.commit(e0, 0, {})
    dl = DynamicLouvain(store)
    v0, res0 = dl.update_to_latest()
    assert v0 == 0 and res0.modularity > 0.5
    # already current → no-op
    assert dl.update_to_latest() is None

    deltas = spark.createDataFrame(
        [("ins", 0, 24, 1.0), ("del", 0, 1, 1.0)],
        "op string, src long, dst long, w double",
    )
    apply_delta_batch(store, deltas, 1)
    v1, res1 = dl.update_to_latest()
    assert v1 == 1
    assert res1.iterations <= res0.iterations
    assert res1.modularity > 0.5
    # membership snapshot persisted and loadable per version
    m1 = dl.load(1)
    assert m1.count() == m1.select("id").distinct().count()
    # frontier-seeded DYNAMIC marking (louvain.hxx:305-389): the warm
    # run was seeded from the batch's affected endpoints and scanned
    # strictly fewer vertices than the cold run
    meta0, meta1 = dl.commit_meta(0), dl.commit_meta(1)
    assert meta0["frontier_seeded"] is False
    assert meta1["frontier_seeded"] is True
    assert 0 < meta1["processed"] < meta0["processed"]
    store.close()


def test_doc_ingest_stream_dedup_and_parity(spark, tmp_path):
    from louvain_communities_openmp_spark.operators.pipeline import clean_corpus
    from louvain_communities_openmp_spark.streaming.doc_stream import (
        DOC_SCHEMA,
        start_doc_ingest_stream,
    )

    docs_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_kept")
    os.makedirs(docs_dir)

    rows = [
        # file 1: two good docs, one dup-of-itself later, one too short
        [(1, "the quick brown fox jumps over the lazy dog again today", "en"),
         (2, "completely different content about spark and the catalyst", "en"),
         (3, "x", "en")],
        # file 2: doc 4 duplicates doc 1's text (cross-batch dedup),
        # doc 5 is fresh
        [(4, "the quick brown fox jumps over the lazy dog again today", "en"),
         (5, "der schnelle braune fuchs ist nicht von der katze und das", "de")],
    ]
    for i, batch in enumerate(rows):
        df = spark.createDataFrame(
            [(d, t, lg, "s", len(t)) for d, t, lg in batch], DOC_SCHEMA
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{docs_dir}/f{i}")
    # the file source watches a flat dir: move part files up in order
    import glob
    import shutil
    import time

    for i in range(len(rows)):
        part = glob.glob(f"{docs_dir}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{docs_dir}/{i:04d}.parquet")
        os.utime(f"{docs_dir}/{i:04d}.parquet", (time.time() + i, time.time() + i))
        shutil.rmtree(f"{docs_dir}/f{i}")

    q = start_doc_ingest_stream(
        spark, docs_dir, out_dir, min_tokens=3, max_tokens=100, langs=("en", "de")
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(out_dir)
    got = {r["doc_id"]: r for r in kept.collect()}
    assert set(got) == {1, 2, 5}          # 3 gated out, 4 deduped vs 1
    assert got[5]["lang_pred"] == "de"

    # files arrived in doc_id order -> first-accepted == global min:
    # exact parity with the batch operator
    all_docs = spark.createDataFrame(
        [(d, t, lg, "s", len(t)) for b in rows for d, t, lg in b], DOC_SCHEMA
    )
    want = {
        r["doc_id"]: r
        for r in clean_corpus(
            all_docs, min_tokens=3, max_tokens=100, langs=("en", "de")
        ).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d]["n_tokens"] == want[d]["n_tokens"]
        assert got[d]["lang_pred"] == want[d]["lang_pred"]

    # replay idempotence: re-running the same batch appends nothing
    from louvain_communities_openmp_spark.streaming.doc_stream import (
        ingest_batch,
    )

    replay = spark.createDataFrame(
        [(d, t, lg, "s", len(t)) for d, t, lg in rows[1]], DOC_SCHEMA
    )
    assert ingest_batch(
        spark, replay, out_dir, min_tokens=3, max_tokens=100,
        langs=("en", "de"),
    ) == 0


def test_dynamic_pagerank_warm_start_over_versions(spark, tmp_path):
    """PageRank maintainer: v0 cold, v1 warm-started from v0's ranks.
    The fixpoint is start-independent, so the warm result must agree
    with a cold run on the same graph to tolerance while converging in
    no more iterations."""
    from louvain_communities_openmp_spark.operators.pagerank import pagerank
    from louvain_communities_openmp_spark.oracle.graphs import power_law
    from louvain_communities_openmp_spark.streaming.dynamic_pagerank import (
        DynamicPageRank,
    )

    store = EdgeStateStore(spark, str(tmp_path / "state"))
    # power-law graph: the fixpoint is FAR from the uniform start, so
    # cold convergence takes many iterations and the warm-start
    # advantage is measurable (on a regular graph uniform ≈ fixpoint
    # and both paths converge trivially fast)
    e0 = edges_from_list(spark, power_law(n=200, m=3))
    store.commit(e0, 0, {})
    dp = DynamicPageRank(store, tol=1e-9)
    v0, res0 = dp.update_to_latest()
    assert v0 == 0 and res0.iterations > 0
    assert dp.update_to_latest() is None  # already current

    deltas = spark.createDataFrame(
        [("ins", 0, 150, 1.0), ("del", 0, 1, 1.0)],
        "op string, src long, dst long, w double",
    )
    apply_delta_batch(store, deltas, 1)
    v1, res1 = dp.update_to_latest()
    assert v1 == 1
    # warm start (previous fixpoint, one small delta away) converges
    # faster than a cold uniform start on the SAME graph
    cold = pagerank(store.load(1), tol=1e-9)
    assert res1.iterations < cold.iterations
    got = {r["id"]: r["rank"] for r in dp.load(1).collect()}
    for r in cold.ranks.collect():
        assert abs(got[r["id"]] - r["rank"]) < 1e-6, r["id"]
    # rank snapshots are probability vectors
    assert abs(sum(got.values()) - 1.0) < 1e-6
    store.close()


def test_dynamic_components_warm_and_cold(spark, tmp_path):
    """CC maintainer: insert-only deltas take the warm path (previous
    labels merge in ~1-2 rounds, exact vs cold); a deletion batch
    forces the cold path; both land on the cold-truth labels."""
    from louvain_communities_openmp_spark.operators.components import (
        connected_components,
    )
    from louvain_communities_openmp_spark.streaming.dynamic_components import (
        DynamicComponents,
    )

    # two far-apart paths: 0-1-2-3 and 10-11-12-13
    und = [(i, i + 1) for i in range(3)] + [(i, i + 1) for i in range(10, 13)]
    e0 = edges_from_list(spark, [(a, b, 1.0) for a, b in und] + [(b, a, 1.0) for a, b in und])
    store = EdgeStateStore(spark, str(tmp_path / "state"))
    store.commit(e0, 0, {})
    dc = DynamicComponents(store)
    v0, res0, mode0 = dc.update_to_latest()
    assert (v0, mode0) == (0, "cold")
    assert dc.update_to_latest() is None  # current

    # insert-only delta bridging the two components -> warm path
    ins = spark.createDataFrame(
        [("ins", 3, 10, 1.0)], "op string, src long, dst long, w double"
    )
    apply_delta_batch(store, ins, 1)
    v1, res1, mode1 = dc.update_to_latest()
    assert (v1, mode1) == (1, "warm")
    cold1 = connected_components(store.load(1))
    got = {r["id"]: r["comp"] for r in dc.load(1).collect()}
    exp = {r["id"]: r["comp"] for r in cold1.components.collect()}
    assert got == exp                       # exact labels
    assert set(got.values()) == {0}         # merged into one component
    # warm convergence beats the cold run on the same graph
    assert res1.iterations <= cold1.iterations

    # deletion splits the bridge again -> cold path, still exact
    dels = spark.createDataFrame(
        [("del", 3, 10, 1.0)], "op string, src long, dst long, w double"
    )
    apply_delta_batch(store, dels, 2)
    v2, res2, mode2 = dc.update_to_latest()
    assert (v2, mode2) == (2, "cold")
    got2 = {r["id"]: r["comp"] for r in dc.load(2).collect()}
    exp2 = {
        r["id"]: r["comp"]
        for r in connected_components(store.load(2)).components.collect()
    }
    assert got2 == exp2
    assert set(got2.values()) == {0, 10}
    store.close()


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions survive across
    micro-batches in the state store and are emitted exactly once,
    when a later event closes them; rollups match the batch
    session_window computed over the closed portion."""
    import glob
    import shutil

    from louvain_communities_openmp_spark.streaming.stateful_sessions import (
        sessionize_stream,
    )

    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    schema = "user_id long, ts timestamp, value double"
    batches = [
        # batch 0: u1 two events in one session; u2 one event
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:10:00", 2.0),
         (2, "2024-01-01 01:00:00", 5.0)],
        # batch 1: u1 event 2h later -> closes session A (3 events? no:
        # closes the 2-event session, opens a new one); u2 event 10min
        # later -> same open session (nothing emitted for u2)
        [(1, "2024-01-01 02:30:00", 4.0), (2, "2024-01-01 01:10:00", 1.0)],
        # batch 2: u2 event 3h later -> closes u2's 2-event session
        [(2, "2024-01-01 04:30:00", 9.0)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, ts string, value double"
        ).select(
            "user_id", F.to_timestamp("ts").alias("ts"), "value"
        )
        d = f"{in_dir}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(part, f"{in_dir}/{i:04d}.parquet")
        shutil.rmtree(d)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = (
        sessionize_stream(stream, gap_seconds=1800.0)
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"])): r
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }
    # exactly the two closed sessions, emitted once each
    assert len(got) == 2
    u1 = got[(1, "2024-01-01 00:00:00")]
    assert str(u1["session_end"]) == "2024-01-01 00:10:00"
    assert u1["n_events"] == 2 and abs(u1["value_sum"] - 3.0) < 1e-9
    u2 = got[(2, "2024-01-01 01:00:00")]
    assert str(u2["session_end"]) == "2024-01-01 01:10:00"
    assert u2["n_events"] == 2 and abs(u2["value_sum"] - 6.0) < 1e-9


def test_stateful_sessionize_late_events_and_timeout(spark, tmp_path):
    """Late-data + abandoned-session semantics (ADVICE r4):
    (a) a cross-batch OUT-OF-ORDER event folds into the open session
    without regressing its last_ts frontier, so a later in-order event
    inside the gap does NOT spuriously close/split the session;
    (b) with a watermark, a session nobody ever closes is flushed by
    the event-time timeout once the watermark passes last_ts + gap."""
    import glob
    import shutil

    from louvain_communities_openmp_spark.streaming.stateful_sessions import (
        sessionize_stream,
    )

    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    schema = "user_id long, ts timestamp, value double"
    batches = [
        # u9: single event, never followed -> abandoned (timeout case)
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:20:00", 2.0),
         (9, "2024-01-01 00:00:00", 7.0)],
        # u1 LATE event (00:10 < frontier 00:20): folds in, frontier
        # must stay 00:20 (regressing to 00:10 would make 00:45 a
        # 35-min gap and wrongly split the session)
        [(1, "2024-01-01 00:10:00", 4.0)],
        # in-order event 25 min after the true frontier: same session
        [(1, "2024-01-01 00:45:00", 1.0)],
        # closes u1's session; also advances the global watermark to
        # 02:00, far past u9's timeout at 00:30
        [(1, "2024-01-01 02:00:00", 5.0)],
        # one more batch so the 02:00 watermark (computed at the END of
        # the previous batch) is in force and u9's timeout fires
        [(8, "2024-01-01 02:10:00", 0.0)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, ts string, value double"
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "value")
        d = f"{in_dir}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(part, f"{in_dir}/{i:04d}.parquet")
        shutil.rmtree(d)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = (
        sessionize_stream(stream, gap_seconds=1800.0, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"])): r
        for r in spark.sql("SELECT * FROM late_sessions").collect()
    }
    # u1: ONE unsplit session of 4 events incl. the late one
    u1 = got[(1, "2024-01-01 00:00:00")]
    assert str(u1["session_end"]) == "2024-01-01 00:45:00"
    assert u1["n_events"] == 4 and abs(u1["value_sum"] - 8.0) < 1e-9
    # u9: flushed by the event-time timeout, exactly once
    u9 = got[(9, "2024-01-01 00:00:00")]
    assert str(u9["session_end"]) == "2024-01-01 00:00:00"
    assert u9["n_events"] == 1 and abs(u9["value_sum"] - 7.0) < 1e-9
