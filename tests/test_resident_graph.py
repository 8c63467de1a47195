"""The driver-resident graph (``serial.local_graph``) and its memo.

Pins that the serial finishes share one collect of a persisted edge
frame; that an unpersisted frame is evaluated once per call; that an
unpersisted frame, a re-persisted frame over rewritten
files and a derived frame are collected again and give the new answer;
that a patched bound is honoured on a hit; that the entry goes with the
last reference to its frame; and that ``modularity``'s resident path
agrees with its Spark plan.
"""

from __future__ import annotations

import gc
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators import components, properties, serial
from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.labelprop import label_propagation
from louvain_communities_openmp_spark.operators.louvain import LouvainOptions, louvain
from louvain_communities_openmp_spark.operators.pagerank import pagerank_fixed
from louvain_communities_openmp_spark.operators.properties import modularity
from louvain_communities_openmp_spark.operators.triangles import triangle_count_total
from louvain_communities_openmp_spark.oracle.graphs import karate
from louvain_communities_openmp_spark.sources.edges import edges_from_list


@pytest.fixture(scope="module", autouse=True)
def _collect_garbage(spark):
    """The distributed paths forced here leave unreachable local
    checkpoints behind. Let Spark's cleaner release them before the
    next module, whose tests may count persisted RDDs."""
    yield
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    n = -1
    for _ in range(20):
        time.sleep(0.5)
        m = spark.sparkContext._jsc.getPersistentRDDs().size()
        if m == n:
            break
        n = m


@pytest.fixture
def collects(monkeypatch):
    """Counts the edge collects (``serial.collect_columns``) that
    returned rows: a bounded one over its bound moves at most bound+1
    rows and returns None."""
    calls = []
    real = serial.collect_columns

    def counted(df, cols, bound=None):
        out = real(df, cols, bound)
        if out is not None:
            calls.append(cols)
        return out

    monkeypatch.setattr(serial, "collect_columns", counted)
    return calls


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _all_ops(e):
    """Louvain's Q, ``modularity`` of its membership, and the results
    of the other serial-finish operators."""
    res = louvain(e, LouvainOptions(mode="auto"))
    q = modularity(e, res.membership)
    res.membership.unpersist()
    return res.modularity, q, (
        _rows(pagerank_fixed(e, iters=4), ["id", "rank"]),
        _rows(connected_components(e).components, ["id", "comp"]),
        _rows(label_propagation(e, max_iter=4).labels, ["id", "label"]),
        triangle_count_total(e),
    )


def test_one_collect_serves_every_serial_finish(spark, collects):
    e = edges_from_list(spark, karate()).persist()
    res = louvain(e, LouvainOptions(mode="auto"))
    assert len(collects) == 1
    assert modularity(e, res.membership) == pytest.approx(res.modularity, abs=1e-12)
    pagerank_fixed(e, iters=4).count()
    assert connected_components(e).components.count() == 34
    assert label_propagation(e, max_iter=4).labels.count() == 34
    assert triangle_count_total(e) == 45
    assert len(collects) == 1
    # a second Louvain on the same frame hits too
    again = louvain(e, LouvainOptions(mode="auto")).membership
    assert _rows(again, ["id", "com"]) == _rows(res.membership, ["id", "com"])
    assert len(collects) == 1
    for df in (again, res.membership, e):
        df.unpersist()


def test_unpersisted_frame_collects_once_per_call(spark, collects):
    e = edges_from_list(spark, karate())
    louvain(e, LouvainOptions(mode="auto")).membership.unpersist()
    assert len(collects) == 1
    triangle_count_total(e)
    assert len(collects) == 2


def test_unpersisted_frame_plan_runs_once(spark):
    """A frame with no cache key decides and collects in one bounded
    job: its filter sees every row once, not once per count and once
    per collect."""
    seen = spark.sparkContext.accumulator(0)

    def passes(src):
        seen.add(1)
        return True

    e = edges_from_list(spark, karate()).where(F.udf(passes, "boolean")("src"))
    assert triangle_count_total(e) == 45
    assert seen.value == 156


def test_over_the_bound_nothing_is_collected(spark, collects, monkeypatch):
    e = edges_from_list(spark, karate()).persist()
    _, _, want = _all_ops(e)
    assert len(collects) == 1
    # 0, not 155: Louvain auto would finish its coarse passes serially
    monkeypatch.setattr(serial, "SERIAL_EDGES", 0)
    # a hit over the patched bound, then a miss decided by its count
    for frame in (e, edges_from_list(spark, karate())):
        q, q_mod, got = _all_ops(frame)
        assert got == want
        assert q_mod == pytest.approx(q, abs=1e-12)
    assert len(collects) == 1
    e.unpersist()


def test_patched_bound_after_a_hit_takes_the_distributed_path(spark, collects, monkeypatch):
    e = edges_from_list(spark, karate()).persist()
    assert triangle_count_total(e) == 45
    assert serial.held_graph(e) is not None
    ran = []
    real = components.vertices
    monkeypatch.setattr(components, "vertices", lambda df: ran.append(1) or real(df))
    monkeypatch.setattr(serial, "SERIAL_EDGES", 0)
    assert connected_components(e).components.count() == 34
    assert ran and len(collects) == 1
    e.unpersist()


def _write(path, edge_list):
    s, d, w = zip(*edge_list)
    pq.write_table(
        pa.table({"src": pa.array(s, pa.int64()), "dst": pa.array(d, pa.int64()),
                  "w": pa.array(w, pa.float64())}),
        os.path.join(path, "part-0.parquet"))


def _sym(pairs):
    return [(u, v, 1.0) for u, v in pairs] + [(v, u, 1.0) for u, v in pairs]


PATH = _sym([(0, 1), (1, 2), (2, 3)])
TRIANGLE = _sym([(0, 1), (1, 2), (2, 0), (2, 3)])


def test_repersisted_frame_over_rewritten_files_is_collected_again(spark, collects, tmp_path):
    _write(tmp_path, PATH)
    e = spark.read.parquet(str(tmp_path)).persist()
    assert triangle_count_total(e) == 0
    assert connected_components(e).components.count() == 4
    assert len(collects) == 1
    e.unpersist(blocking=True)
    _write(tmp_path, TRIANGLE)
    e.persist()
    assert triangle_count_total(e) == 1
    assert len(collects) == 2
    e.unpersist()


def test_unpersisted_and_derived_frames_are_collected_again(spark, collects):
    e = edges_from_list(spark, TRIANGLE)
    assert triangle_count_total(e) == 1
    assert triangle_count_total(e) == 1
    assert len(collects) == 2
    e = e.persist()
    assert triangle_count_total(e) == 1
    assert len(collects) == 3
    # the frame derived from the persisted one is a different graph
    no_02 = e.where(~((F.col("src") == 0) & (F.col("dst") == 2)))
    assert triangle_count_total(no_02) == 0
    assert len(collects) == 4
    assert triangle_count_total(e) == 1
    assert len(collects) == 4
    e.unpersist()


def test_entry_goes_with_the_last_reference(spark):
    e = edges_from_list(spark, karate()).persist()
    triangle_count_total(e)
    assert serial._held is not None
    e.unpersist()
    assert serial._held is not None
    del e
    gc.collect()
    assert serial._held is None


def test_held_columns_keep_the_graph_and_go_with_the_cache_entry(spark, collects, monkeypatch):
    """A serial Louvain finish's membership carries its (id, com)
    arrays: ``modularity`` reads them beside the held graph, which
    holding them does not evict. Once the membership is unpersisted
    nothing is held for it and it is collected again."""
    e = edges_from_list(spark, karate()).persist()
    res = louvain(e, LouvainOptions(mode="auto"))
    g = serial.held_graph(e)
    held = serial.held_columns(res.membership)
    assert g is not None and held is not None
    assert _rows(res.membership, ["id", "com"]) == sorted(zip(held["id"].tolist(), held["com"].tolist()))
    bounded = []
    real = serial.collect_bounded
    monkeypatch.setattr(
        serial, "collect_bounded", lambda df, cols, bound: bounded.append(cols) or real(df, cols, bound))
    assert modularity(e, res.membership) == pytest.approx(res.modularity, abs=1e-12)
    assert not bounded and serial.held_graph(e) is g
    # the held row count decides against the bound
    assert serial.vertex_columns(res.membership, ["com"], 33) is None
    res.membership.unpersist()
    assert serial.held_columns(res.membership) is None
    assert modularity(e, res.membership) == pytest.approx(res.modularity, abs=1e-12)
    assert bounded == [["id", "com"]] and len(collects) == 1
    e.unpersist()


def _spark_q(monkeypatch, edges, membership, **kw):
    """``modularity`` by its Spark plan: nothing resident for this call."""
    with monkeypatch.context() as mp:
        mp.setattr(serial, "held_graph", lambda df: None)
        return modularity(edges, membership, **kw)


@pytest.mark.parametrize("case", ["full", "partial", "partial_m", "resolution"])
def test_resident_modularity_matches_the_spark_plan(spark, collects, monkeypatch, case):
    e = edges_from_list(spark, karate()).persist()
    full = mem = louvain(e, LouvainOptions(mode="auto")).membership
    assert serial.held_graph(e) is not None
    kw = {}
    if case.startswith("partial"):
        mem = full.where(F.col("id") % 5 != 0)
        if case == "partial_m":
            kw["m"] = 78.0
    if case == "resolution":
        kw["resolution"] = 0.5
    got = modularity(e, mem, **kw)
    assert got == pytest.approx(_spark_q(monkeypatch, e, mem, **kw), abs=1e-12)
    assert len(collects) == 1
    full.unpersist()
    e.unpersist()


def test_repeated_membership_id_takes_the_spark_plan(spark, monkeypatch):
    e = edges_from_list(spark, karate()).persist()
    mem = louvain(e, LouvainOptions(mode="auto")).membership
    dup = mem.unionByName(mem.where(F.col("id") < 3).withColumn("com", F.col("com") + 1))
    calls = []
    real = properties.modularity_arrays
    monkeypatch.setattr(
        properties, "modularity_arrays", lambda *a, **k: calls.append(1) or real(*a, **k))
    q = modularity(e, dup)
    assert not calls
    assert q == pytest.approx(_spark_q(monkeypatch, e, dup), abs=1e-12)
    assert modularity(e, mem) == pytest.approx(_spark_q(monkeypatch, e, mem), abs=1e-12)
    assert calls
    mem.unpersist()
    e.unpersist()
