"""Micro-batch edge-delta ingestion via Structured Streaming.

The reference's closest streaming analog is its dynamic-batch
machinery: generate/tidy/apply edge deletions+insertions between runs
(batch.hxx:100-248) and warm-start Louvain from the previous membership
(louvain.hxx:305-389, DYNAMIC flag louvain.hxx:1009). Here that becomes
a Structured Streaming flow:

    readStream(delta files: op ∈ {ins, del}, src, dst, w)
      → foreachBatch: apply_delta_batch() onto the maintained edge snapshot
      → versioned parquet snapshots + metrics (per-batch lineage)

apply_delta_batch tidies and applies a batch like the reference
(batch.hxx:154-248), with the same rules on both of its paths:
symmetric distinct deletions; symmetric insertions with the max weight
per pair; deletions before insertions, and an insertion of a pair the
pre-delete snapshot holds dropped; duplicate snapshot rows summed.

Resident path. The store keeps its latest version resident: its
persisted frame (``EdgeStateStore.resident``) and, once a serial
finish collected it or an apply built it, its ``EdgeCSR`` in the
serial memo (operators/serial.py). When the parent version's graph is
held, the whole version is done on the driver, as the reference applies
a batch to its graph in place (batch.hxx:223-248):

1. collect the batch in one bounded job and tidy it in numpy;
2. merge it into the held rows in O(E + B): ``searchsorted`` of the
   batch pairs on the sorted ``src*N+dst`` keys, a delete mask and
   ``np.insert``;
3. write the snapshot and the affected endpoints with pyarrow, the
   snapshot in row chunks, then the commit record;
4. hold the merged graph for the new version's resident frame, so a
   refresh and ``load(v)`` read it without a collect, and keep the
   affected ids next to it (``affected_ids``), so the refresh's
   frontier needs no collect either.

With the refresh's warm start read from the maintainer's arrays
(versions.py), a warm refresh over a held version and the
``modularity`` of its result run without a collect: the resident warm
refresh.

Spark path. With nothing held, with parent rows plus batch rows over
``serial.SERIAL_EDGES``, with a graph that has no weights, or with a
null in a batch field the tidy reads, one Spark pass does the version
and touches the snapshot only where it must:

1. tidy the batch once and cache both halves;
2. find the insertions that already exist with one left-semi join of
   the pre-delete snapshot against the cached insertion pairs (the
   batch is the build side), and drop them from the cached insertions;
   the rest stay batch-sized and are cached too;
3. build the new snapshot with apply_batch() over the cached frames and
   write it once (that write fills the cache of step 2's insertions);
4. read the commit record's edge count back from the written snapshot;
   n_dels and the affected endpoints come from the cached batch frames.

Every cached frame is released before it returns, also on error.

The store is a version log (versions.py): each micro-batch commits a
new immutable snapshot directory (never in-place mutation), so
downstream algorithms can pin a version. On both paths the commit
record is written last and records ``edges`` and ``n_dels``, and the
new version releases the parent's resident frame.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import serial
from ..operators.serial import EdgeCSR
from ..operators.transforms import apply_batch
from .versions import VersionLog

DELTA_SCHEMA = "op string, src long, dst long, w double"

_EDGES = pa.schema([("src", pa.int64()), ("dst", pa.int64()), ("w", pa.float64())])
_AFFECTED = pa.schema([("id", pa.int64())])
# rows per snapshot row group the resident path writes: bounds the
# driver's id arrays per write, and lets Spark split a snapshot read
# into several tasks
_CHUNK = 1 << 17


class EdgeStateStore(VersionLog):
    """A version log of edge-table snapshots under a state directory,
    with the latest version resident (see the module docstring)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        super().__init__(state_dir)
        self.spark = spark
        # (version, its persisted frame), or None
        self._resident: tuple[int, DataFrame] | None = None
        # (the resident version, its affected ids) when the resident
        # path wrote that version, or None
        self._affected: tuple[int, np.ndarray] | None = None

    def load(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v is None:
            return self.spark.createDataFrame([], "src long, dst long, w double")
        read = self.spark.read
        r = self._resident
        if r is not None and r[0] == v:
            # the resident frame's schema: no inference job, and the
            # same plan, so the same cache entry
            read = read.schema(r[1].schema)
        return read.parquet(self.committed(v, "edges"))

    def resident(self, version: int | None = None) -> DataFrame:
        """The persisted frame of ``version`` (default: the latest). The
        store keeps one: it is released when another version is asked
        for or committed, and by ``close()``. Callers must not unpersist
        it: ``load(version)`` has the same plan, so both read one cache
        entry and one resident graph (operators/serial.py)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return self.load()
        if self._resident is None or self._resident[0] != v:
            self._release()
            self._resident = (v, self.load(v).persist())
        return self._resident[1]

    def _release(self) -> None:
        if self._resident is not None:
            self._resident[1].unpersist()
            self._resident = None
        self._affected = None

    def close(self) -> None:
        """Release the resident version."""
        self._release()

    def _held_parent(self) -> EdgeCSR | None:
        """The held graph of the latest version when that version is
        resident; never persists or collects."""
        r = self._resident
        if r is None or r[0] != self.latest_version():
            return None
        return serial.held_graph(r[1])

    def commit(
        self,
        edges: DataFrame,
        batch_id: int,
        stats: dict,
        affected: DataFrame | None = None,
    ) -> int:
        v = self._write(edges, affected)
        self._mark(v, batch_id, stats)
        return v

    def _write(self, edges: DataFrame, affected: DataFrame | None = None) -> int:
        """Write the next version's data files; it stays invisible to
        readers until _mark() commits it."""
        v = self.begin()
        edges.write.mode("overwrite").parquet(self.path(v, "edges"))
        if affected is not None:
            # endpoints of this batch's changed edges — the DYNAMIC
            # frontier seed (louvain.hxx:305-389): incremental
            # maintainers mark only these at warm start
            affected.select("id").write.mode("overwrite").parquet(self.path(v, "affected"))
        return v

    def _write_graph(self, g: EdgeCSR, affected: np.ndarray) -> int:
        """``_write`` of a driver-resident graph and its affected ids."""
        v = self.begin()
        paths = [self.path(v, x) for x in ("edges", "affected")]
        for path in paths:
            os.makedirs(path)
        with pq.ParquetWriter(os.path.join(paths[0], "part-00000.parquet"), _EDGES) as out:
            for i in range(0, len(g.src), _CHUNK):
                rows = slice(i, i + _CHUNK)
                out.write_table(pa.Table.from_arrays(
                    [g.ids[g.src[rows]], g.ids[g.dst[rows]], g.w[rows]], schema=_EDGES))
        pq.write_table(
            pa.Table.from_arrays([affected], schema=_AFFECTED),
            os.path.join(paths[1], "part-00000.parquet"),
        )
        return v

    def _mark(self, v: int, batch_id: int, stats: dict) -> None:
        """Commit version ``v``; the resident version is superseded."""
        self.seal(v, {"batch_id": batch_id, "ts": time.time(), **stats})
        self._release()

    def load_affected(self, version: int) -> DataFrame | None:
        """Changed-edge endpoints committed with ``version`` (one
        column ``id``), or None for pre-affected-tracking snapshots."""
        p = self.committed(version, "affected")
        if not os.path.exists(p):
            return None
        read = self.spark.read
        if self.affected_ids(version) is not None:
            read = read.schema("id long")
        return read.parquet(p)

    def affected_ids(self, version: int) -> np.ndarray | None:
        """The ids ``load_affected(version)`` reads, when ``version`` is
        resident and the resident path wrote it; else None."""
        a = self._affected
        return a[1] if a is not None and a[0] == version else None


def _held(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Persist ``df`` and add it to ``held`` for the caller to release."""
    df = df.persist()
    held.append(df)
    return df


def apply_delta_batch(store: EdgeStateStore, batch: DataFrame, batch_id: int) -> int:
    """One micro-batch (see the module docstring): tidy the batch (dels
    must exist / ins must not — batch.hxx:154-209), apply it and commit
    a new snapshot, on the driver when the parent version's graph is
    held, else in one Spark pass. Deletes apply before inserts; an
    insert of a pair the pre-delete snapshot holds is a no-op. Returns
    the committed version."""
    g = store._held_parent()
    if g is not None and g.w is not None:
        v = _apply_resident(store, g, batch, batch_id)
        if v is not None:
            return v
    return _apply_spark(store, batch, batch_id)


def _batch_arrays(batch: DataFrame, bound: int) -> list | None:
    """(is_del, src, dst, w) of the ins/del rows of ``batch`` in one
    bounded job, or None when there are more than ``bound`` of them or
    one has a null the tidy reads (a deletion's w is not read)."""
    if bound < 0:
        return None
    op = F.col("op")
    rows = batch.where(op.isin("ins", "del")).select(
        (op == "del").alias("del"), "src", "dst",
        F.when(op == "ins", F.col("w")).otherwise(0.0).alias("w"),
    )
    tbl = rows.limit(min(bound, 2**31 - 2) + 1).toArrow()
    if tbl.num_rows > bound or any(c.null_count for c in tbl.columns):
        return None
    return [c.to_numpy() for c in tbl.columns]


def _tidy(s: np.ndarray, d: np.ndarray, w: np.ndarray):
    """The pairs of the rows (s, d, w) and of their reverses, each once
    and in (s, d) order, with the max w of each pair."""
    s, d, w = np.concatenate([s, d]), np.concatenate([d, s]), np.concatenate([w, w])
    order = np.lexsort((w, d, s))
    s, d, w = s[order], d[order], w[order]
    last = np.ones(len(s), dtype=bool)
    last[:-1] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return s[last], d[last], w[last]


def _apply_resident(store: EdgeStateStore, g: EdgeCSR, batch: DataFrame, batch_id: int) -> int | None:
    """The resident path over the parent's held graph ``g``, or None
    (nothing written) when the batch must take the Spark path."""
    arrs = _batch_arrays(batch, serial.SERIAL_EDGES - len(g.src))
    if arrs is None:
        return None
    is_del, bs, bd, bw = arrs
    ds, dd, _ = _tidy(bs[is_del], bd[is_del], bw[is_del])
    is_, id_, iw = _tidy(bs[~is_del], bd[~is_del], bw[~is_del])
    # the vertex positions of the parent and the inserted endpoints: ids
    # ascend, so the parent's (src, dst) row order is key order
    ids = np.union1d(g.ids, is_)
    n = len(ids)
    if n == len(g.ids):
        src, dst = g.src, g.dst
    else:
        pos = np.searchsorted(ids, g.ids)
        src, dst = pos[g.src], pos[g.dst]
    keys = src * n + dst

    def key(s, d):
        """Keys of the pairs; -1, which no row has, where an endpoint
        is no vertex."""
        if not n:
            return np.full(len(s), -1, dtype=np.int64)
        ps = np.minimum(np.searchsorted(ids, s), n - 1)
        pd = np.minimum(np.searchsorted(ids, d), n - 1)
        return np.where((ids[ps] == s) & (ids[pd] == d), ps * n + pd, -1)

    # insertions of pairs the pre-delete snapshot holds are dropped
    ki = key(is_, id_)
    fresh = np.searchsorted(keys, ki, "left") == np.searchsorted(keys, ki, "right")
    is_, iw, ki = is_[fresh], iw[fresh], ki[fresh]
    # deletions take every row of each deleted pair
    kd = key(ds, dd)
    lo = np.searchsorted(keys, kd, "left")
    cnt = np.searchsorted(keys, kd, "right") - lo
    gone = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    w = g.w
    if len(gone):
        keep = np.ones(len(keys), dtype=bool)
        keep[gone] = False
        src, dst, w, keys = src[keep], dst[keep], w[keep], keys[keep]
    # duplicate rows are summed, as apply_batch's groupBy().sum
    if len(keys) > 1:
        first = np.ones(len(keys), dtype=bool)
        first[1:] = keys[1:] != keys[:-1]
        if not first.all():
            at = np.flatnonzero(first)
            src, dst, w, keys = src[at], dst[at], np.add.reduceat(w, at), keys[at]
    at = np.searchsorted(keys, ki)
    del keys
    ps, pd = np.divmod(ki, n)
    src, dst, w = np.insert(src, at, ps), np.insert(dst, at, pd), np.insert(w, at, iw)
    # a vertex that lost every edge is no vertex of the new graph
    present = np.zeros(n, dtype=bool)
    present[src] = True
    present[dst] = True
    if not present.all():
        pos = np.cumsum(present) - 1
        src, dst, ids = pos[src], pos[dst], ids[present]
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=len(ids)), out=indptr[1:])
    new = EdgeCSR(ids, src, dst, w, indptr)
    # the tidy deletions are symmetric: their srcs are every endpoint
    affected = np.union1d(ds, is_)
    v = store._write_graph(new, affected)
    store._mark(v, batch_id, {"edges": len(src), "n_dels": len(ds)})
    serial.hold(store.resident(v), new)
    store._affected = (v, affected)
    return v


def _apply_spark(store: EdgeStateStore, batch: DataFrame, batch_id: int) -> int:
    """The Spark path (see the module docstring)."""
    edges = store.load()
    dels = batch.where(F.col("op") == "del").select("src", "dst")
    ins = batch.where(F.col("op") == "ins").select("src", "dst", "w")
    held: list[DataFrame] = []
    try:
        # symmetric maintenance: apply both directions of every delta
        dels = _held(
            dels.unionByName(
                dels.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct(),
            held,
        )
        n_dels = dels.count()
        ins = _held(
            ins.unionByName(
                ins.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
            )
            .groupBy("src", "dst")
            .agg(F.max("w").alias("w")),
            held,
        )
        # materialized, so its measured size makes the probe below
        # broadcast it
        ins.count()
        # insertions must not already exist (batch.hxx:192-209): probe
        # the snapshot with the batch-sized pairs, drop the pairs found.
        # The snapshot write fills this cache; the affected write reuses it.
        found = edges.select("src", "dst").join(
            ins.select("src", "dst"), ["src", "dst"], "left_semi"
        )
        ins = _held(ins.join(found, ["src", "dst"], "left_anti"), held)
        # endpoints of changed edges — the DYNAMIC frontier seed for
        # incremental maintainers (batch-sized, not graph-sized)
        affected = (
            dels.select(F.col("src").alias("id"))
            .unionByName(dels.select(F.col("dst").alias("id")))
            .unionByName(ins.select(F.col("src").alias("id")))
            .unionByName(ins.select(F.col("dst").alias("id")))
            .distinct()
        )
        v = store._write(apply_batch(edges, dels, ins), affected)
        # n_dels in the commit record lets incremental maintainers
        # (DynamicComponents) pick the warm path for insert-only batches —
        # component labels are monotone under insertion but not deletion
        # v is not committed yet: count the written snapshot directly
        n_edges = store.spark.read.parquet(store.path(v, "edges")).count()
        store._mark(v, batch_id, {"edges": n_edges, "n_dels": n_dels})
        return v
    finally:
        for df in held:
            df.unpersist()


def start_edge_delta_stream(
    spark: SparkSession,
    delta_dir: str,
    state_dir: str,
    available_now: bool = True,
):
    """Stream delta files (parquet, DELTA_SCHEMA) into the state store.
    Returns the StreamingQuery; with available_now=True it drains the
    backlog and stops (deterministic for tests/benchmarks)."""
    store = EdgeStateStore(spark, state_dir)
    stream = (
        spark.readStream.schema(DELTA_SCHEMA).parquet(delta_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: apply_delta_batch(store, batch, bid) and None
        )
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoints"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_edge_rates(deltas: DataFrame, window: str = "10 seconds", watermark: str = "30 seconds") -> DataFrame:
    """Streaming windowed aggregation demo over timestamped deltas
    (ts timestamp, op, src, dst, w): edges/sec per op with late-data
    watermarking. Works on both batch and streaming frames."""
    return (
        deltas.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "op")
        .agg(F.count("*").alias("n"), F.sum("w").alias("wsum"))
        .select("win.start", "win.end", "op", "n", "wsum")
    )
