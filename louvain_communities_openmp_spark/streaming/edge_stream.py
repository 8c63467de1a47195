"""Micro-batch edge-delta ingestion via Structured Streaming.

The reference's closest streaming analog is its dynamic-batch
machinery: generate/tidy/apply edge deletions+insertions between runs
(batch.hxx:100-248) and warm-start Louvain from the previous membership
(louvain.hxx:305-389, DYNAMIC flag louvain.hxx:1009). Here that becomes
a Structured Streaming flow:

    readStream(delta files: op ∈ {ins, del}, src, dst, w)
      → foreachBatch: apply_delta_batch() onto the maintained edge snapshot
      → versioned parquet snapshots + metrics (per-batch lineage)

apply_delta_batch is one pass that, like the reference's tidy + apply
(batch.hxx:154-248), does batch-sized work once and touches the
snapshot only where it must:

1. tidy the batch once — symmetric distinct deletions, symmetric
   insertions with the max weight per pair — and cache both;
2. find the insertions that already exist with one left-semi join of
   the pre-delete snapshot against the cached insertion pairs (the
   batch is the build side), and drop them from the cached insertions;
   the rest stay batch-sized and are cached too;
3. build the new snapshot with apply_batch() over the cached frames and
   write it once (that write fills the cache of step 2's insertions);
4. read the commit record's edge count back from the written snapshot;
   n_dels and the affected endpoints come from the cached batch frames;
   _COMMIT.json is written last, since it is the commit marker.

Every cached frame is released before it returns, also on error.

Each micro-batch commits a new immutable snapshot directory (never
in-place mutation), so downstream algorithms can pin a version — the
same commit discipline as plans/run.RunDir.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.transforms import apply_batch

DELTA_SCHEMA = "op string, src long, dst long, w double"


class EdgeStateStore:
    """Versioned edge-table snapshots under a state directory."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v:06d}")

    def latest_version(self) -> int | None:
        vs = [
            int(d[1:])
            for d in os.listdir(self.dir)
            if d.startswith("v") and os.path.exists(os.path.join(self.dir, d, "_COMMIT.json"))
        ]
        return max(vs) if vs else None

    def load(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v is None:
            return self.spark.createDataFrame([], "src long, dst long, w double")
        return self.spark.read.parquet(os.path.join(self._vdir(v), "edges"))

    def commit_meta(self, version: int) -> dict:
        """The _COMMIT.json record of a committed version."""
        with open(os.path.join(self._vdir(version), "_COMMIT.json")) as f:
            return json.load(f)

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
        readers until _mark() writes its commit marker."""
        lv = self.latest_version()
        v = 0 if lv is None else lv + 1
        d = self._vdir(v)
        edges.write.mode("overwrite").parquet(os.path.join(d, "edges"))
        if affected is not None:
            # endpoints of this batch's changed edges — the DYNAMIC
            # frontier seed (louvain.hxx:305-389): incremental
            # maintainers mark only these at warm start
            affected.select("id").write.mode("overwrite").parquet(
                os.path.join(d, "affected")
            )
        return v

    def _mark(self, v: int, batch_id: int, stats: dict) -> None:
        """Write _COMMIT.json, the file that commits version ``v``."""
        with open(os.path.join(self._vdir(v), "_COMMIT.json"), "w") as f:
            json.dump({"version": v, "batch_id": batch_id, "ts": time.time(), **stats}, f)

    def load_affected(self, version: int) -> DataFrame | None:
        """Changed-edge endpoints committed with ``version`` (one
        column ``id``), or None for pre-affected-tracking snapshots."""
        p = os.path.join(self._vdir(version), "affected")
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)


def _held(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Persist ``df`` and add it to ``held`` for the caller to release."""
    df = df.persist()
    held.append(df)
    return df


def apply_delta_batch(store: EdgeStateStore, batch: DataFrame, batch_id: int) -> int:
    """One micro-batch in one pass (see the module docstring): tidy the
    batch once (dels must exist / ins must not — batch.hxx:154-209),
    apply it with apply_batch() and commit a new snapshot. Deletes
    apply before inserts; an insert of a pair the pre-delete snapshot
    holds is a no-op. Returns the committed version."""
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
        store._mark(v, batch_id, {"edges": store.load(v).count(), "n_dels": n_dels})
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
