"""Streaming crawl-index ingestion: maintain the freshest snapshot per
url ACROSS micro-batches.

A Common-Crawl-style index streams (url, capture, warc_ts) rows as
fetches happen; downstream consumers (edge building, dedup, profiling)
want exactly one row per url — the latest. Like EdgeStateStore
(edge_stream.py), the store is a version log (versions.py): versioned
parquet snapshots whose commit record is written last, so any version
is pinnable and a killed run never exposes a torn table.

Merge rule per micro-batch: latest_snapshot(previous ∪ batch)
(sources/pages.py) — an argmax-by-warc_ts fold, which is
- **order-insensitive**: a stale capture arriving late can never
  regress a url (max is commutative/associative), and
- **replay-idempotent**: re-merging the same rows is a no-op; on top
  of that, a replayed foreachBatch id (at-least-once delivery) is
  detected via the committed batch_id and skipped entirely, making the
  commit exactly-once.

Scale note: the versioned-snapshot merge rewrites the url table per
batch — correct at any scale but write-amplified; the production
layout for 10^12 urls is the same argmax expressed as a bucketed
MERGE (upsert) into a table bucketed by url, which co-locates the
merge join without a shuffle. The semantics verified here are
layout-independent.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..sources.pages import latest_snapshot
from .versions import VersionLog

CAPTURE_SCHEMA = "url string, capture int, warc_ts timestamp"


class SnapshotStore(VersionLog):
    """A version log of freshest-per-url snapshots under a state
    directory."""

    def __init__(self, spark: SparkSession, state_dir: str):
        super().__init__(state_dir)
        self.spark = spark

    def load(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v is None:
            return self.spark.createDataFrame([], CAPTURE_SCHEMA)
        return self.spark.read.parquet(self.committed(v, "snapshot"))

    def commit(self, snapshot: DataFrame, batch_id: int, stats: dict) -> int:
        v = self.begin()
        snapshot.write.mode("overwrite").parquet(self.path(v, "snapshot"))
        self.seal(v, {"batch_id": batch_id, "ts": time.time(), **stats})
        return v


def apply_capture_batch(
    store: SnapshotStore, batch: DataFrame, batch_id: int
) -> int:
    """One micro-batch: argmax-merge into the url snapshot table.
    Returns the committed version, or -1 for a skipped replay."""
    last = store.latest_version()
    if last is not None and store.commit_meta(last).get("batch_id") == batch_id:
        return -1  # at-least-once replay of an already-committed batch
    merged = latest_snapshot(store.load().unionByName(batch))
    n_batch = batch.count()
    n_urls = merged.count()
    return store.commit(
        merged, batch_id, {"n_batch_rows": n_batch, "n_urls": n_urls}
    )


def start_capture_stream(
    spark: SparkSession,
    captures_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
):
    """Watch `captures_dir` for capture parquet files and maintain the
    freshest-per-url snapshot store. Returns the StreamingQuery; with
    available_now=True the backlog drains in file order and stops."""
    store = SnapshotStore(spark, state_dir)
    reader = spark.readStream.schema(CAPTURE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(captures_dir)
    writer = stream.writeStream.foreachBatch(
        lambda batch, bid: apply_capture_batch(store, batch, bid) and None
    ).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(state_dir, "_checkpoints"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
