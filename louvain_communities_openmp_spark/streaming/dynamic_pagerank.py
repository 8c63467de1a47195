"""Continuously-updated PageRank over the streaming edge store.

Companion maintainer to DynamicLouvain (dynamic_louvain.py): every
committed edge-snapshot version gets a rank snapshot computed
warm-started from the newest earlier rank vector. After a small delta
batch the previous fixpoint is near the new one, so the power
iteration converges in a handful of rounds instead of a cold start —
the PageRank analog of the reference's DYNAMIC Louvain seeding
(louvain.hxx:305-318). The fixpoint itself is start-independent, so
warm and cold runs agree to tolerance (pinned by pytest).

Snapshots are immutable per-version parquet directories with a commit
marker written last — the same torn-write discipline as the edge
store, so any (edges, ranks) version pair is pinnable and the
maintainer is resumable mid-stream.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from ..operators.pagerank import PageRankResult, pagerank
from .edge_stream import EdgeStateStore


class DynamicPageRank:
    """Maintains per-version PageRank snapshots for an edge store."""

    def __init__(
        self,
        store: EdgeStateStore,
        alpha: float = 0.85,
        tol: float = 1e-10,
        max_iter: int = 200,
        out_dir: str | None = None,
    ):
        self.store = store
        self.spark = store.spark
        self.alpha = alpha
        self.tol = tol
        self.max_iter = max_iter
        self.dir = out_dir or os.path.join(store.dir, "pagerank")
        os.makedirs(self.dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v:06d}")

    def latest_rank_version(self) -> int | None:
        vs = [
            int(d[1:])
            for d in os.listdir(self.dir)
            if d.startswith("v")
            and os.path.exists(
                os.path.join(self._vdir(int(d[1:])), "_COMMIT.json")
            )
        ]
        return max(vs) if vs else None

    def load_ranks(self, version: int | None = None) -> DataFrame | None:
        v = self.latest_rank_version() if version is None else version
        if v is None:
            return None
        return self.spark.read.parquet(os.path.join(self._vdir(v), "ranks"))

    def update_to_latest(self) -> tuple[int, PageRankResult] | None:
        """Bring ranks up to the edge store's newest version.

        Warm-starts from the newest rank snapshot older than the target
        version (cold start if none). Returns (version, result), or
        None when already current / the store is empty.
        """
        v = self.store.latest_version()
        if v is None:
            return None
        rv = self.latest_rank_version()
        if rv is not None and rv >= v:
            return None
        init = self.load_ranks(rv) if rv is not None else None
        t0 = time.time()
        d = self._vdir(v)
        res = pagerank(
            self.store.resident(v),
            alpha=self.alpha,
            tol=self.tol,
            max_iter=self.max_iter,
            initial_ranks=init,
        )
        res.ranks.write.mode("overwrite").parquet(os.path.join(d, "ranks"))
        with open(os.path.join(d, "_COMMIT.json"), "w") as f:
            json.dump(
                {
                    "version": v,
                    "warm_from": rv,
                    "iterations": res.iterations,
                    "err": res.err,
                    "seconds": round(time.time() - t0, 3),
                },
                f,
            )
        return v, res
