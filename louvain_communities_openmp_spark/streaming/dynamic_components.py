"""Continuously-updated connected components over the streaming edge
store — the third maintainer beside DynamicLouvain and DynamicPageRank.

Incremental rule (the reason components CAN be maintained, not just
recomputed): under edge INSERTIONS components only merge, so the
previous version's labels are a valid warm start — hash-min converges
to the true min-vertex-id labels in rounds proportional to the delta's
reach instead of the graph diameter. Under DELETIONS a component may
split, which label propagation cannot undo (labels only decrease), so
any version chain containing a deletion batch falls back to a cold
run. The edge store records ``n_dels`` per commit
(edge_stream.apply_delta_batch) to make that decision exact.

Snapshots are immutable per-version parquet directories with a commit
marker written last — same pinnable/resumable discipline as the other
maintainers.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from ..operators.components import ComponentsResult, connected_components
from .edge_stream import EdgeStateStore


class DynamicComponents:
    """Maintains per-version component labels for an edge store."""

    def __init__(self, store: EdgeStateStore, out_dir: str | None = None):
        self.store = store
        self.spark = store.spark
        self.dir = out_dir or os.path.join(store.dir, "components")
        os.makedirs(self.dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v:06d}")

    def latest_comp_version(self) -> int | None:
        vs = [
            int(d[1:])
            for d in os.listdir(self.dir)
            if d.startswith("v")
            and os.path.exists(
                os.path.join(self._vdir(int(d[1:])), "_COMMIT.json")
            )
        ]
        return max(vs) if vs else None

    def load_components(self, version: int | None = None) -> DataFrame | None:
        v = self.latest_comp_version() if version is None else version
        if v is None:
            return None
        return self.spark.read.parquet(
            os.path.join(self._vdir(v), "components")
        )

    def _chain_insert_only(self, lo: int, hi: int) -> bool:
        """True iff every commit in (lo, hi] is a recorded insert-only
        delta batch (n_dels == 0). Missing metadata → False (cold)."""
        for v in range(lo + 1, hi + 1):
            try:
                meta = self.store.commit_meta(v)
            except OSError:
                return False
            if meta.get("n_dels") is None or meta["n_dels"] > 0:
                return False
        return True

    def update_to_latest(self) -> tuple[int, ComponentsResult, str] | None:
        """Bring labels up to the edge store's newest version. Returns
        (version, result, mode) with mode 'warm' | 'cold', or None when
        already current / the store is empty."""
        v = self.store.latest_version()
        if v is None:
            return None
        cv = self.latest_comp_version()
        if cv is not None and cv >= v:
            return None
        warm = cv is not None and self._chain_insert_only(cv, v)
        init = self.load_components(cv) if warm else None
        mode = "warm" if init is not None else "cold"
        t0 = time.time()
        d = self._vdir(v)
        res = connected_components(self.store.resident(v), initial_components=init)
        res.components.write.mode("overwrite").parquet(os.path.join(d, "components"))
        with open(os.path.join(d, "_COMMIT.json"), "w") as f:
            json.dump(
                {
                    "version": v,
                    "warm_from": cv if mode == "warm" else None,
                    "mode": mode,
                    "iterations": res.iterations,
                    "seconds": round(time.time() - t0, 3),
                },
                f,
            )
        return v, res, mode
