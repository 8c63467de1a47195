"""Continuously-updated Louvain over the streaming edge store.

The reference's DYNAMIC mode (louvain.hxx:1009 `DYNAMIC` flag,
louvainInitializeFromW louvain.hxx:305-318, louvainUpdateWeightsFromU
louvain.hxx:330-389) re-runs Louvain after a batch update, seeding
membership from the previous run so convergence takes a handful of
iterations instead of a cold start. Here that becomes a maintainer
bound to the ``EdgeStateStore``: every committed edge-snapshot version
gets a membership snapshot computed warm-started from the newest
earlier membership.

Snapshots are immutable per-version parquet directories with a commit
marker — the same discipline as the edge store, so any (edges,
membership) version pair is pinnable and the maintainer is resumable.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

from pyspark.sql import DataFrame

from ..operators.louvain import LouvainOptions, LouvainResult, louvain
from .edge_stream import EdgeStateStore

MEMBERSHIP_SCHEMA = "id long, com long"


class DynamicLouvain:
    """Maintains per-version community membership for an edge store."""

    def __init__(
        self,
        store: EdgeStateStore,
        opts: LouvainOptions | None = None,
        out_dir: str | None = None,
    ):
        self.store = store
        self.spark = store.spark
        self.opts = opts or LouvainOptions(mode="auto")
        self.dir = out_dir or os.path.join(store.dir, "membership")
        os.makedirs(self.dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v:06d}")

    def latest_membership_version(self) -> int | None:
        vs = [
            int(d[1:])
            for d in os.listdir(self.dir)
            if d.startswith("v")
            and os.path.exists(os.path.join(self._vdir(int(d[1:])), "_COMMIT.json"))
        ]
        return max(vs) if vs else None

    def load_membership(self, version: int | None = None) -> DataFrame | None:
        v = self.latest_membership_version() if version is None else version
        if v is None:
            return None
        return self.spark.read.parquet(os.path.join(self._vdir(v), "membership"))

    def update_to_latest(self) -> tuple[int, LouvainResult] | None:
        """Bring membership up to the edge store's newest version.

        Warm-starts from the newest membership snapshot older than the
        target version (cold start if none). Returns (version, result),
        or None when already current / the store is empty.
        """
        v = self.store.latest_version()
        if v is None:
            return None
        mv = self.latest_membership_version()
        if mv is not None and mv >= v:
            return None
        init = self.load_membership(mv) if mv is not None else None
        aff = None
        if init is not None:
            # frontier-seeded DYNAMIC marking: union the changed-edge
            # endpoints of every store version since the warm snapshot
            # (louvain.hxx:305-389 + DYNAMIC louvain.hxx:1009). Any
            # version without a committed affected set forces a flood
            # (pre-tracking snapshots) — correctness over savings.
            parts = [self.store.load_affected(i) for i in range(mv + 1, v + 1)]
            if all(x is not None for x in parts) and parts:
                aff = parts[0]
                for x in parts[1:]:
                    aff = aff.unionByName(x)
                aff = aff.distinct()
        opts = replace(
            self.opts, initial_membership=init, affected_vertices=aff
        )
        t0 = time.time()
        d = self._vdir(v)
        res = louvain(self.store.resident(v), opts)
        res.membership.write.mode("overwrite").parquet(os.path.join(d, "membership"))
        with open(os.path.join(d, "_COMMIT.json"), "w") as f:
            json.dump(
                {
                    "version": v,
                    "warm_from": mv,
                    "modularity": res.modularity,
                    "iterations": res.iterations,
                    "passes": res.passes,
                    # vertex scans actually performed — the DYNAMIC
                    # work metric frontier seeding is judged by
                    "processed": sum(
                        e.get("processed") or 0 for e in res.pass_log
                    ),
                    "frontier_seeded": aff is not None,
                    "seconds": round(time.time() - t0, 3),
                },
                f,
            )
        return v, res
