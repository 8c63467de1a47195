"""Continuously-updated Louvain over the streaming edge store.

The reference's DYNAMIC mode (louvain.hxx:1009 `DYNAMIC` flag,
louvainInitializeFromW louvain.hxx:305-318, louvainUpdateWeightsFromU
louvain.hxx:330-389) re-runs Louvain after a batch update, seeding
membership from the previous run so convergence takes a handful of
iterations instead of a cold start. Here that becomes a maintainer
bound to the ``EdgeStateStore``: every committed edge-snapshot version
gets a membership snapshot computed warm-started from the newest
earlier membership.

The memberships are a version log (versions.py), like the edge store,
so any (edges, membership) version pair is pinnable and the maintainer
is resumable. Within one process the refresh is resident: it warm
starts from the membership arrays it kept and the store's affected ids,
as the reference keeps ``vcom``/``vaff`` in memory between batches
(versions.py, edge_stream.py).
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce

from pyspark.sql import DataFrame

from ..operators.louvain import LouvainOptions, louvain
from .edge_stream import EdgeStateStore
from .versions import Maintainer


class DynamicLouvain(Maintainer):
    """Maintains per-version community membership for an edge store;
    ``update_to_latest()`` returns (version, LouvainResult)."""

    name = frame = "membership"

    def __init__(
        self,
        store: EdgeStateStore,
        opts: LouvainOptions | None = None,
        out_dir: str | None = None,
    ):
        super().__init__(store, out_dir)
        self.opts = opts or LouvainOptions(mode="auto")

    def _solve(self, edges, v, last):
        init = aff = None
        if last is not None:
            init = self.carried(self.load(last), self.held(last))
            # frontier-seeded DYNAMIC marking: the changed-edge
            # endpoints of every store version since the warm snapshot
            # (louvain.hxx:305-389 + DYNAMIC louvain.hxx:1009); repeats
            # do no harm. Any version without a committed affected set
            # forces a flood (pre-tracking snapshots) — correctness
            # over savings.
            parts = [self.store.load_affected(i) for i in range(last + 1, v + 1)]
            if all(x is not None for x in parts):
                ids = self.store.affected_ids(v) if len(parts) == 1 else None
                aff = self.carried(
                    reduce(DataFrame.unionByName, parts), None if ids is None else {"id": ids}
                )
        res = louvain(edges, replace(self.opts, initial_membership=init, affected_vertices=aff))
        return (res,), {
            "warm_from": last,
            "modularity": res.modularity,
            "iterations": res.iterations,
            "passes": res.passes,
            # vertex scans actually performed — the DYNAMIC work metric
            # frontier seeding is judged by
            "processed": sum(e.get("processed") or 0 for e in res.pass_log),
            "frontier_seeded": aff is not None,
        }
