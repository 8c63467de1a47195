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

The label snapshots are a version log (versions.py), pinnable and
resumable like the other maintainers.
"""

from __future__ import annotations

from ..operators.components import connected_components
from .versions import Maintainer


class DynamicComponents(Maintainer):
    """Maintains per-version component labels for an edge store;
    ``update_to_latest()`` returns (version, ComponentsResult, mode)
    with mode 'warm' | 'cold'."""

    name = frame = "components"

    def _insert_only(self, v: int) -> bool:
        """True iff store version ``v`` is a recorded insert-only delta
        batch (n_dels == 0). Missing metadata → False (cold)."""
        try:
            return self.store.commit_meta(v).get("n_dels") == 0
        except OSError:
            return False

    def _solve(self, edges, v, last):
        warm = last is not None and all(self._insert_only(i) for i in range(last + 1, v + 1))
        res = connected_components(edges, initial_components=self.load(last) if warm else None)
        mode = "warm" if warm else "cold"
        return (res, mode), {
            "warm_from": last if warm else None,
            "mode": mode,
            "iterations": res.iterations,
        }
