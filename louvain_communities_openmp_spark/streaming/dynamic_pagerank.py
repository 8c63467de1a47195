"""Continuously-updated PageRank over the streaming edge store.

Companion maintainer to DynamicLouvain (dynamic_louvain.py): every
committed edge-snapshot version gets a rank snapshot computed
warm-started from the newest earlier rank vector. After a small delta
batch the previous fixpoint is near the new one, so the power
iteration converges in a handful of rounds instead of a cold start —
the PageRank analog of the reference's DYNAMIC Louvain seeding
(louvain.hxx:305-318). The fixpoint itself is start-independent, so
warm and cold runs agree to tolerance (pinned by pytest).

The rank snapshots are a version log (versions.py), like the edge
store, so any (edges, ranks) version pair is pinnable and the
maintainer is resumable mid-stream.
"""

from __future__ import annotations

from ..operators.pagerank import pagerank
from .edge_stream import EdgeStateStore
from .versions import Maintainer


class DynamicPageRank(Maintainer):
    """Maintains per-version PageRank snapshots for an edge store;
    ``update_to_latest()`` returns (version, PageRankResult)."""

    name = "pagerank"
    frame = "ranks"

    def __init__(
        self,
        store: EdgeStateStore,
        alpha: float = 0.85,
        tol: float = 1e-10,
        max_iter: int = 200,
        out_dir: str | None = None,
    ):
        super().__init__(store, out_dir)
        self.alpha = alpha
        self.tol = tol
        self.max_iter = max_iter

    def _solve(self, edges, v, last):
        res = pagerank(
            edges,
            alpha=self.alpha,
            tol=self.tol,
            max_iter=self.max_iter,
            initial_ranks=None if last is None else self.load(last),
        )
        return (res,), {"warm_from": last, "iterations": res.iterations, "err": res.err}
