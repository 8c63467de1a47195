"""The serial-finish seam: one bounded driver collect and one CSR prologue.

Under an operator's edge bound the whole computation is cheaper on the
driver than one distributed round — the reference's representation
swap to a CSR rebuilt per pass (louvain.hxx:1174-1176). A serial finish
collects through ``collect_bounded`` (a LIMIT probe that IS the collect
under the bound and short-circuits over it) or, where an edge count
decides the path, through ``collect_columns`` after the count; it maps
ids through ``edge_csr``: ``id - lo`` when the ids are contiguous, as the
engine's tables are, else a sorted-unique map; the (src, dst) order
comes from an O(E + V) counting sort (oracle/_cmove.py ``csr_order``).

The two size bounds below are read at call time (``serial.SERIAL_EDGES``),
so a test forces a path by patching one name.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

# Directed edges up to which Louvain auto, pagerank_fixed, components
# and labelprop finish on the driver (~50 MB of arrays; triangles take
# half, in canonical src < dst pairs). Picked by measurement for the
# Louvain tail (scripts/sweep_small_graph.py, sf0.1 = 2.7M directed
# edges, interleaved min-of-2, SWEEP_SMALL_GRAPH.json): 4M (all-serial
# at that size) → 17.3 s total; 2M → 24.4 s; 1M/500k/200k → 33-36 s.
# The serial kernel runs ~1 µs/edge, so a 4M-edge remainder costs ~4 s
# on the driver while distributed rounds on it cost ~1-2 s per
# iteration × tens of iterations. Pass 0 of an at-scale graph stays
# distributed; only the contracted tail collapses inward, the analog of
# the reference's representation swap (louvain.hxx:1174-1176).
SERIAL_EDGES = 4_000_000

# Vertices up to which the iterative operators (components, labelprop,
# the PageRank family, HITS, SALSA, Katz, absorb, eigenvector, MIS, SCC
# and bow-tie) broadcast their vertex-sized state into the per-round
# edge join (~20 B/row ⇒ ≲100 MB); above it they partition the edges on
# the join key. The default of LouvainOptions.broadcast_vertices.
BROADCAST_VERTICES = 5_000_000


def _numpy_columns(tbl, cols: list[str]) -> list:
    arrs = [tbl.column(c).to_numpy() for c in cols]
    return [a.astype(np.float64 if a.dtype.kind == "f" else np.int64, copy=False) for a in arrs]


def collect_columns(df: DataFrame, cols: list[str]) -> list:
    """The columns ``cols`` of ``df`` as numpy arrays (int64, or float64
    for floating columns). Arrow-direct: no pandas block consolidation.
    Only for a frame already known to be under a bound."""
    return _numpy_columns(df.select(*cols).toArrow(), cols)


def collect_bounded(df: DataFrame, cols: list[str], bound: int) -> list | None:
    """``collect_columns`` of ``df``, or None when ``df`` has more than
    ``bound`` rows."""
    # LIMIT takes a Java int
    bound = min(bound, 2**31 - 2)
    tbl = df.select(*cols).limit(bound + 1).toArrow()
    if tbl.num_rows > bound:
        return None
    return _numpy_columns(tbl, cols)


@dataclass
class EdgeCSR:
    """Edge rows over dense vertex positions 0..n-1, where ``ids[p]`` is
    the id at position p (ascending, so position order is id order).
    When sorted, rows are in (src, dst, w) order and ``indptr`` holds
    the row offsets of each src position."""

    ids: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    w: np.ndarray | None
    indptr: np.ndarray | None


def _positions(src: np.ndarray, dst: np.ndarray):
    """(ids, src positions, dst positions) over the vertex set src ∪ dst."""
    lo = int(min(src.min(), dst.min()))
    hi = int(max(src.max(), dst.max()))
    span = hi - lo + 1
    # a contiguous id set spans no more ids than there are endpoints
    if span <= len(src) + len(dst):
        s, d = (src - lo, dst - lo) if lo else (src, dst)
        seen = np.bincount(s, minlength=span) > 0
        if not seen.all():
            seen |= np.bincount(d, minlength=span) > 0
        if seen.all():
            return np.arange(lo, hi + 1, dtype=np.int64), s, d
    # unique(src) covers the engine's symmetric tables without sorting
    # the 2E concat; the dst-subset check guards the general case
    ids = np.unique(src)
    d = np.searchsorted(ids, dst)
    covered = (d < len(ids)) & (ids[np.minimum(d, len(ids) - 1)] == dst)
    if not bool(covered.all()):
        ids = np.unique(np.concatenate([src, dst]))
        d = np.searchsorted(ids, dst)
    return ids, np.searchsorted(ids, src), d


def pair_order(src: np.ndarray, dst: np.ndarray, n: int):
    """(perm, indptr): the stable (src, dst) order of rows over positions
    in [0, n) and the CSR row offsets of that order."""
    from ..oracle._cmove import csr_order_c

    out = csr_order_c(src, dst, n)
    if out is not None:
        return out
    perm = np.argsort(src * np.int64(n) + dst, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(src, minlength=n))
    return perm, indptr


def edge_csr(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray | None = None,
    sort: bool = True,
    drop_loops: bool = False,
) -> EdgeCSR:
    """Dense-position edge rows of a non-empty edge list. Every endpoint
    is a vertex, including endpoints of self-loops dropped by
    ``drop_loops``. Rows sharing (src, dst) are ordered by ascending w,
    so the order never depends on the order the rows were collected in
    (the sequential Louvain kernel keeps the max-w duplicate)."""
    ids, s, d = _positions(src, dst)
    if drop_loops:
        keep = s != d
        s, d = s[keep], d[keep]
        w = None if w is None else w[keep]
    if not sort:
        return EdgeCSR(ids, s, d, w, None)
    perm, indptr = pair_order(np.ascontiguousarray(s), np.ascontiguousarray(d), len(ids))
    ss, ds = s[perm], d[perm]
    if w is not None:
        if len(ss) > 1 and bool(((ss[1:] == ss[:-1]) & (ds[1:] == ds[:-1])).any()):
            perm = perm[np.lexsort((w[perm], ds, ss))]
            ss, ds = s[perm], d[perm]
        w = w[perm]
    return EdgeCSR(ids, ss, ds, w, indptr)
