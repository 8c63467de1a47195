"""The serial-finish seam: one driver-resident graph per persisted edge frame.

Under an operator's edge bound the whole computation is cheaper on the
driver than one distributed round — the reference's representation
swap to a CSR rebuilt per pass (louvain.hxx:1174-1176). ``local_graph``
collects a frame's ``(src, dst[, w])`` rows once, as the sorted
``EdgeCSR`` with self-loops kept, and each serial finish derives its
own view from it in numpy: Louvain and PageRank read the rows as they
are, components and label propagation mask out self-loops, triangles
keep ``src < dst``. ``edge_csr`` maps ids to positions: ``id - lo``
when the ids are contiguous, as the engine's tables are, else a
sorted-unique map; the (src, dst) order comes from an O(E + V)
counting sort (oracle/_cmove.py ``csr_order``).

Memo rule. One graph is held, at most: the one of the last persisted
frame collected, or handed over with ``hold``. It is keyed by Spark's
cache entry, not by the Python object: the id of the cached RDD behind
the frame (``_cache_key``). A frame that is not persisted has no key
and is collected on every call; ``unpersist()`` + ``persist()`` gives
a new id, so a re-persisted frame over changed files is collected
again; frames with identical plans share Spark's cache and so share
the entry. The old entry is dropped before a new one is collected or
held, and when the frame object it came from is garbage-collected.
``hold`` is for a writer that built the graph of a persisted frame
from the rows it wrote (the edge store's driver-side apply,
streaming/edge_stream.py): the graph must equal ``edge_csr`` of the
frame's rows. Where the lookup raises (Spark Connect) nothing is held.

Column memo. A vertex-sized frame built from driver arrays (a serial
Louvain finish's membership, a maintainer's warm-start frames,
streaming/versions.py) carries them with ``hold_columns``, keyed the
same way, and ``vertex_columns`` reads them instead of collecting. It
is apart from the graph memo, so holding columns never evicts the held
graph; it keeps the columns of up to ``_COLUMN_FRAMES`` cache entries,
dropping the oldest first.

Decision rule. On a hit, the held row count decides against the bound
and no Spark job runs. On a miss of a persisted frame, one ``count()``
decides (it fills the cache the collect then reads), then
``collect_columns`` under the bound, so a frame over the bound moves no
rows to the driver. A frame with no cache key decides and collects in
one ``LIMIT bound+1`` job, so its plan runs once; over the bound it
moves at most bound+1 rows.

The two size bounds below are read at call time (``serial.SERIAL_EDGES``),
so a test forces a path by patching one name.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

# Directed edges up to which Louvain auto, pagerank_fixed, components,
# labelprop and triangles finish on the driver (~100 MB of arrays). Picked by measurement for the
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
# the join key. They read it in one place, operators/propagate.py.
# Louvain's broadcast gate and warm-start collects read it too.
BROADCAST_VERTICES = 5_000_000


def _numpy_columns(tbl, cols: list[str]) -> list:
    arrs = [tbl.column(c).to_numpy() for c in cols]
    return [a.astype(np.float64 if a.dtype.kind == "f" else np.int64, copy=False) for a in arrs]


def collect_columns(df: DataFrame, cols: list[str], bound: int | None = None) -> list | None:
    """The columns ``cols`` of ``df`` as numpy arrays (int64, or float64
    for floating columns). Arrow-direct: no pandas block consolidation.
    With no ``bound``, only for a frame already known to be under one;
    with one, ``collect_bounded``. The serial finishes' edge collect."""
    if bound is not None:
        return collect_bounded(df, cols, bound)
    return _numpy_columns(df.select(*cols).toArrow(), cols)


def collect_bounded(df: DataFrame, cols: list[str], bound: int) -> list | None:
    """The columns ``cols`` of ``df`` in one ``LIMIT bound+1`` job, or
    None when ``df`` has more than ``bound`` rows."""
    # LIMIT takes a Java int
    bound = min(bound, 2**31 - 2)
    tbl = df.select(*cols).limit(bound + 1).toArrow()
    if tbl.num_rows > bound:
        return None
    return _numpy_columns(tbl, cols)


def vertex_columns(df: DataFrame, cols: list[str], bound: int) -> list | None:
    """The columns ``cols`` of ``df``: its held columns (``hold_columns``)
    without a Spark job, else ``collect_bounded``. None when ``df`` has
    more than ``bound`` rows."""
    held = held_columns(df)
    if held is not None and all(c in held for c in cols):
        arrs = [held[c] for c in cols]
        return arrs if len(arrs[0]) <= bound else None
    return collect_bounded(df, cols, bound)


@dataclass
class EdgeCSR:
    """Edge rows over dense vertex positions 0..n-1, where ``ids[p]`` is
    the id at position p (ascending, so position order is id order).
    Rows are in (src, dst, w) order and ``indptr`` holds the row offsets
    of each src position."""

    ids: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    w: np.ndarray | None
    indptr: np.ndarray


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


def edge_csr(src: np.ndarray, dst: np.ndarray, w: np.ndarray | None = None) -> EdgeCSR:
    """Dense-position edge rows of an edge list, in (src, dst) order.
    Every endpoint is a vertex, including endpoints of self-loops. Rows
    sharing (src, dst) are ordered by ascending w, so the order never
    depends on the order the rows were collected in (the sequential
    Louvain kernel keeps the max-w duplicate)."""
    if len(src) == 0:
        e = np.empty(0, dtype=np.int64)
        return EdgeCSR(e, e, e, w, np.zeros(1, dtype=np.int64))
    ids, s, d = _positions(src, dst)
    perm, indptr = pair_order(np.ascontiguousarray(s), np.ascontiguousarray(d), len(ids))
    ss, ds = s[perm], d[perm]
    if w is not None:
        if len(ss) > 1 and bool(((ss[1:] == ss[:-1]) & (ds[1:] == ds[:-1])).any()):
            perm = perm[np.lexsort((w[perm], ds, ss))]
            ss, ds = s[perm], d[perm]
        w = w[perm]
    return EdgeCSR(ids, ss, ds, w, indptr)


def _cache_key(df: DataFrame):
    """(application id, id of the cached RDD behind ``df``), or None
    when ``df`` is not persisted. Raises where the JVM is out of reach
    (Spark Connect)."""
    spark = df.sparkSession
    hit = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if hit.isEmpty():
        return None
    rdd = hit.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers()
    return spark.sparkContext.applicationId, int(rdd.id())


# the memo: (key, graph, finalizer of the frame it came from), or None
_held = None


def _drop(key=None) -> None:
    """Release the held graph (only if it is ``key``'s, when given)."""
    global _held
    if _held is not None and (key is None or _held[0] == key):
        _held[2].detach()
        _held = None


def _lookup(df: DataFrame):
    """(key, held graph or None); the key is None when nothing can be
    held for ``df``."""
    try:
        key = _cache_key(df)
    except Exception:
        return None, None
    held = _held
    return key, (held[1] if key is not None and held is not None and held[0] == key else None)


def cache_key(df: DataFrame):
    """The key of Spark's cache entry for ``df``, or None when it is
    not persisted or the lookup raises (Spark Connect)."""
    return _lookup(df)[0]


def held_graph(edges: DataFrame) -> EdgeCSR | None:
    """The resident graph of ``edges`` if one is held; never collects."""
    return _lookup(edges)[1]


def _keep(key, edges: DataFrame, g: EdgeCSR) -> EdgeCSR:
    """Hold the read-only ``g`` as the graph of ``edges`` under ``key``."""
    global _held
    for a in (g.ids, g.src, g.dst, g.w, g.indptr):
        if a is not None:
            a.flags.writeable = False
    if key is not None:
        _drop()
        _held = (key, g, weakref.finalize(edges, _drop, key))
    return g


def hold(edges: DataFrame, g: EdgeCSR) -> None:
    """Hold ``g`` as the resident graph of the persisted frame ``edges``
    without collecting it; ``g`` must equal ``edge_csr`` of the frame's
    rows and is not written to afterwards. Nothing is held for a frame
    that is not persisted, or under Spark Connect."""
    _keep(_lookup(edges)[0], edges, g)


# the column memo: cache key → (columns, finalizer of the frame they
# came from), oldest first
_columns: dict = {}
_COLUMN_FRAMES = 4


def _drop_columns(key) -> None:
    entry = _columns.pop(key, None)
    if entry is not None:
        entry[1].detach()


def hold_columns(df: DataFrame, columns: dict) -> None:
    """Hold ``columns`` (name → array, row-aligned, equal to the rows
    of the persisted frame ``df``) as the rows of ``df``; they are made
    read-only. Nothing is held for a frame that is not persisted,
    or under Spark Connect."""
    key = cache_key(df)
    if key is None:
        return
    for a in columns.values():
        a.flags.writeable = False
    _drop_columns(key)
    while len(_columns) >= _COLUMN_FRAMES:
        _drop_columns(next(iter(_columns)))
    _columns[key] = (columns, weakref.finalize(df, _drop_columns, key))


def held_columns(df: DataFrame) -> dict | None:
    """The columns held for ``df`` (``hold_columns``), or None; never
    collects."""
    key = cache_key(df)
    entry = _columns.get(key) if key is not None else None
    return None if entry is None else entry[0]


def graph_or_count(edges: DataFrame, bound: int | None) -> tuple[EdgeCSR | None, int | None]:
    """(``local_graph(edges, bound)``, the row count of ``edges``); the
    count is the one that decided, so a caller over the bound need not
    count again. It is None for a frame with no cache key found over
    the bound, whose bounded collect does not count it. ``bound=None``
    collects without a count."""
    key, g = _lookup(edges)
    if g is not None:
        n = len(g.src)
        return (g if bound is None or n <= bound else None), n
    cols = ["src", "dst", "w"] if "w" in edges.columns else ["src", "dst"]
    if key is None:
        arrs = collect_columns(edges, cols, bound)
        if arrs is None:
            return None, None
    else:
        if bound is not None:
            n = edges.count()
            if n > bound:
                return None, n
        _drop()
        arrs = collect_columns(edges, cols)
    g = _keep(key, edges, edge_csr(*arrs))
    return g, len(g.src)


def local_graph(edges: DataFrame, bound: int | None) -> EdgeCSR | None:
    """The sorted ``EdgeCSR`` of the ``(src, dst[, w])`` rows of
    ``edges``, self-loops kept, or None when ``edges`` has more than
    ``bound`` rows (``bound=None``: no bound). Held for one persisted
    frame (see the module docstring); callers must not write to it."""
    return graph_or_count(edges, bound)[0]
