"""Triangle counting via degree-ordered edge orientation.

Exact-match target vs oracle.simple.triangle_count_seq. Counted on the
simple undirected graph (self-loops dropped, duplicates collapsed).

Algorithm (the skew-robust standard): orient every undirected edge from
its lower-(degree, id) endpoint to its higher one. Wedges are pairs of
out-neighbors (self-join of the oriented table on the pivot), closed by
a third oriented edge between the two out-neighbors. Each triangle is
found exactly once, and the wedge count is Σ outdeg² with
outdeg = O(√E) by the orientation bound — on power-law graphs this
beats the id-ordered join by the hub-degree² factor (the reference's
`schedule(dynamic,2048)` load-balancing concern, louvain.hxx:594,
transplanted to the join plan).

Scale notes: the self-join keys on the pivot vertex; AQE skew-join
splitting handles residual skew. Both joins are shuffle hash joins on
(long, long) keys; no Python.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import serial
from .serial import edge_csr, pair_order
from .transforms import vertices


@dataclass
class TriangleResult:
    per_vertex: DataFrame  # (id long, triangles long)
    total: int


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Undirected edges oriented low-rank → high-rank, rank = (deg, id).
    Output: (u, v) with rank(u) < rank(v)."""
    c = _canonical(edges)
    deg = (
        c.select(F.col("src").alias("id"))
        .unionAll(c.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg"))
    ann = c.join(ds, "src").join(dd, "dst")
    fwd = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    # partitioned on the adjacency-build key before the callers cache
    # it: the groupBy(u) in _triangles then needs no exchange (see
    # labelprop.py for the pattern)
    return ann.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    ).repartition("u")


def _triangles(o: DataFrame) -> DataFrame:
    """One row per triangle: (u, a, b) with rank(u) < rank(a) and
    rank(u) < rank(b) — u is the triangle's lowest-rank corner, a its
    out-neighbor on the found edge, b the shared out-neighbor closing
    it. ``o`` is the oriented table — persist it: the plan references
    it three times (edge stream + both adjacency sides).

    Edge-iterator formulation: per oriented edge (u, a), triangles are
    the common OUT-neighbors of u and a (each triangle has exactly one
    lowest-rank corner, and is found exactly once, at its u→a edge).
    Implemented as adjacency-array joins + codegen array_intersect:
    output cardinality is the TRIANGLE count, whereas the wedge
    self-join shuffles Σ outdeg² wedge rows to find the same set —
    34× more rows than triangles on the sf0.1 co-order graph
    (41M wedges → 1.9M triangles). Work is Σ_edges (deg⁺(u)+deg⁺(a))
    hash-set ops inside whole-stage codegen, no extra exchange; the
    oriented outdeg ≤ O(√E) bound caps both the array width and the
    per-edge cost (the same arboricity argument that bounds the wedge
    count, transplanted to row width instead of row count)."""
    adj = o.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    au = adj.select(F.col("u"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("a"), F.col("nbrs").alias("na"))
    return (
        o.select("u", F.col("v").alias("a"))
        .join(au, "u")
        .join(av, "a")
        .select(
            "u",
            "a",
            F.explode(F.array_intersect("nu", "na")).alias("b"),
        )
    )


def _triangle_total_local(edges: DataFrame) -> int | None:
    """Serial finish (operators/serial.py) under ``serial.SERIAL_EDGES``
    directed edges: the resident graph's ``src < dst`` rows, one numpy
    orientation pass and the C marker-array sweep (oracle/_cmove.py
    triangle_count_csr, OpenMP over vertices). It counts what the
    distributed plan counts (degree-(deg,id) orientation, per-edge
    common out-neighbors), so the total is identical — pinned by
    tests/test_components_fastpath.py.

    Returns None above the bound or when no native kernel is available.
    """
    from ..oracle._cmove import get_local_move

    if get_local_move() is None:
        return None
    g = serial.local_graph(edges, serial.SERIAL_EDGES)
    if g is None:
        return None
    keep = g.src < g.dst
    return _triangle_total_positions(g.src[keep], g.dst[keep], len(g.ids))


def _triangle_total_arrays(src, dst) -> int | None:
    """Triangle total of the canonical rows ``src < dst`` (repeats
    allowed) by the native kernel, or None when it is unavailable."""
    g = edge_csr(src, dst)
    return _triangle_total_positions(g.src, g.dst, len(g.ids))


def _triangle_total_positions(sp, dp, V: int) -> int | None:
    """``_triangle_total_arrays`` over vertex positions 0..V-1 in id
    order, with the rows already in (src, dst) order."""
    import numpy as np

    from ..oracle._cmove import triangle_count_csr_c

    if len(sp) == 0:
        return 0
    # the _canonical distinct: drop repeats of a (src, dst) row, which
    # the (src, dst) order makes adjacent
    first = np.r_[True, (sp[1:] != sp[:-1]) | (dp[1:] != dp[:-1])]
    sp, dp = sp[first], dp[first]
    deg = np.bincount(sp, minlength=V) + np.bincount(dp, minlength=V)
    # orient low-(deg, id) → high; position order == id order, and
    # sp < dp already holds, so the deg-tie case keeps fwd
    fwd = (deg[sp] < deg[dp]) | (deg[sp] == deg[dp])
    u = np.where(fwd, sp, dp)
    v = np.where(fwd, dp, sp)
    # distinct by construction → duplicate-free adjacency per u
    perm, indptr = pair_order(u, v, V)
    return triangle_count_csr_c(indptr, v[perm])


def triangle_count_total(edges: DataFrame) -> int:
    local = _triangle_total_local(edges)
    if local is not None:
        return local
    o = _oriented(edges).persist()
    try:
        return _triangles(o).count()
    finally:
        o.unpersist()


def triangle_count(edges: DataFrame) -> TriangleResult:
    o = _oriented(edges).persist()
    tris = _triangles(o).persist()
    per = (
        tris.select(F.explode(F.array("u", "a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    all_verts = vertices(edges).join(per, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    total = tris.count()
    o.unpersist()
    return TriangleResult(all_verts, total)


def mutual_triangle_total(edges: DataFrame) -> int:
    """Count of FULLY-RECIPROCAL triangles in a directed edge table:
    triads all three of whose dyads carry both edge directions — the
    tightly-knit link-ring motif one level above dyad reciprocity.
    The reciprocal dyad set is one self-join on the swapped (dst, src)
    key (same shape as the reciprocity aggregate); the count then
    reuses the oriented edge-iterator kernel (_triangles: codegen
    array_intersect, O(√E) array widths) on the mutual subgraph."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    rec = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.src") == F.col("y.dst"))
            & (F.col("x.dst") == F.col("y.src")),
        )
        .select(F.col("x.src").alias("src"), F.col("x.dst").alias("dst"))
    )
    o = _oriented(rec).persist()
    try:
        return _triangles(o).count()
    finally:
        o.unpersist()
