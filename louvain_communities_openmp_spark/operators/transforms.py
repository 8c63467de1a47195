"""Graph transforms (reference: SURVEY.md §2.2).

All pure Catalyst plans — projections, unions, anti-joins, aggregations.
Each maps a reference operator (file:line cited) to a declarative
DataFrame expression; Catalyst handles pushdown/pruning, AQE handles
skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetricize(edges: DataFrame, agg: str = "max") -> DataFrame:
    """Add the reverse of every edge. → symmetricize.hxx:14-83.

    The reference's LazyBitset keeps the *last written* weight for a
    duplicate (u,v) (_bitset.hxx:245-262); for an input where forward
    and reverse weights can disagree we must pick a deterministic
    resolution: ``max`` (default) or ``sum``.
    """
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
    )
    both = edges.select("src", "dst", "w").unionByName(rev)
    f = F.max("w") if agg == "max" else F.sum("w")
    return both.groupBy("src", "dst").agg(f.alias("w"))


def transpose(edges: DataFrame) -> DataFrame:
    """Reverse all edges — pure projection. → transpose.hxx:16-65."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
    )


def transpose_with_degree(edges: DataFrame) -> DataFrame:
    """Transpose + out-degree of the original src as a vertex value.
    → transpose.hxx:79-134."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    return transpose(edges).join(
        deg.select(F.col("src").alias("dst"), "deg"), "dst", "left"
    ).select("src", "dst", "w", F.coalesce("deg", F.lit(0)).alias("src_outdeg"))


def add_self_loops(edges: DataFrame, w: float = 1.0, vertex_pred=None) -> DataFrame:
    """Add (u,u,w) per vertex (optionally passing a predicate).
    → selfLoop.hxx:15-79."""
    verts = vertices(edges)
    if vertex_pred is not None:
        verts = verts.where(vertex_pred(F.col("id")))
    loops = verts.select(
        F.col("id").alias("src"), F.col("id").alias("dst"), F.lit(float(w)).alias("w")
    )
    return edges.unionByName(loops).groupBy("src", "dst").agg(F.sum("w").alias("w"))


def count_self_loops(edges: DataFrame) -> int:
    """→ selfLoop.hxx:countSelfLoops."""
    return edges.where(F.col("src") == F.col("dst")).count()


def vertices(edges: DataFrame) -> DataFrame:
    """Vertex frame from edge endpoints. → mtx.hxx:214 analog (we mint
    vertices from observed endpoints; no padding vertex)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per vertex. → properties.hxx:52-55."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def apply_batch(
    edges: DataFrame, deletions: DataFrame | None, insertions: DataFrame | None
) -> DataFrame:
    """Apply edge deletions then insertions. → batch.hxx:223-248.

    Deletions are matched on (src, dst) via left-anti join; insertions
    union in (collapsing duplicates by sum, matching the post-update()
    dedupe, update.hxx:119-151)."""
    e = edges
    if deletions is not None:
        e = e.join(deletions.select("src", "dst"), ["src", "dst"], "left_anti")
    if insertions is not None:
        e = (
            e.unionByName(insertions.select("src", "dst", "w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    return e
