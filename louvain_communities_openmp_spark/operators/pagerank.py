"""Weighted PageRank over the edge DataFrame (north-rule companion).

Semantics = oracle.simple.pagerank_seq (allclose 1e-6 target):
    r_{t+1}(v) = (1−α)/N + α·(Σ_{u→v} r_t(u)·w(u,v)/vtot(u) + D_t/N)
with D_t the dangling mass.

Scale notes:
- contribution aggregation is groupBy(dst).sum → partial+final
  HashAggregate, so a hub dst is pre-reduced map-side (no hot-key
  shuffle blowup; AQE skew handling covers the join side),
- edge table is persisted once with the precomputed out-weight
  (w/vtot(src)) folded in, so each iteration is ONE join + ONE
  aggregation over a static frame,
- every k iterations the lineage is truncated via localCheckpoint.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .properties import vertex_weights
from . import serial
from .transforms import vertices


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id long, rank double)
    iterations: int
    err: float


def _transitions(edges: DataFrame, vt: DataFrame, use_bc: bool) -> DataFrame:
    """Persisted transition edges src → dst with probability mass
    p = w/vtot(src). Two regimes, same answer (see labelprop.py): when
    V fits a broadcast, partitioned on the AGGREGATION key (dst) and
    ranks broadcast into the src join — zero-exchange iterations; above
    the gate, on the JOIN key (src) so only the vertex-sized ranks frame
    and the map-side-combined contribution aggregate move per round."""
    return (
        edges.join(vt.withColumnRenamed("id", "src"), "src")
        .select("src", "dst", (F.col("w") / F.col("vtot")).alias("p"))
        .repartition("dst" if use_bc else "src")
        .persist()
    )


def _contributions(trans: DataFrame, ranks: DataFrame, use_bc: bool) -> DataFrame:
    """(id, c): Σ rank(src)·p over the in-edges of each dst."""
    rs = ranks.withColumnRenamed("id", "src")
    return (
        trans.join(F.broadcast(rs) if use_bc else rs, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("rank") * F.col("p")).alias("c"))
    )


def _has_out(trans: DataFrame) -> DataFrame:
    """Persisted (id, _h) marker of the vertices WITH out-edges."""
    return (
        trans.select("src").distinct()
        .withColumnRenamed("src", "id")
        .withColumn("_h", F.lit(True))
        .persist()
    )


def _dangling_mass(ranks: DataFrame, has_out: DataFrame) -> float:
    """The rank sitting on vertices without out-edges."""
    return float(
        ranks.join(has_out, "id", "left")
        .agg(F.sum(F.when(F.col("_h").isNull(), F.col("rank")).otherwise(0.0)))
        .first()[0]
        or 0.0
    )


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 200,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Power-iteration PageRank to tolerance.

    ``initial_ranks`` (id, rank) warm-starts the power iteration — the
    dynamic-graph analog of the reference's DYNAMIC Louvain seeding
    (louvain.hxx:305-318): after a small edge-delta batch the previous
    fixpoint is near the new one, so convergence takes a handful of
    iterations instead of a cold start. Ranks are projected onto the
    CURRENT vertex set (new vertices seeded at 1/n) and renormalized to
    sum 1, so the input may come from any earlier graph version. The
    fixpoint is start-independent; warm-starting changes iteration
    count, not the answer.
    """
    spark = edges.sparkSession
    verts = vertices(edges).persist()
    trans = has_out = None
    try:
        n = verts.count()
        if n == 0:
            return PageRankResult(spark.createDataFrame([], "id long, rank double"), 0, 0.0)
        vt = vertex_weights(edges)
        use_bc = n <= serial.BROADCAST_VERTICES
        trans = _transitions(edges, vt, use_bc)
        trans.count()
        # static marker of vertices WITH out-edges; dangling mass at t is
        # then an aggregate over ranks_t alone — fused below into the same
        # action as the error norm (one aggregate pass per iteration
        # instead of a separate anti-join job, halving driver round-trips)
        has_out = _has_out(trans)
        # dangling mass of the uniform start vector: (n − |src|)/n · 1/n
        # (recomputed below from the seeded vector when warm-starting)
        dangling = (n - has_out.count()) / n
        # eager localCheckpoint per round: truncates lineage and avoids the
        # unpersist-cascade recompute (see labelprop.py)
        if initial_ranks is not None:
            seeded = verts.join(
                initial_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
            ).select("id", F.coalesce("r0", F.lit(1.0 / n)).alias("rank"))
            total = seeded.agg(F.sum("rank")).first()[0] or 1.0
            ranks = seeded.select(
                "id", (F.col("rank") / F.lit(float(total))).alias("rank")
            ).localCheckpoint(eager=True)
            dangling = _dangling_mass(ranks, has_out)
        else:
            ranks = verts.select(
                "id", F.lit(1.0 / n).alias("rank")
            ).localCheckpoint(eager=True)
        it, err = 0, float("inf")
        while it < max_iter and err >= tol:
            contrib = _contributions(trans, ranks, use_bc)
            base = (1.0 - alpha) / n + alpha * dangling / n
            new_ranks = (
                verts.join(contrib, "id", "left")
                .select(
                    "id",
                    (F.lit(base) + F.lit(alpha) * F.coalesce("c", F.lit(0.0))).alias("rank"),
                )
            ).localCheckpoint(eager=True)
            row = (
                new_ranks.join(ranks.withColumnRenamed("rank", "old"), "id")
                .join(has_out, "id", "left")
                .agg(
                    F.sum(F.abs(F.col("rank") - F.col("old"))).alias("err"),
                    F.sum(
                        F.when(F.col("_h").isNull(), F.col("rank")).otherwise(0.0)
                    ).alias("dangling"),
                )
                .collect()[0]
            )
            err = float(row["err"] or 0.0)
            dangling = float(row["dangling"] or 0.0)
            ranks = new_ranks
            it += 1
        return PageRankResult(ranks, it, float(err))
    finally:
        # a refresh per graph version (DynamicPageRank) must not leave
        # a vertex-sized frame cached per call
        for cached in (trans, has_out, verts):
            if cached is not None:
                cached.unpersist()


def _pagerank_fixed_local(
    edges: DataFrame, alpha: float, iters: int
) -> DataFrame | None:
    """Driver-side finish under ``serial.SERIAL_EDGES`` directed edges (the
    serial-finish seam, operators/serial.py): the same recurrence as
    the distributed rounds below over numpy arrays. The vertex set is
    the src ids; contributions to dst-only ids are dropped; duplicate
    rows and self-loops count. Sums associate in a different order than
    Spark's partial aggregates (drift ~1e-16, far inside the 7dp
    rounding, which Spark still applies). Returns None above the bound,
    and on an empty graph or a zero out-weight, which the distributed
    plan reports as it always has. The rows are the resident graph's
    (serial.local_graph), so a graph over the bound pays one count
    job, not a discarded collect."""
    import numpy as np
    import pandas as pd

    g = serial.local_graph(edges, serial.SERIAL_EDGES)
    if g is None or len(g.src) == 0:
        return None
    n_pos = len(g.ids)
    vtot = np.bincount(g.src, weights=g.w, minlength=n_pos)
    is_v = np.bincount(g.src, minlength=n_pos) > 0
    if not bool((vtot[is_v] != 0).all()):
        return None
    n = int(is_v.sum())
    p = g.w / vtot[g.src]
    rank = np.full(n_pos, 1.0 / n)
    for _ in range(iters):
        c = np.bincount(g.dst, weights=rank[g.src] * p, minlength=n_pos)
        rank = (1.0 - alpha) / n + alpha * c
    out = pd.DataFrame({"id": g.ids[is_v], "rank": rank[is_v]})
    return edges.sparkSession.createDataFrame(out, "id long, rank double")


def pagerank_fixed(
    edges: DataFrame,
    alpha: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank without dangling redistribution —
    intended for sink-free (symmetric) graphs, where it equals the
    converging variant truncated at `iters`. Exists so the computation
    is expressible as unrolled ANSI SQL for cross-engine verification.
    Returns (id, rank) with rank rounded to 7dp."""
    ranks = _pagerank_fixed_local(edges, alpha, iters)
    if ranks is None:
        ranks = _pagerank_fixed_dist(edges, alpha, iters)
    return ranks.select("id", F.round("rank", 7).alias("rank"))


def _pagerank_fixed_dist(edges: DataFrame, alpha: float, iters: int) -> DataFrame:
    vt = vertex_weights(edges).persist()
    n = vt.count()
    use_bc = n <= serial.BROADCAST_VERTICES
    trans = _transitions(edges, vt, use_bc)
    ranks = vt.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = _contributions(trans, ranks, use_bc)
        ranks = vt.select("id").join(contrib, "id", "left").select(
            "id",
            (F.lit((1.0 - alpha) / n) + F.lit(alpha) * F.coalesce("c", F.lit(0.0))).alias("rank"),
        )
    # materialize the vertex-sized result before releasing the caches
    # it reads (as pagerank_dangling_fixed does)
    ranks = ranks.localCheckpoint(eager=True)
    trans.unpersist()
    vt.unpersist()
    return ranks


def personalized_pagerank_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: teleport mass returns to
    the seed set instead of the uniform vector —
        r_{t+1}(v) = (1−α)·s(v) + α·Σ_{u→v} r_t(u)·w(u,v)/vtot(u),
    s = uniform over `seeds` (a (id) frame). Topic-sensitive ranking
    around a page set, the standard crawl-frontier / related-pages
    primitive. No dangling redistribution — intended for sink-free
    (symmetric) graphs, like pagerank_fixed, and for the same reason:
    the computation unrolls to ANSI SQL for cross-engine verification.
    Returns (id, rank) rounded to 7dp.

    Scale shape identical to pagerank: the normalized transition table
    is partitioned on the join key once; each iteration is one
    vertex-sized join + one map-side-combined aggregation. The seed
    vector is vertex-sized and enters only the per-iteration base term
    (a broadcast-sized left join when |seeds| ≪ V).
    """
    vt = vertex_weights(edges).persist()
    trans = base = None
    try:
        use_bc = vt.count() <= serial.BROADCAST_VERTICES
        trans = _transitions(edges, vt, use_bc)
        s = seeds.select("id").distinct()
        n_seeds = s.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs a non-empty seed set")
        sv = s.withColumn("s", F.lit(1.0 / n_seeds))
        base = vt.select("id").join(sv, "id", "left").select(
            "id", F.coalesce("s", F.lit(0.0)).alias("s")
        ).persist()
        ranks = base.select("id", F.col("s").alias("rank"))
        for _ in range(iters):
            contrib = _contributions(trans, ranks, use_bc)
            ranks = base.join(contrib, "id", "left").select(
                "id",
                (
                    F.lit(1.0 - alpha) * F.col("s")
                    + F.lit(alpha) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        for cached in (trans, base, vt):
            if cached is not None:
                cached.unpersist()
    return ranks.select("id", F.round("rank", 7).alias("rank"))


def pagerank_dangling_fixed(
    edges: DataFrame, alpha: float = 0.85, iters: int = 3
) -> DataFrame:
    """Fixed-iteration PageRank WITH dangling-mass redistribution — the
    directed-web variant of pagerank_fixed for graphs that have sinks
    (the bow-tie OUT periphery): each iteration the rank sitting on
    out-degree-0 vertices is re-spread uniformly, so total mass stays
    exactly 1 — the same recurrence as the converging `pagerank` above
    (= oracle.simple.pagerank_seq), truncated at `iters` so the
    computation unrolls to ANSI SQL for cross-engine verification.
    Returns (id, rank) rounded to 7dp.

    Scale shape matches `pagerank`: the normalized transition table is
    partitioned once on the join (or aggregation) key; each iteration
    is one join + one map-side-combined aggregation, plus ONE scalar
    aggregate over the vertex-sized rank frame for the dangling mass
    (an 8-byte driver round-trip, not a data collect). Rank frames are
    eagerly localCheckpoint-ed so the dangling aggregate and the next
    iteration share one materialization instead of forking lineage.
    """
    verts = vertices(edges).persist()
    trans = has_out = None
    try:
        n = verts.count()
        if n == 0:
            return edges.sparkSession.createDataFrame([], "id long, rank double")
        vt = vertex_weights(edges)
        use_bc = n <= serial.BROADCAST_VERTICES
        trans = _transitions(edges, vt, use_bc)
        has_out = _has_out(trans)
        dangling = (n - has_out.count()) / n
        ranks = verts.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint(
            eager=True
        )
        for it in range(iters):
            contrib = _contributions(trans, ranks, use_bc)
            base = (1.0 - alpha) / n + alpha * dangling / n
            ranks = (
                verts.join(contrib, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(base) + F.lit(alpha) * F.coalesce("c", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
            if it < iters - 1:
                dangling = _dangling_mass(ranks, has_out)
    finally:
        for cached in (trans, has_out, verts):
            if cached is not None:
                cached.unpersist()
    return ranks.select("id", F.round("rank", 7).alias("rank"))
