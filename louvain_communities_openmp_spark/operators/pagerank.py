"""The PageRank family over the edge DataFrame (north-rule companion).

Semantics = oracle.simple.pagerank_seq (allclose 1e-6 target):
    r_{t+1}(v) = (1−α)/N + α·(Σ_{u→v} r_t(u)·w(u,v)/vtot(u) + D_t/N)
with D_t the dangling mass. The four variants run one loop (_power):
``pagerank`` and ``pagerank_dangling_fixed`` differ only in the stop
rule (tolerance or a fixed round count), ``pagerank_fixed``'s
distributed rounds and ``personalized_pagerank_fixed`` only in the
teleport term (uniform or the seed vector), and those two drop D_t.

Scale notes:
- the transition table (src, dst, w/vtot(src)) is laid out and
  persisted once by operators/propagate.py, so each round is ONE join
  + ONE map-side-combined aggregation over a static frame, moving no
  edge row under the broadcast gate;
- the variants with D_t checkpoint each round eagerly (lineage
  truncation, and one materialization for the round's scalar
  aggregate); the two without it stay lazy until the result.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .properties import vertex_weights
from .propagate import Propagation
from . import serial
from .transforms import vertices


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id long, rank double)
    iterations: int
    err: float


def _dangling_mass(ranks: DataFrame, has_out: DataFrame) -> float:
    """The rank sitting on vertices without out-edges."""
    return float(
        ranks.join(has_out, "id", "left")
        .agg(F.sum(F.when(F.col("_h").isNull(), F.col("rank")).otherwise(0.0)))
        .first()[0]
        or 0.0
    )


def _power(
    edges: DataFrame,
    alpha: float,
    iters: int,
    tol: float | None = None,
    dangling: bool = False,
    seeds: DataFrame | None = None,
    initial_ranks: DataFrame | None = None,
) -> tuple[DataFrame, int, float]:
    """The one PageRank loop: r ← t + α·Σ_{u→v} r(u)·w(u,v)/vtot(u) for
    ``iters`` rounds, or fewer once the L1 change is below ``tol``.

    With ``dangling`` the vertex set is vertices(edges), the rank on
    vertices without out-edges is re-spread uniformly each round and
    the start is uniform (or ``initial_ranks``); without it the vertex
    set is the src ids. The teleport t is (1−α)/N, or (1−α)·s(v) with s
    uniform over ``seeds``, which is also the start. Returns (ranks,
    rounds, last L1 change); the ranks are materialized before the
    cached frames are released."""
    if seeds is not None:
        seeds = seeds.select("id").distinct()
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs a non-empty seed set")
    vt = vertex_weights(edges)
    with Propagation(vertices(edges) if dangling else vt) as prop:
        n = prop.n
        if n == 0:
            return edges.sparkSession.createDataFrame([], "id long, rank double"), 0, 0.0
        step = prop.step(
            edges.join(vt.withColumnRenamed("id", "src"), "src"),
            F.col("w") / F.col("vtot"),
        )
        rows, mass = prop.verts.select("id"), 0.0
        if seeds is not None:
            rows = prop.cache(
                rows.join(seeds.withColumn("s", F.lit(1.0 / n_seeds)), "id", "left")
                .select("id", F.coalesce("s", F.lit(0.0)).alias("t"))
            )
            ranks = rows.select("id", F.col("t").alias("rank"))
        elif initial_ranks is not None:
            # projected onto this vertex set, new vertices at 1/n,
            # renormalized to sum 1
            seeded = rows.join(
                initial_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
            ).select("id", F.coalesce("r0", F.lit(1.0 / n)).alias("rank"))
            total = seeded.agg(F.sum("rank")).first()[0] or 1.0
            ranks = seeded.select(
                "id", (F.col("rank") / F.lit(float(total))).alias("rank")
            ).localCheckpoint(eager=True)
        else:
            ranks = rows.select("id", F.lit(1.0 / n).alias("rank"))
            if dangling:
                ranks = ranks.localCheckpoint(eager=True)
        if dangling:
            # the static marker of vertices WITH out-edges: the dangling
            # mass at t is then an aggregate over ranks_t alone
            has_out = prop.cache(
                step.table.select(F.col("src").alias("id")).distinct()
                .withColumn("_h", F.lit(True))
            )
            mass = (n - has_out.count()) / n
            if initial_ranks is not None:
                mass = _dangling_mass(ranks, has_out)
        it, err = 0, float("inf")
        while it < iters and (tol is None or err >= tol):
            tele = (
                F.lit(1.0 - alpha) * F.col("t")
                if seeds is not None
                else F.lit((1.0 - alpha) / n + alpha * mass / n)
            )
            s = step(ranks, F.sum(F.col("w") * F.col("rank")))
            new = rows.join(s, "id", "left").select(
                "id", (tele + F.lit(alpha) * F.coalesce("s", F.lit(0.0))).alias("rank")
            )
            if dangling:
                new = new.localCheckpoint(eager=True)
                if tol is not None:
                    # the error norm and the next dangling mass in one
                    # aggregate pass
                    row = (
                        new.join(ranks.withColumnRenamed("rank", "old"), "id")
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
                    mass = float(row["dangling"] or 0.0)
                elif it < iters - 1:
                    mass = _dangling_mass(new, has_out)
            ranks = new
            it += 1
        if not dangling:
            ranks = ranks.localCheckpoint(eager=True)
        return ranks, it, err


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
    count, not the answer. Every cached frame is released before it
    returns (DynamicPageRank calls it once per graph version).
    """
    return PageRankResult(
        *_power(edges, alpha, max_iter, tol=tol, dangling=True, initial_ranks=initial_ranks)
    )


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
    """pagerank_fixed's distributed rounds, unrounded."""
    return _power(edges, alpha, iters)[0]


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
    Returns (id, rank) rounded to 7dp; an empty seed set raises
    ValueError.

    The seed vector is vertex-sized and enters only the per-round
    teleport term.
    """
    ranks = _power(edges, alpha, iters, seeds=seeds)[0]
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

    Besides the round's join and aggregation, each round but the last
    runs ONE scalar aggregate over the vertex-sized rank frame for the
    dangling mass (an 8-byte driver round-trip, not a data collect).
    """
    ranks = _power(edges, alpha, iters, dangling=True)[0]
    return ranks.select("id", F.round("rank", 7).alias("rank"))
