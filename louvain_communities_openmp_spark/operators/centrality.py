"""Sampled harmonic centrality via multi-source BFS.

Harmonic centrality h(v) = sum over sources s != v of 1/d(s, v) — the
standard closeness variant that is well-defined on disconnected graphs
(unreachable pairs contribute 0). Exact all-pairs is O(V·E); the
production estimator (Boldi–Vigna, "Axioms for centrality", 2014) runs
BFS from a fixed sample of pivot sources and scales — that is what this
operator computes, with a DETERMINISTIC pivot set (the k smallest
vertex ids) so the result is an exact, oracle-checkable function of the
input rather than a seeded estimate.

Plan shape (the BFS frontier economics of bfs.py:22-55, carried
per-source): state is a (s, id, dist) frame; each round expands the
frontier through the edge table with one join + min-aggregate + anti
join, all keyed on the vertex id, so per-round shuffle volume is
O(frontier · k), never O(E). The edge table is persisted once and
repartitioned on the join key; lineage is truncated with eager
localCheckpoints (the pass-static repartition pattern of
labelprop.py/components.py).

Reference analog: the reference has no centrality operator — this is a
web-scale link-graph companion in the spirit of the mandated PageRank
(BASELINE.json north_rule), sharing its edge-table contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .propagate import Propagation
from .transforms import vertices


@dataclass
class HarmonicResult:
    scores: DataFrame  # (id long, harmonic double) — ALL vertices
    n_sources: int
    iterations: int


def multi_source_bfs(
    edges: DataFrame,
    n_sources: int = 8,
    max_iter: int = 64,
) -> tuple[DataFrame, int]:
    """Per-source hop distances from the ``n_sources`` smallest-id
    pivot vertices (deterministic sample). Returns the (s, id, dist)
    visited frame and the round count — the shared kernel under
    harmonic_centrality and eccentricities."""
    e = edges.select("src", "dst").repartition("src").persist()
    srcs = (
        vertices(edges).orderBy("id").limit(n_sources).select("id")
    )
    # visited: (s, id, dist); frontier: last round's newly reached rows
    visited = (
        srcs.select(
            F.col("id").alias("s"),
            F.col("id"),
            F.lit(0).cast("long").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = visited
    it = 0
    rounds_since_cp = 0
    while it < max_iter:
        nxt = (
            e.join(frontier.select(F.col("id").alias("src"), "s", "dist"), "src")
            .groupBy("s", F.col("dst").alias("id"))
            .agg((F.min("dist") + 1).alias("dist"))
            .join(visited.select("s", "id"), ["s", "id"], "left_anti")
            .localCheckpoint(eager=True)
        )
        n = nxt.count()
        it += 1
        if n == 0:
            break
        visited = visited.unionByName(nxt)
        rounds_since_cp += 1
        if rounds_since_cp >= 8:
            visited = visited.localCheckpoint(eager=True)
            rounds_since_cp = 0
        frontier = nxt
    e.unpersist()
    return visited, it


def harmonic_centrality(
    edges: DataFrame,
    n_sources: int = 8,
    max_iter: int = 64,
) -> HarmonicResult:
    """Harmonic centrality restricted to the pivot-source sample.

    Directed semantics: d(s, v) follows edge direction, so scores rank
    reachability-from-pivots (run on the symmetricized table for the
    undirected score). Vertices unreached by every pivot score 0.
    """
    visited, it = multi_source_bfs(edges, n_sources, max_iter)
    per = (
        visited.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(1.0 / F.col("dist")).alias("h"))
    )
    scores = (
        vertices(edges)
        .join(per, "id", "left")
        .select(
            "id",
            F.round(F.coalesce("h", F.lit(0.0)), 6).alias("harmonic"),
        )
    )
    return HarmonicResult(scores, n_sources, it)


def eccentricities(
    edges: DataFrame,
    n_sources: int = 8,
    max_iter: int = 64,
) -> DataFrame:
    """Per-pivot eccentricity over the reachable set: (s, ecc,
    n_reached) where ecc = max hop distance from pivot s and n_reached
    counts vertices at finite distance (pivot included, dist 0). The
    max over rows lower-bounds the graph diameter — the standard
    sampled pseudo-diameter probe. Same BFS kernel and scale shape as
    harmonic_centrality; one extra vertex-sized aggregate."""
    visited, _ = multi_source_bfs(edges, n_sources, max_iter)
    return visited.groupBy("s").agg(
        F.max("dist").alias("ecc"),
        F.count("*").alias("n_reached"),
    )


def katz_fixed(
    edges: DataFrame,
    alpha: float = 0.01,
    iters: int = 4,
    exact_int: bool = False,
) -> DataFrame:
    """Fixed-iteration Katz centrality: k_{t+1}(v) = 1 + α·Σ_{u→v} w(u,v)·k_t(u),
    from k_0 ≡ 1 (the truncated Katz series Σ_t α^t (A^T)^t·1 up to
    path length ``iters``). Fixed iteration count keeps the result an
    exact, oracle-checkable function of the input — the bounded-round
    contract shared with ktruss_peel/betweenness/sssp. α must stay
    below 1/λ_max for the untruncated series to converge; the truncated
    value is well-defined for any α.

    Plan shape: one propagation step toward dst (operators/propagate.py)
    over the static weighted edge table; zero edge exchange per round
    under the broadcast gate, and the contribution sum is a
    partial+final HashAggregate so hub dsts collapse map-side. Returns
    (id long, katz double rounded to 6).

    Reference analog: none (the reference is Louvain-only) — a
    link-graph companion in the PageRank family (north rule).
    """
    if exact_int:
        # integer-weight graphs with α = 1/inv: carry K_t = inv^t·k_t as
        # longs (K_{t+1} = inv^{t+1} + Σ w·K_t) — summation-order-exact,
        # so the cross-engine check needs NO float tolerance. Returns
        # (id, katz_x{inv^iters}) with katz = K/inv^iters.
        inv = round(1.0 / alpha)
        if abs(inv * alpha - 1.0) > 1e-12:
            raise ValueError("exact_int requires alpha = 1/int")
    with Propagation(vertices(edges)) as prop:
        step = prop.step(edges, F.col("w").cast("long") if exact_int else F.col("w"))
        if exact_int:
            scores = prop.verts.select("id", F.lit(1).cast("long").alias("k"))
        else:
            scores = prop.verts.select("id", F.lit(1.0).alias("k"))
        for t in range(iters):
            base = (
                F.lit(int(inv ** (t + 1))).cast("long")
                if exact_int
                else F.lit(1.0)
            )
            zero = F.lit(0).cast("long") if exact_int else F.lit(0.0)
            gain = F.coalesce("s", zero) if exact_int else F.lit(alpha) * F.coalesce("s", zero)
            scores = (
                prop.verts.join(step(scores, F.sum(F.col("w") * F.col("k"))), "id", "left")
                .select("id", (base + gain).alias("k"))
                .localCheckpoint(eager=True)
            )
    if exact_int:
        return scores.select(
            "id", F.col("k").alias(f"katz_x{inv ** iters}")
        )
    return scores.select("id", F.round("k", 6).alias("katz"))


def absorb_fixed(
    edges: DataFrame,
    iters: int = 4,
    target_mod: int = 64,
) -> DataFrame:
    """First-hit absorption walk counts into a deterministic target set
    T = {v : v % target_mod == 0} within ``iters`` forward steps:
    f_0(v) = [v ∈ T];  f_{t+1}(v) = 0 if v ∈ T else Σ_{v→u} w(v,u)·f_t(u);
    absorb(v) = Σ_{t≤iters} f_t(v) — the weighted count of walks out of
    v that FIRST hit T at step ≤ iters (the TrustRank-family absorption
    statistic, integer-exact so the cross-engine check needs no float
    tolerance; normalizing by Σ_t (weighted outdeg)^t would give the
    absorption probability).

    Plan shape (katz_fixed mirrored forward): one propagation step
    toward src (operators/propagate.py). Overflow bound: absorb ≤
    Σ_t (max weighted outdeg)^t — 64-bit safe for iters=4 up to outdeg
    ~10^4.

    Reference analog: none (the reference is Louvain-only) — a
    link-graph spam/trust companion in the PageRank family (north rule).
    """
    in_t = (F.col("id") % target_mod == 0)
    with Propagation(vertices(edges)) as prop:
        step = prop.step(edges, F.col("w").cast("long"), "src")
        tot = prop.verts.select(
            "id", F.when(in_t, 1).otherwise(0).cast("long").alias("tot")
        ).localCheckpoint(eager=True)
        f = tot.withColumnRenamed("tot", "f")
        for _ in range(iters):
            f = (
                prop.verts.join(step(f, F.sum(F.col("w") * F.col("f"))), "id", "left")
                .select(
                    "id",
                    F.when(in_t, F.lit(0))
                    .otherwise(F.coalesce("s", F.lit(0)))
                    .cast("long")
                    .alias("f"),
                )
                .localCheckpoint(eager=True)
            )
            tot = (
                tot.join(f, "id")
                .select("id", (F.col("tot") + F.col("f")).alias("tot"))
                .localCheckpoint(eager=True)
            )
    return tot.select("id", F.col("tot").alias(f"absorb{iters}"))


def closeness_per_source(
    edges: DataFrame,
    n_sources: int = 8,
    max_iter: int = 64,
) -> DataFrame:
    """Per-pivot closeness centrality over the reachable set:
    (s, n_reached, sum_dist, closeness) where
    closeness = (n_reached − 1) / Σ_{v reachable, v≠s} d(s, v)
    (Wasserman–Faust's reachable-set form, the one that stays
    well-defined on disconnected graphs), rounded to 6; a pivot that
    reaches nothing scores 0.0. The deterministic pivot set and BFS
    kernel are multi_source_bfs — same per-round frontier economics
    and eager-checkpoint lineage as harmonic_centrality /
    eccentricities; the finish is one pivot-keyed aggregate (8 rows).

    Reference analog: none (the reference is Louvain-only) — a
    link-graph companion in the sampled-centrality family
    (BASELINE.json north_rule).
    """
    visited, _ = multi_source_bfs(edges, n_sources, max_iter)
    return visited.groupBy("s").agg(
        F.count("*").alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
        F.round(
            F.coalesce(
                F.try_divide(
                    (F.count("*") - F.lit(1)).cast("double"),
                    F.sum("dist").cast("double"),
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("closeness"),
    )


def eigenvector_fixed(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-iteration eigenvector-centrality power step with EXACT
    integer carry: p_{t+1}(v) = Σ_{u→v} w(u,v)·p_t(u) from p_0 ≡ 1,
    so p_t(v) is the weighted count of length-t directed paths ending
    at v — the unnormalized power-method iterate whose normalized
    limit is the principal eigenvector of Aᵀ. Returns
    (id, paths{iters} BIGINT, eigenvector DOUBLE) where eigenvector =
    round(p_t(v) / Σ_u p_t(u), 9): the only float op is ONE division
    of two exact integers, so the cross-engine check carries no
    accumulated-float tolerance (the katz_fixed(exact_int=True)
    contract). Overflow bound: p_t ≤ (max weighted in-degree)^t —
    int64-safe for iters=4 up to in-degree ~55k; callers at larger
    scale lower iters or pre-normalize weights.

    Plan shape: identical to katz_fixed (one propagation step toward
    dst, operators/propagate.py), eager localCheckpoint per round.

    Reference analog: none (the reference is Louvain-only) — a
    PageRank-family link-graph companion (north rule).
    """
    with Propagation(vertices(edges)) as prop:
        step = prop.step(edges, F.col("w").cast("long"))
        scores = prop.verts.select("id", F.lit(1).cast("long").alias("p"))
        for _ in range(iters):
            scores = (
                prop.verts.join(step(scores, F.sum(F.col("w") * F.col("p"))), "id", "left")
                .select("id", F.coalesce("s", F.lit(0).cast("long")).alias("p"))
                .localCheckpoint(eager=True)
            )
    total = scores.agg(F.sum("p").alias("t")).first()["t"] or 1
    return scores.select(
        "id",
        F.col("p").alias(f"paths{iters}"),
        F.round(F.col("p").cast("double") / F.lit(float(total)), 9).alias(
            "eigenvector"
        ),
    )
