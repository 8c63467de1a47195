"""Maximal independent set — Luby's algorithm with DETERMINISTIC
priorities.

Luby (1986) picks per-round random priorities; here priority is a fixed
multiplicative hash p(v) = (v·2654435761) mod 1000003 with vertex-id
tie-break, so every round — and therefore the whole run — is an exact,
oracle-checkable function of the input (the bounded-round contract
shared with ktruss_peel/betweenness/sssp). An undecided vertex enters
the set when its (p, id) is strictly smaller than every undecided
neighbor's; its undecided neighbors are then excluded. No two adjacent
vertices can win the same round (strict total order), so independence
is invariant by construction.

Plan shape (100 TB): per round, the undecided frontier joins the static
symmetric edge table (partitioned once on src, persisted), the
neighbor-minimum is a map-side-combined min(struct) aggregate (hub
vertices collapse inside each input partition), and the exclusion set
is one more frontier-sized join. State is a vertex-sized (id, status)
frame, localCheckpoint-ed per round. The decided set only grows, so
per-round cost shrinks monotonically; Luby's analysis gives O(log V)
expected rounds to drain, and the deterministic hash behaves like the
random draw on non-adversarial ids.

Reference analog: none (reference is Louvain-only) — a standard
parallel-graph companion, the independent-set primitive used for
distributed coloring and scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import serial
from .transforms import vertices

UNDECIDED, IN_SET, EXCLUDED = 0, 1, 2


def _priority(col):
    return (col * F.lit(2654435761)) % F.lit(1000003)


def mis_rounds(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """``rounds`` synchronous Luby rounds over the symmetric edge table.

    Returns (id long, status int): 1 = in the independent set,
    2 = excluded (a neighbor is in), 0 = still undecided after the
    budget. With rounds → ∞ the 0-class drains and the set is maximal
    (pytest-pinned via mis_converged on fixtures).
    """
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .repartition("src")
        .persist()
    )
    e.count()
    verts = vertices(edges)
    state = verts.select(
        "id",
        F.lit(UNDECIDED).alias("status"),
        _priority(F.col("id")).alias("p"),
    ).localCheckpoint(eager=True)
    # vertex-sized state broadcasts into the edge join under the bound
    # every operator shares (serial.BROADCAST_VERTICES); above it the
    # join keys on the pre-partitioned src
    use_bc = verts.count() <= serial.BROADCAST_VERTICES
    for _ in range(rounds):
        und = state.where(F.col("status") == UNDECIDED).select("id", "p")
        und_src = und.select(F.col("id").alias("src"))
        nb_min = (
            e.join(
                F.broadcast(und_src) if use_bc else und_src, "src"
            )
            .join(
                und.select(
                    F.col("id").alias("dst"),
                    F.col("p").alias("pd"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min(F.struct(F.col("pd"), F.col("dst"))).alias("m"))
        )
        winners = (
            und.join(nb_min.withColumnRenamed("src", "id"), "id", "left")
            .where(
                F.col("m").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("m"))
            )
            .select("id")
        )
        excluded = (
            e.join(winners.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(und.select("id"), "id")  # only undecided get excluded
            .select("id")
        )
        state = (
            state.join(winners.withColumn("_w", F.lit(True)), "id", "left")
            .join(excluded.withColumn("_x", F.lit(True)), "id", "left")
            .select(
                "id",
                F.when(F.col("_w").isNotNull(), F.lit(IN_SET))
                .when(F.col("_x").isNotNull(), F.lit(EXCLUDED))
                .otherwise(F.col("status"))
                .alias("status"),
                "p",
            )
            .localCheckpoint(eager=True)
        )
        if state.where(F.col("status") == UNDECIDED).limit(1).count() == 0:
            break
    e.unpersist()
    return state.select("id", "status")


def mis_converged(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Run rounds until no vertex is undecided (fixture/test path)."""
    return mis_rounds(edges, rounds=max_rounds)
