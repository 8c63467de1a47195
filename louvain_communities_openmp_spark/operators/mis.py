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
symmetric edge table of a step of operators/propagate.py (laid out
once for the regime, persisted), the neighbor-minimum is the step's
map-side-combined min(struct) aggregate (hub vertices collapse inside
each input partition), and the exclusion set is the endpoints that the
winners reach through the step the other way. State is a vertex-sized
(id, status) frame, localCheckpoint-ed per round. The decided set only
grows, so per-round cost shrinks monotonically; Luby's analysis gives
O(log V) expected rounds to drain, and the deterministic hash behaves
like the random draw on non-adversarial ids.

Reference analog: none (reference is Louvain-only) — a standard
parallel-graph companion, the independent-set primitive used for
distributed coloring and scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .propagate import Propagation
from .transforms import vertices

UNDECIDED, IN_SET, EXCLUDED = 0, 1, 2


def _priority(col):
    return (col * F.lit(2654435761)) % F.lit(1000003)


def mis_rounds(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """``rounds`` synchronous Luby rounds over the symmetric edge table.

    Returns (id long, status int): 1 = in the independent set,
    2 = excluded (a neighbor is in), 0 = still undecided after the
    budget. With rounds → ∞ the 0-class drains and the set is maximal
    (pytest-pinned on fixtures).
    """
    with Propagation(vertices(edges)) as prop:
        # the loop-free table both ways: a vertex reads its neighbors'
        # priorities (toward src); a winner excludes its neighbors
        # (toward dst)
        read = prop.step(edges, to="src", loops=False)
        exclude = prop.step(edges, to="dst", loops=False)
        state = prop.verts.select(
            "id",
            F.lit(UNDECIDED).alias("status"),
            _priority(F.col("id")).alias("p"),
        ).localCheckpoint(eager=True)
        for _ in range(rounds):
            und = state.where(F.col("status") == UNDECIDED).select("id", "p")
            # min (p, id) over each vertex's undecided neighbors
            nb_min = read(und, F.min(F.struct(F.col("p"), F.col("dst").alias("id"))))
            winners = (
                und.join(nb_min, "id", "left")
                .where(
                    F.col("s").isNull()
                    | (F.struct(F.col("p"), F.col("id")) < F.col("s"))
                )
                .select("id")
            )
            # the undecided neighbors of a winner
            excluded = exclude(winners).join(und.select("id"), "id")
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
    return state.select("id", "status")
