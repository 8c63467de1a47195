"""Connected components: hash-min propagation + pointer jumping.

comp(u) = min vertex id reachable from u — exact-match target vs
oracle.simple.connected_components_seq. Each round does two label
moves:

1. hash-min over edges: comp(v) ← min(comp(v), min over frontier
   in-neighbors u of comp(u)) — the min step of operators/propagate.py,
   whose docstring gives the edge table's layout in both regimes;
2. pointer jump: comp(u) ← comp(comp(u)) — a vertex-sized self-join.
   Labels are vertex ids, so comp(comp(u)) is always defined and
   ≤ comp(u) (labels only decrease).

Step 2 halves each vertex's label-distance to its component minimum,
so convergence is O(log diameter) rounds instead of hash-min's
O(diameter) — the difference between ~6 and ~25,000 rounds on a
road-network graph (the reference corpus includes asia_osm/europe_osm,
main.sh:35-36). The frontier skeleton is the BFS analog of the
reference's bfsVisitedForEachU (bfs.hxx:22-55): only vertices whose
label changed propagate next round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import serial
from .propagate import Propagation
from .transforms import vertices


@dataclass
class ComponentsResult:
    components: DataFrame  # (id long, comp long)
    iterations: int


def _components_local(edges: DataFrame, max_iter: int = 200) -> ComponentsResult | None:
    """Serial finish (operators/serial.py) under ``serial.SERIAL_EDGES``
    directed edges, over the resident graph with self-loops masked out.
    The iteration body is the EXACT numpy transcription of the
    distributed round (hash-min over src→dst followed by one pointer
    jump, labels compared to the round's starting labels), so the
    per-round label states — and therefore the final components frame
    and the iteration count — are identical to the distributed path's
    (pinned by tests/test_components_fastpath.py).

    Returns None when the graph exceeds the bound or is empty.
    """
    import numpy as np
    import pandas as pd

    g = serial.local_graph(edges, serial.SERIAL_EDGES)
    if g is None or len(g.src) == 0:
        return None
    # every endpoint stays a vertex, loop-only ones included
    keep = g.src != g.dst
    ids, sp, dp = g.ids, g.src[keep], g.dst[keep]
    comp = np.arange(len(ids), dtype=np.int64)
    it = 0
    while it < max_iter:
        # phase 1 — hash-min over edges (comp(dst) ← min in-nbr comp);
        # phase 2 — ONE pointer jump comp(u) ← comp(comp(u));
        # labels are positions here, values resolved through ids at the
        # end (labels only decrease, exactly like the DataFrame rounds)
        c1 = comp.copy()
        np.minimum.at(c1, dp, comp[sp])
        new = c1[c1]
        it += 1
        if bool(np.array_equal(new, comp)):
            break
        comp = new
    out = pd.DataFrame({"id": ids, "comp": ids[comp]})
    spark = edges.sparkSession
    return ComponentsResult(
        spark.createDataFrame(out, "id long, comp long"), it
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    initial_components: DataFrame | None = None,
) -> ComponentsResult:
    """``initial_components`` (id, comp) warm-starts the label arrays —
    valid whenever the provided labels are a REFINEMENT upper bound of
    the true components with every label itself a present vertex id
    (e.g. the previous version's labels after insert-only deltas:
    components only merge under insertion, and hash-min then converges
    to min-over-initial-labels = the true min vertex id per component,
    in rounds proportional to the DELTA's reach, not the diameter).
    Vertices absent from the frame seed as singletons."""
    # serial finish under the bound (operators/serial.py); above it
    # the distributed rounds below run unchanged
    if initial_components is None:
        local = _components_local(edges, max_iter)
        if local is not None:
            return local
    # the distributed rounds: the hash-min phase is the min step of
    # operators/propagate.py, which lays out and releases the edge table
    with Propagation(vertices(edges)) as prop:
        step = prop.step(edges, to="dst", loops=False)
        # eager localCheckpoint per round: truncates lineage and avoids
        # the unpersist-cascade recompute
        if initial_components is not None:
            comp = (
                prop.verts.join(
                    initial_components.select("id", F.col("comp").alias("c0")),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("c0", F.col("id")).alias("comp"))
                .localCheckpoint(eager=True)
            )
        else:
            comp = (
                prop.verts
                .select("id", F.col("id").alias("comp"))
                .localCheckpoint(eager=True)
            )
        # frontier: vertices whose label may still shrink (all, initially)
        frontier = comp
        it = 0
        while it < max_iter:
            # phase 1 — hash-min: candidate labels flowing over edges out
            # of the frontier (vertex-sized exchange; edges stay put),
            # checkpointed so the phase-2 self-join below reads it once
            # instead of recomputing the edge join on both sides
            m1 = (
                comp.join(step(frontier, F.min("comp")), "id", "left")
                .select(
                    "id",
                    F.col("comp").alias("old"),
                    F.least(
                        F.col("comp"), F.coalesce("s", F.col("comp"))
                    ).alias("c1"),
                )
                .localCheckpoint(eager=True)
            )
            # phase 2 — pointer jump: comp(u) ← comp(comp(u)). Labels are
            # vertex ids, so the lookup always resolves; labels only ever
            # decrease, so coalesce+direct assignment is the full least().
            lut = m1.select(F.col("id").alias("c1"), F.col("c1").alias("_c2"))
            merged = (
                m1.join(lut, "c1", "left")
                .select(
                    "id",
                    F.coalesce("_c2", "c1").alias("comp"),
                    (F.coalesce("_c2", "c1") < F.col("old")).alias("changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = merged.where("changed").count()
            comp = merged.select("id", "comp")
            frontier = merged.where("changed").select("id", "comp")
            it += 1
            if changed == 0:
                break
    return ComponentsResult(comp, it)
