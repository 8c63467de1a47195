"""HITS (hubs & authorities) over the edge DataFrame.

Kleinberg's mutual-reinforcement fixpoint, fixed-iteration and
L1-normalized so it is expressible as unrolled ANSI SQL for the
cross-engine gate (same verification strategy as pagerank_fixed):

    h_{t+1}(u) = Σ_{u→v} w(u,v) · a_t(v)     then h /= Σ h
    a_{t+1}(v) = Σ_{u→v} w(u,v) · h_{t+1}(u) then a /= Σ a

Scale notes: HITS alternates aggregation directions, so it runs two
steps of operators/propagate.py, one toward src (hub) and one toward
dst (authority), each over its own static edge table laid out for its
direction and regime. Each half-step is ONE join + ONE map-side-
combined aggregate with the vertex-sized score frame the only thing
that moves under the broadcast gate, plus one scalar aggregate for
the normalization. SALSA (webstructure.py) runs the same alternation
over its own weights.

Reference parity note: the reference (louvain-communities-openmp) has
no HITS; this is a mandated-companion-style addition for link-graph
analytics over the same edge model (main.cxx's graph loading feeds
any vertex-scoring kernel the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .propagate import Propagation, Step
from .transforms import vertices


def hubs_authorities(prop: Propagation, hub: Step, authority: Step, iters: int) -> DataFrame:
    """``iters`` rounds of hub ← hub(authority), then authority ←
    authority(hub), each L1-normalized over the vertex set of ``prop``,
    from a uniform authority vector. Returns (id, hub, authority)
    rounded to 7dp, read from local checkpoints; no rows on an empty
    graph."""
    if prop.n == 0:
        return prop.verts.sparkSession.createDataFrame(
            [], "id long, hub double, authority double"
        )
    scores = {"authority": prop.verts.select("id", F.lit(1.0 / prop.n).alias("authority"))}
    for _ in range(iters):
        for name, step, x in (("hub", hub, "authority"), ("authority", authority, "hub")):
            raw = step(scores[x], F.sum(F.col("w") * F.col(x)))
            total = raw.agg(F.sum("s")).first()[0] or 1.0
            scores[name] = (
                prop.verts.join(raw, "id", "left")
                .select("id", (F.coalesce("s", F.lit(0.0)) / F.lit(float(total))).alias(name))
                .localCheckpoint(eager=True)
            )
    return scores["hub"].join(scores["authority"], "id").select(
        "id",
        F.round("hub", 7).alias("hub"),
        F.round("authority", 7).alias("authority"),
    )


def check_iters(iters: int) -> None:
    """Reject an ``iters`` under one round, before anything is cached:
    the hub scores exist only after a round."""
    if iters < 1:
        raise ValueError(f"iters must be at least 1, got {iters}")


def hits_fixed(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-iteration HITS. Returns (id, hub, authority) rounded to
    7dp; vertices with no out-edges have hub 0 after one step (resp.
    in-edges / authority). An empty graph gives no rows; ``iters`` < 1
    raises ValueError."""
    check_iters(iters)
    with Propagation(vertices(edges)) as prop:
        w = F.col("w")
        return hubs_authorities(prop, prop.step(edges, w, "src"), prop.step(edges, w, "dst"), iters)
