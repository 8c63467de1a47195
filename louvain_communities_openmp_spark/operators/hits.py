"""HITS (hubs & authorities) over the edge DataFrame.

Kleinberg's mutual-reinforcement fixpoint, fixed-iteration and
L1-normalized so it is expressible as unrolled ANSI SQL for the
cross-engine gate (same verification strategy as pagerank_fixed):

    h_{t+1}(u) = Σ_{u→v} w(u,v) · a_t(v)     then h /= Σ h
    a_{t+1}(v) = Σ_{u→v} w(u,v) · h_{t+1}(u) then a /= Σ a

Scale notes (the pagerank.py two-regime pattern, applied twice per
iteration because HITS alternates aggregation directions):
- TWO static copies of the edge table, one partitioned on src (the
  hub aggregation key) and one on dst (the authority aggregation
  key), both persisted once — each half-step is then ONE join + ONE
  map-side-combined aggregate over a table already partitioned on its
  aggregation key, with the vertex-sized score frame the only thing
  that moves (broadcast under the 5M gate).
- hub dsts/srcs pre-reduce in the partial HashAggregate; AQE covers
  the join side.

Reference parity note: the reference (louvain-communities-openmp) has
no HITS; this is a mandated-companion-style addition for link-graph
analytics over the same edge model (main.cxx's graph loading feeds
any vertex-scoring kernel the same way).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import serial
from .transforms import vertices


@dataclass
class HitsResult:
    scores: DataFrame  # (id long, hub double, authority double)
    iterations: int


def hits_fixed(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-iteration HITS. Returns (id, hub, authority) rounded to
    7dp; vertices with no out-edges have hub 0 after one step (resp.
    in-edges / authority)."""
    verts = vertices(edges).persist()
    n = verts.count()
    use_bc = n <= serial.BROADCAST_VERTICES
    # e_src: partitioned on src = the HUB aggregation key;
    # e_dst: partitioned on dst = the AUTHORITY aggregation key
    e_src = edges.select("src", "dst", "w").repartition("src").persist()
    e_dst = edges.select("src", "dst", "w").repartition("dst").persist()
    e_src.count(), e_dst.count()

    def _bc(df):
        return F.broadcast(df) if use_bc else df

    auth = verts.select("id", F.lit(1.0 / n).alias("authority"))
    hub = None
    for _ in range(iters):
        av = auth.select(F.col("id").alias("dst"), "authority")
        hraw = (
            e_src.join(_bc(av), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("w") * F.col("authority")).alias("s"))
        )
        hsum = hraw.agg(F.sum("s")).first()[0] or 1.0
        hub = (
            verts.join(hraw, "id", "left")
            .select(
                "id",
                (F.coalesce("s", F.lit(0.0)) / F.lit(float(hsum))).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
        hv = hub.select(F.col("id").alias("src"), "hub")
        araw = (
            e_dst.join(_bc(hv), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("hub")).alias("s"))
        )
        asum = araw.agg(F.sum("s")).first()[0] or 1.0
        auth = (
            verts.join(araw, "id", "left")
            .select(
                "id",
                (F.coalesce("s", F.lit(0.0)) / F.lit(float(asum))).alias(
                    "authority"
                ),
            )
            .localCheckpoint(eager=True)
        )
    out = hub.join(auth, "id").select(
        "id",
        F.round("hub", 7).alias("hub"),
        F.round("authority", 7).alias("authority"),
    )
    e_src.unpersist()
    e_dst.unpersist()
    verts.unpersist()
    return out
