"""The weighted propagation step x ↦ Σ w·x of the PageRank family.

PageRank (its four variants), HITS, SALSA, Katz, absorption counts and
the eigenvector power step each iterate one recurrence whose only
edge-sized work is, per round,

    s(v) = Σ_{u→v} w(u,v)·x(u)    (toward dst), or
    s(u) = Σ_{u→v} w(u,v)·x(v)    (toward src),

over a static edge table that never changes between rounds — the
"sorted/bucketed once" table of the survey's CSR analog (PAPER.md
§1.1). This module lays that table out, persists it, runs the step
and releases the table; the operators keep only their vertex set,
per-vertex update, normalization and rounding.

Layout, by Louvain's gate (``serial.BROADCAST_VERTICES``, read at call
time), the same answer in both regimes:

- V ≤ gate: the table is partitioned on the AGGREGATION key and the
  vertex-sized x is broadcast into the join on the other endpoint. The
  broadcast join keeps the table's partitioning, which satisfies the
  aggregate's distribution, so a round moves no edge row.
- V > gate: x cannot ship to every executor; the table is partitioned
  on the JOIN key, so a round shuffles only x and the map-side-combined
  partial sums.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import serial


class Step:
    """x ↦ Σ w·x toward ``to`` ("dst" or "src") over one persisted
    edge table (src, dst, w)."""

    def __init__(self, edges: DataFrame, w: Column, to: str, use_bc: bool):
        self.to = to
        self.frm = "src" if to == "dst" else "dst"
        self.use_bc = use_bc
        self.table = (
            edges.select("src", "dst", w.alias("w"))
            .repartition(to if use_bc else self.frm)
            .persist()
        )

    def __call__(self, x: DataFrame, col: str) -> DataFrame:
        """(id, s): Σ w·x[col] over the edges into each ``to`` endpoint;
        a vertex no edge reaches has no row."""
        xs = x.select(F.col("id").alias(self.frm), col)
        return (
            self.table.join(F.broadcast(xs) if self.use_bc else xs, self.frm)
            .groupBy(F.col(self.to).alias("id"))
            .agg(F.sum(F.col("w") * F.col(col)).alias("s"))
        )


class Propagation:
    """One operator call's cached frames: its vertex set (``verts``,
    with ``n`` rows, persisted) and the tables of its steps. Use as a
    ``with`` block, which releases every frame on every exit, raises
    included."""

    def __init__(self, verts: DataFrame):
        self._cached: list[DataFrame] = []
        self.verts = self.cache(verts)

    def __enter__(self) -> Propagation:
        return self

    def __exit__(self, *exc) -> None:
        for df in self._cached:
            df.unpersist()

    @cached_property
    def n(self) -> int:
        return self.verts.count()

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the block exits."""
        self._cached.append(df.persist())
        return df

    def step(self, edges: DataFrame, w: Column, to: str = "dst") -> Step:
        """The step over ``edges`` weighted by ``w``, toward ``to``, in
        the regime of this vertex count."""
        s = Step(edges, w, to, self.n <= serial.BROADCAST_VERTICES)
        self._cached.append(s.table)
        return s
