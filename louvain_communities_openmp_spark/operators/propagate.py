"""The one round step of the iterative operators, and the frames an
operator call caches.

The PageRank family (its four variants, HITS, SALSA, Katz, absorption
counts, the eigenvector power step), connected components, label
propagation, MIS, SCC and bow-tie reachability each iterate a round
whose only edge-sized work is one join of a vertex-sized frame x into
a static edge table and one aggregate toward the other endpoint,

    s(v) = agg_{u→v} (w(u,v), x(u))    (toward dst), or
    s(u) = agg_{u→v} (w(u,v), x(v))    (toward src),

where the caller names the aggregate: Σ w·x for the PageRank family,
min for components' hash-min, SCC's closures and MIS's neighbor
minimum, the reached endpoints themselves for bow-tie's reachability
and MIS's exclusion. Label propagation groups the joined rows itself,
by (endpoint, label) and then by endpoint. The table never changes
between rounds — the "sorted/bucketed once" table of the survey's CSR
analog (PAPER.md §1.1). This module lays it out, persists it, runs the
join and releases it; the operators keep only their vertex set,
aggregate and per-vertex update.

Layout, by Louvain's gate (``serial.BROADCAST_VERTICES``, read at call
time), the same answer in both regimes:

- V ≤ gate: the table is partitioned on the AGGREGATION key and the
  vertex-sized x is broadcast into the join on the other endpoint. The
  broadcast join keeps the table's partitioning, which satisfies any
  grouping whose keys include the aggregation key, so a round moves no
  edge row.
- V > gate: x cannot ship to every executor; the table is partitioned
  on the JOIN key, so a round shuffles only x and the map-side-combined
  partial aggregates.

Caches: Spark caches by plan, so a frame equal to one the caller
persisted reads the caller's entry, and unpersisting it would drop the
caller's entry. ``Propagation`` therefore persists a frame only when
Spark holds no entry for its plan, and releases only what it persisted,
on every exit.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import serial


class Step:
    """One static edge table (src, dst[, w]) and its round: x joined on
    the ``frm`` endpoint, grouped toward ``to`` ("dst" or "src")."""

    def __init__(self, edges: DataFrame, w: Column | None, to: str, use_bc: bool, loops: bool):
        self.to = to
        self.frm = "src" if to == "dst" else "dst"
        self.use_bc = use_bc
        table = edges.select("src", "dst", *([] if w is None else [w.alias("w")]))
        if not loops:
            table = table.where(F.col("src") != F.col("dst"))
        self.table = table.repartition(to if use_bc else self.frm)

    def joined(self, x: DataFrame) -> DataFrame:
        """The table's rows with the columns of x, whose ``id`` is
        matched to the ``frm`` endpoint; a row whose ``frm`` endpoint
        has no row in x drops."""
        xs = x.withColumnRenamed("id", self.frm)
        return self.table.join(F.broadcast(xs) if self.use_bc else xs, self.frm)

    def __call__(self, x: DataFrame, agg: Column | None = None) -> DataFrame:
        """(id, s): ``agg`` over the joined rows of each ``to`` endpoint;
        with no ``agg``, (id) of the endpoints reached. A vertex no row
        reaches has no row."""
        rows = self.joined(x)
        if agg is None:
            return rows.select(F.col(self.to).alias("id")).distinct()
        return rows.groupBy(F.col(self.to).alias("id")).agg(agg.alias("s"))


class Propagation:
    """One operator call's cached frames: its vertex set (``verts``,
    with ``n`` rows) and the tables of its steps. Use as a ``with``
    block, which releases what it persisted on every exit, raises
    included."""

    def __init__(self, verts: DataFrame):
        self._owned: list[DataFrame] = []
        self.verts = self.cache(verts)

    def __enter__(self) -> Propagation:
        return self

    def __exit__(self, *exc) -> None:
        self.release(*self._owned)

    @cached_property
    def n(self) -> int:
        return self.verts.count()

    @cached_property
    def broadcast(self) -> bool:
        """Whether this vertex count ships whole to every executor."""
        return self.n <= serial.BROADCAST_VERTICES

    def ship(self, x: DataFrame) -> DataFrame:
        """The vertex-sized ``x`` for a join: broadcast under the gate."""
        return F.broadcast(x) if self.broadcast else x

    def cache(self, df: DataFrame) -> DataFrame:
        """``df``, persisted until the block exits or releases it, unless
        Spark already holds an entry for its plan."""
        if serial.cache_key(df) is None:
            self._owned.append(df.persist())
        return df

    def release(self, *dfs: DataFrame) -> None:
        """Unpersist those of ``dfs`` this block persisted."""
        for df in dfs:
            if any(o is df for o in self._owned):
                self._owned = [o for o in self._owned if o is not df]
                df.unpersist()

    def step(
        self, edges: DataFrame, w: Column | None = None, to: str = "dst", loops: bool = True
    ) -> Step:
        """The step over ``edges`` (weighted by ``w``, if given; without
        self-loops unless ``loops``) toward ``to``, in the regime of
        this vertex count."""
        s = Step(edges, w, to, self.broadcast, loops)
        self.cache(s.table)
        return s
