"""Strongly connected components over the DIRECTED edge DataFrame.

The web link graph is directed, and its macro structure (Broder's
bow-tie: a giant SCC plus IN/OUT/tendril periphery) is defined by
strong connectivity — the undirected hash-min kernel in
operators/components.py cannot see it. This operator computes, for
every vertex, ``scc = min vertex id in its strongly connected
component`` (the same canonical-label contract as connected
components), exactly.

Algorithm — forward/backward min-closure partition refinement (the
distributed FW-BW / "coloring" family, e.g. Orzan 2004, Slota et al.
2014, re-expressed as DataFrame rounds):

  repeat until every vertex is settled:
    f(v) = min id reachable FROM v  (incl. v), within active edges
    b(v) = min id that REACHES v    (incl. v), within active edges
    settle v where f(v) == b(v): v and m=f(v) reach each other, so
      v ∈ SCC(m); every u ∈ SCC(v) shares v's closure sets, so the
      settled group with witness m is EXACTLY SCC(m) and m is its
      minimum (f(v) ≤ min SCC(v) ≤ m = f(v)).
    restrict edges to endpoints with IDENTICAL (f, b) signatures:
      mutual reachability implies equal signatures, so no SCC is ever
      split across classes — the refinement is sound — while any
      class holding >1 SCC has differing signatures somewhere along
      its condensation order and therefore splits.

Outer-round bound: a DAG with all-distinct signatures settles in ONE
extra round (each class loses all its edges, so f=b=self), and in
general rounds scale with the depth of *equal-signature nesting*, not
the condensation depth — single-digit rounds on web-shaped graphs.
Inner min-closure rounds are bounded by the directed diameter of the
active class subgraphs (no pointer-jumping shortcut exists for
directed reachability without squaring the edge set); web graphs keep
this small, and ``max_iter`` fails loudly rather than returning an
unconverged labeling.

Scale notes:
- two min steps of operators/propagate.py per outer round, forward
  (toward src) and backward (toward dst), each over a table of the
  round's active edges laid out by that module's one rule and released
  before the next round. Each closure round is ONE join + ONE
  map-side-combined min-aggregate; only the changed-label frontier
  (vertex-sized) moves.
- the active graph SHRINKS monotonically: settled vertices and
  cross-class edges drop out each outer round, so later rounds touch
  the residual periphery only — on bow-tie graphs the giant SCC
  settles in round 1 and the tail rounds are tendril-sized.
- every label frame is eagerly localCheckpoint-ed per round: O(1)
  plan depth per iteration (no lineage blowup across the fixpoint).

Reference parity note: the reference (louvain-communities-openmp) has
no SCC kernel; this is a mandated-companion-style addition for
directed link-graph analytics over the same edge model (the north
rule's connected-components companion, extended to the directed
semantics a Common-Crawl host graph actually has).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .propagate import Propagation, Step
from .transforms import vertices


@dataclass
class SCCResult:
    components: DataFrame  # (id long, scc long)
    outer_rounds: int
    closure_rounds: int  # total inner min-closure rounds across both directions


def _min_closure(
    labels: DataFrame, step: Step, max_rounds: int
) -> tuple[DataFrame, int]:
    """Fixpoint of label(v) <- min(label(v), label(u)) over the edges
    of ``step`` read toward v: the min step, frontier by frontier.

    ``labels`` is (id, lab) with lab == id initially. Returns the
    converged labels and the round count; raises if ``max_rounds`` is
    hit while still changing.
    """
    lab = labels.localCheckpoint(eager=True)
    frontier = lab
    rounds = 0
    while True:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"scc min-closure did not converge in {max_rounds} rounds"
            )
        merged = (
            lab.join(step(frontier, F.min("lab")), "id", "left")
            .select(
                "id",
                F.least(F.col("lab"), F.coalesce("s", "lab")).alias("lab"),
                (F.coalesce("s", F.col("lab")) < F.col("lab")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        rounds += 1
        changed = merged.where("changed").count()
        lab = merged.select("id", "lab")
        frontier = merged.where("changed").select("id", "lab")
        if changed == 0:
            return lab, rounds


def strongly_connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    max_outer: int = 64,
) -> SCCResult:
    """Exact SCC labels (id, scc) with scc = min vertex id per SCC.

    ``edges`` is the DIRECTED (src, dst[, w]) frame; direction is
    semantic here — do NOT symmetricize first (that would compute
    plain connected components).
    """
    with Propagation(vertices(edges)) as prop:
        active_v = prop.verts.localCheckpoint(eager=True)
        active_e = (
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        settled = None
        outer = 0
        closure_rounds = 0
        while active_v.limit(1).count() > 0:
            if outer >= max_outer:
                raise RuntimeError(
                    f"scc refinement did not settle in {max_outer} outer rounds"
                )
            # forward: label flows src <- dst (min id reachable from v);
            # backward: label flows dst <- src (min id reaching v). The
            # two tables hold this round's active edges only, so they
            # are released before the next round lays out its own.
            fwd = prop.step(active_e, to="src")
            bwd = prop.step(active_e, to="dst")
            init = active_v.select("id", F.col("id").alias("lab"))
            f, rf = _min_closure(init, fwd, max_iter)
            b, rb = _min_closure(init, bwd, max_iter)
            prop.release(fwd.table, bwd.table)
            closure_rounds += rf + rb
            sig = (
                f.select("id", F.col("lab").alias("f"))
                .join(b.select("id", F.col("lab").alias("b")), "id")
                .localCheckpoint(eager=True)
            )
            done = sig.where(F.col("f") == F.col("b")).select(
                "id", F.col("f").alias("scc")
            )
            settled = (
                done if settled is None else settled.unionByName(done)
            ).localCheckpoint(eager=True)
            active_v = (
                sig.where(F.col("f") != F.col("b"))
                .select("id")
                .localCheckpoint(eager=True)
            )
            # keep only same-signature edges between unsettled endpoints
            s_src = sig.select(
                F.col("id").alias("src"),
                F.col("f").alias("fs"),
                F.col("b").alias("bs"),
            )
            s_dst = sig.select(
                F.col("id").alias("dst"),
                F.col("f").alias("fd"),
                F.col("b").alias("bd"),
            )
            active_e = (
                active_e.join(prop.ship(s_src), "src")
                .join(prop.ship(s_dst), "dst")
                .where(
                    (F.col("fs") == F.col("fd"))
                    & (F.col("bs") == F.col("bd"))
                    & (F.col("fs") != F.col("bs"))
                )
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            outer += 1
        if settled is None:  # edgeless input: no vertices at all
            settled = prop.verts.select("id", F.col("id").alias("scc")).where(F.lit(False))
    return SCCResult(settled, outer, closure_rounds)


def condensation(edges: DataFrame, components: DataFrame) -> DataFrame:
    """Condensation DAG: one edge per ordered pair of DISTINCT SCCs,
    weighted by the number of underlying directed edges. Returns
    (scc_src, scc_dst, n_edges) — the bow-tie macro map.

    Plan: two vertex-sized label joins (broadcast-able under the same
    gate as the kernel) + one map-side-combined count.
    """
    lab_s = components.select(
        F.col("id").alias("src"), F.col("scc").alias("scc_src")
    )
    lab_d = components.select(
        F.col("id").alias("dst"), F.col("scc").alias("scc_dst")
    )
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .join(lab_s, "src")
        .join(lab_d, "dst")
        .where(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count("*").alias("n_edges"))
    )


def _reachable_set(seed: DataFrame, step: Step, max_rounds: int = 200) -> DataFrame:
    """Vertices with a path to the seed set along the edges of ``step``
    read toward its ``to`` endpoint — frontier BFS with a visited set,
    the directed sibling of operators/bfs.py; only the (shrinking)
    frontier moves per round. Returns a one-column (id) frame including
    the seed itself."""
    visited = seed.select("id").distinct().localCheckpoint(eager=True)
    frontier = visited
    rounds = 0
    while True:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"reachability did not converge in {max_rounds} rounds"
            )
        new = (
            step(frontier)
            .join(visited, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        rounds += 1
        if new.limit(1).count() == 0:
            return visited
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new


def bowtie_classes(
    edges: DataFrame,
    components: DataFrame | None = None,
) -> DataFrame:
    """Broder bow-tie macro-structure of a directed graph
    (Broder et al. 2000, "Graph structure in the web"): every vertex
    is classified against the LARGEST SCC (ties: min canonical label):

      CORE — in the giant SCC;
      IN   — reaches CORE but is not reachable from it;
      OUT  — reachable from CORE but does not reach it;
      OTHER — tendrils/tubes/disconnected (neither direction).

    (A non-CORE vertex with BOTH directions would be in the SCC, so
    the four classes partition V.) Returns (id, cls string).

    Plan: the SCC kernel (if labels not supplied) + two frontier BFS
    sweeps seeded at CORE — forward over reversed edges marks
    reached-from-core, backward over original edges marks
    reaches-core — then one vertex-sized CASE join. Both sweeps move
    only frontier rows; the giant-SCC seed makes them shallow on
    web-shaped graphs (periphery depth, not diameter).
    """
    if components is None:
        components = strongly_connected_components(edges).components
    with Propagation(components.localCheckpoint(eager=True)) as prop:
        comp = prop.verts
        core_lab = (
            comp.groupBy("scc")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("scc").asc())
            .limit(1)
            .collect()[0]["scc"]
        )
        core = comp.where(F.col("scc") == F.lit(core_lab)).select("id")
        # reaches-core: src learns from dst; reached-from-core: dst
        # learns from src
        up = prop.step(edges, to="src", loops=False)
        dn = prop.step(edges, to="dst", loops=False)
        reaches = _reachable_set(core, up).select("id", F.lit(1).alias("up"))
        reached = _reachable_set(core, dn).select("id", F.lit(1).alias("dn"))
        return (
            comp.join(prop.ship(reaches), "id", "left")
            .join(prop.ship(reached), "id", "left")
            .select(
                "id",
                F.when(F.col("scc") == F.lit(core_lab), F.lit("CORE"))
                .when(F.col("up").isNotNull(), F.lit("IN"))
                .when(F.col("dn").isNotNull(), F.lit("OUT"))
                .otherwise(F.lit("OTHER"))
                .alias("cls"),
            )
        )
