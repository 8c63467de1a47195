"""Synchronous weighted label propagation (north-rule companion).

Semantics = oracle.simple.label_propagation_seq (exact-match target):
each round, every vertex takes the label with max total incident edge
weight among neighbors (self-loops ignored), tie-break min label,
isolated vertices keep their own. Structurally this is Louvain's
community scan (louvain.hxx:405-438) with ΔQ replaced by weight-count
argmax — one join + one two-level aggregation per round, all Catalyst:

    edges ⋈ labels(dst) → groupBy(src, label).sum(w)
          → max_by(struct) per src with deterministic tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .serial import collect_bounded, edge_csr
from .transforms import vertices


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id long, label long)
    iterations: int


def _labelprop_local(
    edges: DataFrame, bound: int, max_iter: int
) -> LabelPropResult | None:
    """Serial finish (operators/serial.py) under ``bound`` directed
    edges. The round body is the exact transcription of the distributed
    round (per-src Σw by neighbor label, argmax with (max wt, min label)
    tie-break, isolated vertices keep their own label), so per-round
    label states, the final frame, and the iteration count are identical
    to the distributed path's (pinned by
    tests/test_components_fastpath.py). Weight sums associate in a
    different order than Spark's partial aggregates — indistinguishable
    whenever weight sums are exact (integer-valued w, as everywhere in
    the engine's query surface), the same precondition the distributed
    path already needs for stable cross-run results.

    Returns None above the bound or on an empty graph.
    """
    import numpy as np
    import pandas as pd

    from ..oracle._cmove import labelprop_rounds_c

    arrs = collect_bounded(edges, ["src", "dst", "w"], bound)
    if arrs is None or len(arrs[0]) == 0:
        return None
    # self-loops ignored (matches the e filter)
    g = edge_csr(*arrs, drop_loops=True)
    ids, sp, dp, w = g.ids, g.src, g.dst, g.w
    lab = np.arange(len(ids), dtype=np.int64)  # label positions == value order
    # native rounds (oracle/_cmove.py labelprop_rounds): each
    # synchronous round is a single O(E) stamp-walk over the CSR
    it = labelprop_rounds_c(g.indptr, dp, w, lab, max_iter)
    if it is None:
        it = _labelprop_rounds_numpy(sp, dp, w, lab, max_iter)
    out = pd.DataFrame({"id": ids, "label": ids[lab]})
    return LabelPropResult(
        edges.sparkSession.createDataFrame(out, "id long, label long"), it
    )


def _labelprop_rounds_numpy(sp, dp, w, lab, max_iter: int) -> int:
    """The numpy twin of the native rounds, for hosts without a C
    compiler: same rounds, same count, ``lab`` updated in place."""
    import numpy as np

    n = len(lab)
    it = 0
    while it < max_iter:
        # scored: Σw per (src, neighbor-label); key packs (sp, nl) so
        # one sort groups both levels with nl ascending within src —
        # the first max-wt group per src is then the (max wt, min
        # label) argmax, the distributed max_by tie-break
        key = sp * n + lab[dp]
        order = np.argsort(key, kind="stable")
        ks, ws = key[order], w[order]
        grp = np.empty(len(ks), dtype=bool)
        if len(ks):
            grp[0] = True
            np.not_equal(ks[1:], ks[:-1], out=grp[1:])
            starts = np.flatnonzero(grp)
            sums = np.add.reduceat(ws, starts)
            gsrc = ks[starts] // n
            gnl = ks[starts] % n
            seg = np.empty(len(gsrc), dtype=bool)
            seg[0] = True
            np.not_equal(gsrc[1:], gsrc[:-1], out=seg[1:])
            seg_starts = np.flatnonzero(seg)
            wmax = np.maximum.reduceat(sums, seg_starts)
            counts = np.diff(np.r_[seg_starts, len(gsrc)])
            is_max = sums == np.repeat(wmax, counts)
            posn = np.where(is_max, np.arange(len(sums)), len(sums))
            first = np.minimum.reduceat(posn, seg_starts)
            new = lab.copy()
            new[gsrc[seg_starts]] = gnl[first]
        else:
            new = lab.copy()
        it += 1
        if bool(np.array_equal(new, lab)):
            break
        lab[:] = new
    return it


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    broadcast_vertices: int = 5_000_000,
    debug_plans: list | None = None,
    small_graph_edges: int = 4_000_000,
) -> LabelPropResult:
    # Two regimes, same answer (gate mirrors Louvain's broadcast_vertices):
    #
    # - V ≤ broadcast_vertices: partition the static edge table on the
    #   AGGREGATION key (src) and BROADCAST the vertex-sized labels
    #   frame into the dst join. The round is then exchange-FREE: the
    #   broadcast join preserves e's src partitioning, which satisfies
    #   both groupBy(src, nl) and groupBy(src) downstream — without the
    #   broadcast, the post-join groupBy(src, nl) re-shuffles the
    #   edge-sized scored table every round (map-side combine can't
    #   collapse it while neighbor labels are still diverse).
    # - V > broadcast_vertices (the 100 TB regime): labels can't ship
    #   to every executor; partition e on the JOIN key (dst) so the
    #   per-round exchange is the vertex-sized labels frame plus the
    #   map-side-combined scored aggregate.
    #
    # Before either: the measured-optimal serial finish under the same
    # edge bound as louvain.py (debug_plans forces the distributed
    # rounds — that hook exists to pin their plan shape).
    if debug_plans is None and small_graph_edges > 0:
        local = _labelprop_local(edges, small_graph_edges, max_iter)
        if local is not None:
            return local
    verts = vertices(edges)
    use_bc = verts.count() <= broadcast_vertices
    e = (
        edges.select("src", "dst", "w")
        .where(F.col("src") != F.col("dst"))
        .repartition("src" if use_bc else "dst")
        .persist()
    )
    # eager localCheckpoint per round: truncates lineage AND avoids the
    # unpersist-cascade (unpersisting a parent invalidates caches built
    # on it, which silently re-runs the whole chain on later rounds)
    labels = (
        verts
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    it = 0
    while it < max_iter:
        nbr = labels.select(
            F.col("id").alias("dst"), F.col("label").alias("nl")
        )
        scored = (
            e.join(F.broadcast(nbr) if use_bc else nbr, "dst")
            .groupBy("src", "nl")
            .agg(F.sum("w").alias("wt"))
        )
        # argmax with (max wt, min label) tie-break: max_by on a struct
        # ordered by (wt, -nl) — deterministic (reference-style first-max
        # made order-free, SURVEY §7.3 / louvain.hxx:454-464 analog)
        best = scored.groupBy(F.col("src").alias("id")).agg(
            F.max_by("nl", F.struct(F.col("wt"), (-F.col("nl")).alias("neg"))).alias("new_label")
        )
        if debug_plans is not None:
            # test hook: execute the round body standalone and record
            # its physical plan so the exchange-free property of the
            # broadcast regime stays pinned by pytest
            best.count()
            debug_plans.append(
                best._jdf.queryExecution().executedPlan().toString()
            )
        merged = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where("changed").count()
        labels = merged.select("id", "label")
        it += 1
        if changed == 0:
            break
    e.unpersist()
    return LabelPropResult(labels, it)
