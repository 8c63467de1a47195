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

from . import serial
from .propagate import Propagation, Step
from .transforms import vertices


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id long, label long)
    iterations: int


def _labelprop_local(edges: DataFrame, max_iter: int) -> LabelPropResult | None:
    """Serial finish (operators/serial.py) under ``serial.SERIAL_EDGES``
    directed edges, over the resident graph with self-loops masked out.
    The round body is the exact transcription of the distributed round
    (per-src Σw by neighbor label, argmax with (max wt, min label)
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

    g = serial.local_graph(edges, serial.SERIAL_EDGES)
    if g is None or len(g.src) == 0:
        return None
    # self-loops ignored (matches the e filter); the kept rows stay in
    # (src, dst, w) order, so only the row offsets change
    keep = g.src != g.dst
    ids, sp, dp, w = g.ids, g.src[keep], g.dst[keep], g.w[keep]
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(sp, minlength=len(ids)), out=indptr[1:])
    lab = np.arange(len(ids), dtype=np.int64)  # label positions == value order
    # native rounds (oracle/_cmove.py labelprop_rounds): each
    # synchronous round is a single O(E) stamp-walk over the CSR
    it = labelprop_rounds_c(indptr, dp, w, lab, max_iter)
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


def _best_labels(step: Step, labels: DataFrame) -> DataFrame:
    """One synchronous round's new labels (id, new_label) for every
    vertex with a non-loop out-edge in the table of ``step``, toward
    src: the step's joined rows grouped by (src, neighbor label), then
    by src. Both groupings include the step's aggregation key, so the
    table's layout (operators/propagate.py) satisfies them."""
    scored = (
        step.joined(labels.select("id", F.col("label").alias("nl")))
        .groupBy("src", "nl")
        .agg(F.sum("w").alias("wt"))
    )
    # argmax with (max wt, min label) tie-break: max_by on a struct
    # ordered by (wt, -nl) — deterministic (reference-style first-max
    # made order-free, SURVEY §7.3 / louvain.hxx:454-464 analog)
    return scored.groupBy(F.col("src").alias("id")).agg(
        F.max_by("nl", F.struct(F.col("wt"), (-F.col("nl")).alias("neg"))).alias("new_label")
    )


def label_propagation(edges: DataFrame, max_iter: int = 10) -> LabelPropResult:
    # the measured-optimal serial finish under the same edge bound as
    # louvain.py (operators/serial.py); above it, rounds over the step
    # of operators/propagate.py, whose docstring gives the edge table's
    # layout in both regimes (pinned by tests/test_companions.py)
    local = _labelprop_local(edges, max_iter)
    if local is not None:
        return local
    with Propagation(vertices(edges)) as prop:
        step = prop.step(edges, F.col("w"), to="src", loops=False)
        # eager localCheckpoint per round: truncates lineage AND avoids
        # the unpersist-cascade (unpersisting a parent invalidates caches
        # built on it, which silently re-runs the whole chain on later
        # rounds)
        labels = (
            prop.verts
            .select("id", F.col("id").alias("label"))
            .localCheckpoint(eager=True)
        )
        it = 0
        while it < max_iter:
            merged = (
                labels.join(_best_labels(step, labels), "id", "left")
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
    return LabelPropResult(labels, it)
