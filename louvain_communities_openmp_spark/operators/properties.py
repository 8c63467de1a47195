"""Graph aggregations & the modularity kernel (SURVEY.md §2.3-2.4).

Everything here is a declarative aggregation plan: partial+final
HashAggregate with map-side combine (which is what makes the hub-skewed
groupBys safe at scale — the hot key is pre-reduced per task before the
shuffle, the distributed analog of the reference's per-thread
hashtables, louvain.hxx:159-181).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.louvain_seq import modularity_arrays


def edge_weight(edges: DataFrame) -> float:
    """Σw over the digraph. → properties.hxx:69-106 (edgeWeight)."""
    row = edges.agg(F.sum("w").alias("s")).collect()[0]
    return float(row["s"] or 0.0)


def total_weight_m(edges: DataFrame) -> float:
    """M = edgeWeight/2. → main.cxx:67, louvain.hxx:1131."""
    return edge_weight(edges) / 2.0


def vertex_weights(edges: DataFrame) -> DataFrame:
    """vtot: Σ out-edge weight per vertex, self-loops included.
    → louvain.hxx:193-218 (louvainVertexWeightsW)."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("vtot"))


def community_weights(membership: DataFrame, vtot: DataFrame) -> DataFrame:
    """ctot: Σ vtot per community. → louvain.hxx:229-257."""
    return (
        vtot.join(membership, "id")
        .groupBy("com")
        .agg(F.sum("vtot").alias("ctot"))
    )


def community_total_degree(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Σ out-degree per community: (com, total_degree).
    → louvain.hxx:694-723 (louvainCommunityTotalDegreeW). Two map-side
    combined aggregations; the degree frame is vertex-sized so the
    membership join broadcasts at any realistic community count."""
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return (
        deg.join(membership, "id")
        .groupBy("com")
        .agg(F.sum("deg").alias("total_degree"))
    )


def community_sizes(membership: DataFrame) -> DataFrame:
    """→ louvain.hxx:734-763 / properties.hxx:269-300."""
    return membership.groupBy("com").agg(F.count("*").alias("size"))


def community_count(membership: DataFrame) -> int:
    """→ louvain.hxx:646-683 (louvainCommunityExistsW). Exact count."""
    return membership.select("com").distinct().count()


def _modularity_resident(g, membership: DataFrame, resolution: float, m: float | None) -> float | None:
    """``modularity`` over the resident graph ``g`` of the edge frame
    (operators/serial.py), or None when the membership is over
    ``serial.BROADCAST_VERTICES`` rows or repeats an id (the plan's
    joins would then count an edge once per pair of matches)."""
    import numpy as np

    from . import serial

    arrs = serial.vertex_columns(membership, ["id", "com"], serial.BROADCAST_VERTICES)
    if arrs is None:
        return None
    mid, mcom = arrs
    if len(np.unique(mid)) != len(mid):
        return None
    # the plan's inner joins: an edge whose src or dst has no
    # membership row drops out
    n = len(g.ids)
    pos = np.minimum(np.searchsorted(g.ids, mid), max(n - 1, 0))
    hit = (g.ids[pos] == mid) if n else np.zeros(len(mid), dtype=bool)
    has = np.zeros(n, dtype=bool)
    has[pos[hit]] = True
    com = np.zeros(n, dtype=np.int64)
    com[pos[hit]] = mcom[hit]
    keep = has[g.src] & has[g.dst]
    return modularity_arrays(g.src[keep], g.dst[keep], g.w[keep], com, resolution, m)


def modularity(
    edges: DataFrame,
    membership: DataFrame,
    resolution: float = 1.0,
    m: float | None = None,
) -> float:
    """Q = Σ_c [cin_c/(2M) − R·(ctot_c/(2M))²].

    → properties.hxx:177-233 (modularityBy) + 123-126
    (modularityCommunity). One declarative plan: edges ⋈ membership(src)
    ⋈ membership(dst) → per-community (cin, ctot) → closed-form sum.
    ``membership(id, com)`` must cover every vertex with out-edges.

    Partial membership: the joins are inner, so an edge whose src or
    dst has no membership row drops out of cin and ctot. Without an
    explicit ``m``, M is then the join-surviving weight (Σctot/2), not
    the full edge weight; pass ``m`` to score against the whole graph.

    When a driver-resident graph is held for ``edges``
    (serial.local_graph, e.g. after a serial Louvain finish), Q is
    ``modularity_arrays`` over it with the same semantics, and the only
    Spark job is the bounded membership collect, none when the
    membership carries its arrays (``serial.hold_columns``, e.g. a
    serial Louvain finish's). It never collects the edges itself.
    """
    from . import serial

    g = serial.held_graph(edges)
    if g is not None and g.w is not None:
        q = _modularity_resident(g, membership, resolution, m)
        if q is not None:
            return q
    ms = membership.select(F.col("id").alias("src"), F.col("com").alias("csrc"))
    md = membership.select(F.col("id").alias("dst"), F.col("com").alias("cdst"))
    per_com = (
        edges.join(ms, "src")
        .join(md, "dst")
        .groupBy("csrc")
        .agg(
            F.sum(F.when(F.col("csrc") == F.col("cdst"), F.col("w")).otherwise(0.0)).alias("cin"),
            F.sum("w").alias("ctot"),
        )
    )
    if m is None:
        # fold M into the same aggregate: M = Σ_c ctot_c / 2, so
        # Σcin, Σctot, Σctot² from ONE per-community pass replace the
        # separate edge-weight job + the closed-form job (q =
        # Σcin/(2M) − R·Σctot²/(2M)²; summation-order drift ~1e-15)
        row = per_com.agg(
            F.sum("cin").alias("sc"),
            F.sum("ctot").alias("st"),
            F.sum(F.col("ctot") * F.col("ctot")).alias("st2"),
        ).collect()[0]
        st = float(row["st"] or 0.0)
        if st <= 0.0:
            # Σctot = Σw = 2M: covers the m <= 0 early-return contract
            # (a zero/negative-total graph scores 0)
            return 0.0
        return float(
            float(row["sc"] or 0.0) / st
            - resolution * float(row["st2"] or 0.0) / (st * st)
        )
    if m <= 0:
        return 0.0
    two_m = 2.0 * m
    q = per_com.agg(
        F.sum(
            F.col("cin") / two_m
            - resolution * F.pow(F.col("ctot") / two_m, 2)
        ).alias("q")
    ).collect()[0]["q"]
    return float(q or 0.0)


def community_conductance(
    edges: DataFrame, membership: DataFrame
) -> DataFrame:
    """Per-community conductance φ(C) = cut(C) / min(vol(C), 2m−vol(C))
    (Kannan-Vempala-Vetta) — the partition-quality audit beyond
    modularity for a Louvain/Leiden result.

    Expects the mirrored directed edge table: vol(C) = Σ_{v∈C}
    weighted degree = Σ w over rows with src ∈ C; cut(C) = Σ w over
    rows with src ∈ C, dst ∉ C (each crossing undirected edge counted
    once per side). Plan: one membership double-join + ONE
    map-side-combined per-community aggregate + a broadcast of the
    1-row total — the same scan shape as modularity()'s per-community
    pass (reference analog properties.hxx:226-246). Communities with
    a zero denominator (empty or whole-graph volume) report φ = 0.

    Returns (com, vol_w, cut_w, conductance) with conductance rounded
    to 6 decimals (w is integer-valued, so the sums are exact and the
    rounding is engine-stable).
    """
    ms = membership.select(F.col("id").alias("src"), F.col("com").alias("cs"))
    md = membership.select(F.col("id").alias("dst"), F.col("com").alias("cd"))
    per = (
        edges.join(ms, "src")
        .join(md, "dst")
        .groupBy(F.col("cs").alias("com"))
        .agg(
            F.sum("w").alias("vol_w"),
            F.sum(
                F.when(F.col("cs") != F.col("cd"), F.col("w")).otherwise(0.0)
            ).alias("cut_w"),
        )
    )
    tot = per.agg(F.sum("vol_w").alias("two_m"))
    denom = F.least(F.col("vol_w"), F.col("two_m") - F.col("vol_w"))
    return per.crossJoin(F.broadcast(tot)).select(
        "com",
        "vol_w",
        "cut_w",
        F.round(
            F.when(denom > 0, F.col("cut_w") / denom).otherwise(F.lit(0.0)),
            6,
        ).alias("conductance"),
    )


def partition_similarity(a: DataFrame, b: DataFrame) -> DataFrame:
    """Agreement between two vertex partitions — the standard
    community-detection evaluation pair: symmetric NMI
    (2·MI/(H(A)+H(B)), natural log; 0 when either side is a single
    cluster) and the Adjusted Rand Index. `a` is (id, ca), `b` is
    (id, cb); compared over the INNER id intersection. Returns one row
    (n_items, n_a, n_b, nmi, ari) with the floats rounded to 7dp.

    Scale shape: ONE shuffle builds the contingency table
    groupBy(ca, cb) with map-side partial counts (hub clusters
    pre-reduce); the marginals are projections of that table, every
    subsequent frame is cluster-count-sized, and the scalar totals
    enter via broadcast cross joins — nothing vertex-sized leaves the
    executors after the first aggregation."""
    j = a.select("id", "ca").join(b.select("id", "cb"), "id")
    cont = j.groupBy("ca", "cb").agg(
        F.count("*").cast("double").alias("nij")
    ).persist()
    am = cont.groupBy("ca").agg(F.sum("nij").alias("ai"))
    bm = cont.groupBy("cb").agg(F.sum("nij").alias("bj"))
    tot = cont.agg(
        F.sum("nij").alias("n"),
        F.count("*").alias("cells"),
    )
    # entropies and pair-count sums are cluster-count-sized aggregates
    ha = am.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            -(F.col("ai") / F.col("n")) * F.log(F.col("ai") / F.col("n"))
        ).alias("h_a"),
        F.sum(F.col("ai") * (F.col("ai") - 1) / 2).alias("pairs_a"),
        F.count("*").alias("n_a"),
    )
    hb = bm.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            -(F.col("bj") / F.col("n")) * F.log(F.col("bj") / F.col("n"))
        ).alias("h_b"),
        F.sum(F.col("bj") * (F.col("bj") - 1) / 2).alias("pairs_b"),
        F.count("*").alias("n_b"),
    )
    mi = (
        cont.join(am, "ca")
        .join(bm, "cb")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("nij") / F.col("n"))
                * F.log(
                    F.col("n") * F.col("nij") / (F.col("ai") * F.col("bj"))
                )
            ).alias("mi"),
            F.sum(F.col("nij") * (F.col("nij") - 1) / 2).alias("pairs_ab"),
        )
    )
    r = (
        tot.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(mi))
    )
    total_pairs = F.col("n") * (F.col("n") - 1) / 2
    exp_pairs = F.col("pairs_a") * F.col("pairs_b") / total_pairs
    max_pairs = (F.col("pairs_a") + F.col("pairs_b")) / 2
    return r.select(
        F.col("n").cast("long").alias("n_items"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.when(
                F.col("h_a") + F.col("h_b") > 0,
                2.0 * F.col("mi") / (F.col("h_a") + F.col("h_b")),
            ).otherwise(F.lit(0.0)),
            7,
        ).alias("nmi"),
        F.round(
            F.when(
                max_pairs - exp_pairs != 0,
                (F.col("pairs_ab") - exp_pairs) / (max_pairs - exp_pairs),
            ).otherwise(F.lit(0.0)),
            7,
        ).alias("ari"),
    )
