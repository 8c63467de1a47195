"""Web-graph structure analytics beyond the reference's operator set:
directed co-citation / bibliographic coupling, SALSA, power-law tail
estimation, host-level contraction, and k-hop neighborhood size
(exact + HyperBall HLL scale path).

These are the link-analysis companions a Common-Crawl-scale engine
needs on top of the puzzlef kernels (PageRank/CC/LP/triangles): the
reference computes community structure; a production web-graph stack
also asks "which pages are co-cited", "is the degree tail power-law",
"what does the host graph look like", "how big is each vertex's
r-ball" (Boldi & Vigna, HyperBall, 2013).

Scale notes:
- cocitation_topk / bib_coupling_topk enumerate wedges through a
  shared endpoint; the pivot-degree cap bounds the quadratic exactly
  as linkpred.py's `max_pivot_degree` does (hubs contribute ~zero
  similarity signal at ~cap^2 cost). Top-k is TakeOrderedAndProject.
- salsa_fixed runs hits.py's alternation: per iteration one
  propagation step each way over a static walk-matrix table
  (operators/propagate.py; no edge row moves under the broadcast
  gate) + one vertex-sized normalization.
- hill_alpha / host_contract are single map-side-combined
  aggregations (one shuffle each).
- khop_reach materializes the exact r-ball pair set — O(Σ|ball_r(v)|)
  rows, fine for small r on sparse graphs, quadratic on small-
  diameter web graphs. hyperball_reach is the 100 TB path: per-vertex
  2^p-register HLL sketches, r rounds of neighbor max-merge
  (edge-sized shuffle of fixed-width arrays, salted two-level
  collect_list + reduce/zip_with/greatest — pure Catalyst, no
  Python workers), estimate error ~1.04/sqrt(2^p).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hits import check_iters, hubs_authorities
from .propagate import Propagation


def _directed_simple(edges: DataFrame) -> DataFrame:
    """Directed simple edge set: self-loops dropped, duplicates
    collapsed (weights summed)."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def cocitation_topk(
    edges: DataFrame,
    k: int = 100,
    max_source_outdegree: int | None = None,
) -> DataFrame:
    """Top-k page pairs by co-citation count: |{s : s->a and s->b}|.

    Directed analog of linkpred.common_neighbors_topk — the pivot is
    the *citing* page, the pair are its out-neighbors. With
    ``max_source_outdegree`` set, pivots citing more than the cap are
    dropped BEFORE the self-join, making the count a lower-bound
    approximation (hub-mediated co-citations excluded) — the same
    caveat as linkpred.py's capped scores.

    Returns (a, b, cocitations) with a < b, ranked by
    (cocitations desc, a, b).
    """
    de = _directed_simple(edges).select("src", "dst")
    if max_source_outdegree is not None:
        od = de.groupBy("src").agg(F.count("*").alias("odeg"))
        de = de.join(
            od.where(F.col("odeg") <= max_source_outdegree).select("src"),
            "src",
        )
    x = de.alias("x")
    y = de.alias("y")
    pairs = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .where(F.col("x.dst") < F.col("y.dst"))
        .groupBy(
            F.col("x.dst").alias("a"),
            F.col("y.dst").alias("b"),
        )
        .agg(F.count("*").alias("cocitations"))
    )
    return pairs.orderBy(
        F.desc("cocitations"), F.asc("a"), F.asc("b")
    ).limit(k)


def bib_coupling_topk(
    edges: DataFrame,
    k: int = 100,
    max_target_indegree: int | None = None,
) -> DataFrame:
    """Top-k page pairs by bibliographic coupling: |{t : a->t and
    b->t}| — pairs that CITE the same targets (vs co-citation's
    pairs CITED by the same sources). ``max_target_indegree`` drops
    hub targets before the self-join (lower-bound approximation).

    Returns (a, b, couplings) with a < b, ranked by
    (couplings desc, a, b).
    """
    de = _directed_simple(edges).select("src", "dst")
    if max_target_indegree is not None:
        ind = de.groupBy("dst").agg(F.count("*").alias("ideg"))
        de = de.join(
            ind.where(F.col("ideg") <= max_target_indegree).select("dst"),
            "dst",
        )
    x = de.alias("x")
    y = de.alias("y")
    pairs = (
        x.join(y, F.col("x.dst") == F.col("y.dst"))
        .where(F.col("x.src") < F.col("y.src"))
        .groupBy(
            F.col("x.src").alias("a"),
            F.col("y.src").alias("b"),
        )
        .agg(F.count("*").alias("couplings"))
    )
    return pairs.orderBy(
        F.desc("couplings"), F.asc("a"), F.asc("b")
    ).limit(k)


def salsa_fixed(edges: DataFrame, iters: int = 4) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran 2000), ``iters``
    fixed iterations from a uniform authority vector, weighted:

        h_t(j)   = sum_{j->i} (w/win(i))  * a_t(i)
        a_{t+1}(i) = sum_{j->i} (w/wout(j)) * h_t(j)

    with L1 normalization of both vectors each iteration (the
    backward-forward random-walk pair: column-stochastic then
    row-stochastic — at the fixed point authority ~ in-weight within
    a component; a small fixed iteration count from uniform is the
    interesting computation, exactly as hits.py treats HITS).

    Returns (id, hub, authority) rounded to 7 decimals; no rows on an
    empty graph; ``iters`` < 1 raises ValueError. Per iteration: one
    propagation step each way (operators/propagate.py) + vertex-sized
    normalization joins, the alternation hits.py runs; no driver-side
    state.
    """
    check_iters(iters)
    de = _directed_simple(edges)
    win = de.groupBy(F.col("dst").alias("id")).agg(
        F.sum("w").alias("win")
    )
    wout = de.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("wout")
    )
    verts = (
        de.select(F.col("src").alias("id"))
        .unionAll(de.select(F.col("dst").alias("id")))
        .distinct()
    )
    # walk matrix rows, normalized both ways
    wm = de.join(win.withColumnRenamed("id", "dst"), "dst").join(
        wout.withColumnRenamed("id", "src"), "src"
    )
    with Propagation(verts) as prop:
        return hubs_authorities(
            prop,
            prop.step(wm, F.col("w") / F.col("win"), "src"),
            prop.step(wm, F.col("w") / F.col("wout"), "dst"),
            iters,
        )


def hill_alpha(edges: DataFrame, dmin: int = 5) -> DataFrame:
    """Hill MLE for the power-law exponent of the degree tail:

        alpha = 1 + n_tail / sum_{deg >= dmin} ln(deg / dmin)

    over degrees of the simple undirected graph (the discrete MLE
    without the -0.5 continuity correction — documented, and the
    DuckDB twin applies the identical formula). One map-side-combined
    aggregation for degrees + one global aggregate.

    Returns a single row (dmin, n_tail, alpha) with alpha rounded to
    6 decimals.
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg")
    )
    tail = deg.where(F.col("deg") >= dmin)
    return tail.agg(
        F.lit(dmin).cast("int").alias("dmin"),
        F.count("*").alias("n_tail"),
        F.round(
            1.0 + F.count("*") / F.sum(F.log(F.col("deg") / float(dmin))),
            6,
        ).alias("alpha"),
    )


def host_contract(edges: DataFrame, n_hosts: int = 64) -> DataFrame:
    """Contract the page graph to the host graph using the
    deterministic host mapping of sources/pages.py::url_of
    (host(id) = id % n_hosts): sum edge weights and count distinct
    page edges per (host_src, host_dst), keeping intra-host rows.
    This is the groupBy-community contraction of louvain.py applied
    to a fixed partition — one map-side-combined shuffle on the
    64^2-key host pair, no skew risk (bounded key domain).

    Returns (hsrc, hdst, weight, page_edges).
    """
    return (
        edges.groupBy(
            (F.col("src") % n_hosts).cast("long").alias("hsrc"),
            (F.col("dst") % n_hosts).cast("long").alias("hdst"),
        )
        .agg(
            F.sum("w").alias("weight"),
            F.count("*").alias("page_edges"),
        )
    )


def khop_reach(edges: DataFrame, r: int = 3) -> DataFrame:
    """EXACT r-hop neighborhood size per vertex on the simple
    undirected graph: reach_r(v) = |{u : dist(v,u) <= r}| including
    v itself. Materializes the ball pair set via r rounds of
    distinct frontier joins — exact but O(sum |ball_r(v)|) rows,
    which explodes on small-diameter web graphs; hyperball_reach is
    the sketch path for that regime (same semantics, ~2% error at
    p=12).

    Returns (id, reach).
    """
    ball = _ball_frames(edges, r)[-1]
    return ball.groupBy(F.col("v").alias("id")).agg(
        F.count("*").alias("reach")
    )


def _ball_frames(edges: DataFrame, r: int) -> list[DataFrame]:
    """Exact ball pair sets [ball_0, ..., ball_r] via FRONTIER-based
    expansion: each round joins only the pairs discovered last round
    (not the whole ball) against the adjacency, then anti-joins the
    known ball — the standard level-synchronous BFS trick, cutting
    the per-round join volume from O(|ball_t|·deg) to
    O(|frontier_t|·deg). Each level is persisted (reused by the next
    round's anti-join and by neighborhood_function's per-level
    counts)."""
    c = (
        edges.select("src", "dst")
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    sym = c.unionAll(
        c.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    verts = sym.select(F.col("src").alias("id")).distinct()
    ball = verts.select(
        F.col("id").alias("v"), F.col("id").alias("u")
    ).persist()
    frontier = ball
    out = [ball]
    adj = sym.withColumnRenamed("src", "u").withColumnRenamed("dst", "u2")
    for _ in range(r):
        nxt = (
            frontier.join(adj, "u")
            .select("v", F.col("u2").alias("u"))
            .distinct()
            .join(ball, ["v", "u"], "left_anti")
            .persist()
        )
        ball = ball.unionAll(nxt).persist()
        frontier = nxt
        out.append(ball)
    return out


def neighborhood_function(edges: DataFrame, rmax: int = 2) -> DataFrame:
    """EXACT neighborhood function of the simple undirected graph:
    N(r) = |{(v,u) : dist(v,u) <= r}| (ordered pairs, self included)
    for r = 0..rmax, plus the average ball size. This is the quantity
    HyperBall approximates at web scale (effective-diameter /
    distance-distribution estimation); the exact operator is the
    small-scale truth the sketch is pinned against.

    Returns (r, reachable_pairs, avg_reach) — rmax+1 rows.
    """
    balls = _ball_frames(edges, rmax)
    nv = balls[0].agg(F.count("*").alias("nv"))
    res = None
    for r, ball in enumerate(balls):
        row = ball.agg(
            F.lit(r).cast("int").alias("r"),
            F.count("*").alias("reachable_pairs"),
        )
        res = row if res is None else res.unionAll(row)
    return res.crossJoin(F.broadcast(nv)).select(
        "r",
        "reachable_pairs",
        F.round(F.col("reachable_pairs") / F.col("nv"), 6).alias(
            "avg_reach"
        ),
    )


# ---------------------------------------------------------------------------
# HyperBall: HLL-sketch r-ball sizes (the 100 TB path for khop_reach)
# ---------------------------------------------------------------------------

_HB_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hb_alpha(m: int) -> float:
    return _HB_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hyperball_reach(
    edges: DataFrame,
    r: int = 3,
    p: int = 8,
    n_salt: int = 16,
) -> DataFrame:
    """Approximate r-ball sizes via HyperBall (Boldi & Vigna 2013):
    each vertex carries a 2^p-register HyperLogLog sketch of its
    ball; one round max-merges every vertex's sketch with its
    neighbors' (HLL union == elementwise register max), so after r
    rounds the sketch covers ball_r(v). Standard error
    ~1.04/sqrt(2^p) (~6.5% at p=8).

    All register math is deterministic (xxhash64 of the vertex id),
    so runs are reproducible. Per round the exchange is E rows of a
    fixed 2^p-byte array; the merge is two-level — level 1 groups on
    (dst, xxhash(src) % n_salt) so a hub's incoming sketches land in
    bounded groups, level 2 collapses the <= n_salt partials per
    vertex — and both levels are pure Catalyst (collect_list over the
    bounded group + reduce/zip_with/greatest == elementwise register
    max == HLL union): no Python workers anywhere in the loop.

    Returns (id, reach_est) with the HLL small-range correction
    applied; reach_est is a bigint (rounded estimate).
    """
    cur = None
    for cur in _hyperball_rounds(edges, r, p, n_salt):
        pass
    est = _hll_est_col(1 << p)
    return cur.select(
        "id", F.round(est).cast("long").alias("reach_est")
    )


def _hll_est_col(m: int):
    """HLL estimate Column over a ``regs`` register-array column,
    with the standard small-range (linear-counting) correction."""
    alpha = _hb_alpha(m)
    raw = F.lit(alpha * m * m) / F.aggregate(
        "regs",
        F.lit(0.0),
        lambda acc, x: acc + F.pow(F.lit(2.0), -x.cast("double")),
    )
    zeros = F.aggregate(
        "regs",
        F.lit(0),
        lambda acc, x: acc + F.when(x == 0, 1).otherwise(0),
    )
    return F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)


def _hyperball_rounds(
    edges: DataFrame, r: int, p: int, n_salt: int
):
    """Generator yielding the per-round sketch frames round_0 ..
    round_r; the round-t frame's sketch covers ball_t(v).

    Each yielded frame is eagerly localCheckpoint-ed, so cross-round
    lineage never compounds (the pass-static-repartition pattern of
    pagerank.py/sssp.py), and the symmetrized edge table is persisted
    for the pass and released in a ``finally`` (so an early
    ``gen.close()`` — e.g. the effective-diameter plateau break —
    still cleans up). The register merge is two-level: level 1 keys
    on (id, xxhash(src) % n_salt) so a hub's incoming sketches land
    in bounded groups, level 2 collapses the <= n_salt+1 partials per
    vertex. Both levels run the same pure-Catalyst expression —
    collect_list over the bounded group, then reduce/zip_with/
    greatest (elementwise register max == HLL union) — so the loop
    contains no Python workers at all."""
    m = 1 << p

    c = (
        edges.select("src", "dst")
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    sym = c.unionAll(
        c.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    try:
        verts = sym.select(F.col("src").alias("id")).distinct()

        # initial sketch: register[bucket(h)] = rho(h >> p), rho =
        # leading 1-position of the remaining 64-p bits (1-based),
        # 64-p+1 if zero.
        h = F.xxhash64(F.col("id"))
        bucket = F.abs(h % m).cast("int")
        wbits = F.shiftrightunsigned(h, p)
        rho = (
            F.when(wbits == 0, F.lit(64 - p + 1))
            .otherwise(
                F.lit(64 - p) - F.floor(F.log2(wbits.cast("double")))
            )
            .cast("tinyint")
        )
        cur = verts.select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.when(i == bucket, rho).otherwise(
                    F.lit(0).cast("tinyint")
                ),
            ).alias("regs"),
        ).localCheckpoint(eager=True)
        yield cur

        zero = F.array_repeat(F.lit(0).cast("tinyint"), m)

        def _merged():
            # HLL union of a group's sketches: elementwise register
            # max, folded JVM-side over the collected (bounded) group.
            return F.reduce(
                F.collect_list("regs"),
                zero,
                lambda acc, x: F.zip_with(
                    acc, x, lambda a, b: F.greatest(a, b)
                ),
            ).alias("regs")

        for _ in range(r):
            routed = sym.join(
                cur.withColumnRenamed("id", "src"), "src"
            ).select(
                F.col("dst").alias("id"),
                F.pmod(F.xxhash64("src"), F.lit(n_salt)).alias("salt"),
                "regs",
            )
            own = cur.select(
                "id", F.lit(-1).cast("bigint").alias("salt"), "regs"
            )
            cur = (
                own.unionAll(routed)
                .groupBy("id", "salt")
                .agg(_merged())
                .groupBy("id")
                .agg(_merged())
                .localCheckpoint(eager=True)
            )
            yield cur
    finally:
        sym.unpersist()


def effective_diameter_est(
    edges: DataFrame,
    rmax: int = 16,
    p: int = 8,
    q: float = 0.9,
    n_salt: int = 16,
) -> tuple[float, list[float]]:
    """q-effective diameter via HyperBall (Boldi & Vigna 2013): run
    sketch rounds until the estimated neighborhood-function total
    N(t) = sum_v |ball_t(v)| plateaus (or rmax), then linearly
    interpolate the smallest t with N(t) >= q * N(final).

    Driver-side state is one scalar per round (the N(t) totals) —
    the per-round loop is the algorithm's synchronous superstep, the
    same structure as the Louvain pass loop. Deterministic: the
    sketches are hash-based, so repeated runs give identical output.

    Returns (effective_diameter, [N(0), ..., N(T)]).
    """
    est = _hll_est_col(1 << p)
    totals: list[float] = []
    gen = _hyperball_rounds(edges, rmax, p, n_salt)
    try:
        for fr in gen:
            tot = float(fr.agg(F.sum(est)).first()[0])
            totals.append(tot)
            if len(totals) >= 2 and tot <= totals[-2] * 1.0001:
                break  # sketch union is monotone: plateau == converged
    finally:
        gen.close()
    target = q * totals[-1]
    eff = 0.0
    for t, nt in enumerate(totals):
        if nt >= target:
            if t == 0:
                eff = 0.0
            else:
                span = totals[t] - totals[t - 1]
                frac = (target - totals[t - 1]) / span if span > 0 else 0.0
                eff = (t - 1) + frac
            break
    return eff, totals


def link_exchange(edges: DataFrame, n_hosts: int = 64) -> DataFrame:
    """Reciprocal link exchange between host pairs — the classic
    link-farm / link-swap spam signal (hosts that point at each other
    far more than organic linking predicts). Contracts to the host
    graph (bounded n_hosts² key domain, one map-side-combined shuffle),
    then inner-joins the two directions of each unordered pair:
    (a, b, fwd_edges, bwd_edges, exchange_min) for a < b where BOTH
    directions carry at least one page edge; exchange_min = min of the
    two direction counts (the number of "swapped" links). All counts
    BIGINT-exact. The pair join is host-cardinality-sized — broadcast
    at any corpus scale (10^8 hosts ≪ edge scale).
    """
    hg = host_contract(edges, n_hosts).where(F.col("hsrc") != F.col("hdst"))
    fwd = hg.where(F.col("hsrc") < F.col("hdst")).select(
        F.col("hsrc").alias("a"),
        F.col("hdst").alias("b"),
        F.col("page_edges").alias("fwd_edges"),
    )
    bwd = hg.where(F.col("hsrc") > F.col("hdst")).select(
        F.col("hdst").alias("a"),
        F.col("hsrc").alias("b"),
        F.col("page_edges").alias("bwd_edges"),
    )
    return fwd.join(bwd, ["a", "b"]).select(
        "a",
        "b",
        "fwd_edges",
        "bwd_edges",
        F.least("fwd_edges", "bwd_edges").alias("exchange_min"),
    )
