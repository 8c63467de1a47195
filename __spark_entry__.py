"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship Louvain run over the co-order part graph
derived from sf0.001. ``queries()`` — one entry per implemented
operator (SURVEY.md §2 + pipeline ops). ``oracle_sql()`` — DuckDB
twins; iterative/non-SQL ops are rows-only by design.

Graph queries run over the *co-order part graph*: two parts are
adjacent iff they appear in the same order (weight = co-occurrence
count). It is symmetric and self-loop-free by construction and
definable identically in Spark and ANSI SQL, which makes every
non-iterative graph aggregate exactly cross-checkable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from louvain_communities_openmp_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.labelprop import label_propagation
from louvain_communities_openmp_spark.operators.louvain import (
    LouvainOptions,
    louvain,
)
from louvain_communities_openmp_spark.operators.pagerank import pagerank_fixed
from louvain_communities_openmp_spark.operators.properties import (
    community_weights,
    vertex_weights,
)
from louvain_communities_openmp_spark.operators.similarity import (
    cosine_topk_bruteforce,
    embedding_neardup_pairs,
)
from louvain_communities_openmp_spark.operators.transforms import degrees, transpose
from louvain_communities_openmp_spark.sources.edges import coorder_edges

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect == ANSI here)
# ---------------------------------------------------------------------------

_EDGES_CTE = """
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)"""

# SQL re-synthesis of sources/pages.py::make_pages over the co-order
# graph (page-id universe 0..max(p_partkey)): the oracle builds the SAME
# html/text bytes with pure string SQL, so the Spark-side Arrow-UDF
# extraction is checked against an independent reconstruction.
_PAGES_CTE = (
    _EDGES_CTE.strip()
    + """,
verts AS (
  SELECT unnest(generate_series(0, (SELECT max(p_partkey) FROM part))) AS v
),
anchors AS (
  SELECT src AS v,
         string_agg('<a href="https://host' || (dst % 16) || '.example/p'
                    || dst || '">w' || ((src * 31 + dst) % 7) || ' p' || dst
                    || '</a>', '' ORDER BY dst) AS a
  FROM (SELECT DISTINCT src, dst FROM edges) GROUP BY src
),
pages AS (
  SELECT v,
         'https://host' || (v % 16) || '.example/p' || v AS url,
         '<html><head><title>p' || v || '</title></head><body>'
           || coalesce(a.a, '')
           || '<p>Page ' || v || ' corpus sample token '
           || ((v * 2654435761) % 997) || '.</p></body></html>' AS html,
         'Page ' || v || ' corpus sample token '
           || ((v * 2654435761) % 997) || '.' AS text
  FROM verts LEFT JOIN anchors a USING (v)
)"""
)

_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_TOKS = f"regexp_split_to_array({_NORM}, ' ')".replace("{c}", "{c}")

_EN_STOP = "('the','and','of','to','a','in','is','it','that','for')"
_DE_STOP = "('der','die','das','und','ist','von','zu','den','mit','nicht')"


def _toks(c: str) -> str:
    return _TOKS.format(c=c)


def _norm(c: str) -> str:
    return _NORM.format(c=c)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Louvain community membership + sizes on the sf0.001
    co-order graph (driver checks rows>0, stable schema)."""
    e = coorder_edges(spark, SF_SMOKE).persist()
    res = louvain(e, LouvainOptions(mode="auto"))
    return (
        res.membership.groupBy("com")
        .agg(F.count("*").alias("size"))
        .join(res.membership, "com")
        .select("id", "com", "size")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_edges(spark, sf):
    return coorder_edges(spark, sf)


def _q_degrees(spark, sf):
    return degrees(coorder_edges(spark, sf))


def _q_vertex_weights(spark, sf):
    return vertex_weights(coorder_edges(spark, sf))


def _q_total_weight(spark, sf):
    e = coorder_edges(spark, sf)
    return e.agg(
        F.sum("w").alias("total_w"), (F.sum("w") / 2.0).alias("m")
    )


def _q_transpose(spark, sf):
    return transpose(coorder_edges(spark, sf))


def _q_self_loops(spark, sf):
    e = coorder_edges(spark, sf)
    return e.where(F.col("src") == F.col("dst")).agg(
        F.count("*").alias("n_self_loops")
    )


def _q_symmetry_violations(spark, sf):
    e = coorder_edges(spark, sf)
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
    )
    return e.join(rev, ["src", "dst", "w"], "left_anti").agg(
        F.count("*").alias("n_asym")
    )


def _mod64_membership(e):
    from louvain_communities_openmp_spark.operators.transforms import vertices

    return vertices(e).select("id", (F.col("id") % 64).alias("com"))


def _q_community_sizes(spark, sf):
    e = coorder_edges(spark, sf)
    return (
        _mod64_membership(e).groupBy("com").agg(F.count("*").alias("size"))
    )


def _q_ctot(spark, sf):
    e = coorder_edges(spark, sf)
    return community_weights(_mod64_membership(e), vertex_weights(e)).select(
        "com", F.round("ctot", 6).alias("ctot")
    )


def _q_modularity(spark, sf):
    from louvain_communities_openmp_spark.operators.properties import modularity

    e = coorder_edges(spark, sf).persist()
    q = modularity(e, _mod64_membership(e))
    return spark.createDataFrame([(round(q, 6),)], "q double")


def _q_triangle_total(spark, sf):
    from louvain_communities_openmp_spark.operators.triangles import (
        triangle_count_total,
    )

    n = triangle_count_total(coorder_edges(spark, sf))
    return spark.createDataFrame([(n,)], "n_triangles long")


def _q_triangles_per_vertex(spark, sf):
    from louvain_communities_openmp_spark.operators.triangles import triangle_count

    return triangle_count(coorder_edges(spark, sf)).per_vertex


def _q_pagerank3(spark, sf):
    return pagerank_fixed(coorder_edges(spark, sf), alpha=0.85, iters=3)


def _q_ktruss8(spark, sf):
    """Bounded 8-truss peeling of the co-order graph: exactly 4
    synchronous drop rounds, survivors returned with recomputed
    support (operators/ktruss.py ktruss_peel — fixed-round semantics,
    deterministic on any graph; the converged ktruss() decomposition
    is pytest-oracled on fixtures where convergence is bounded)."""
    from louvain_communities_openmp_spark.operators.ktruss import ktruss_peel

    return ktruss_peel(coorder_edges(spark, sf), k=8, rounds=4)


def _q_hits4(spark, sf):
    """HITS hubs/authorities, 4 L1-normalized iterations, on the
    DIRECTED half of the co-order graph (src < dst — the symmetric
    graph would make hub ≡ authority and verify nothing)."""
    from louvain_communities_openmp_spark.operators.hits import hits_fixed

    e = coorder_edges(spark, sf).where(F.col("src") < F.col("dst"))
    return hits_fixed(e, iters=4)


def _q_betweenness8(spark, sf):
    """Sampled depth-capped betweenness (truncated Brandes): 8
    smallest-id pivots, paths <= 8 hops, on the symmetric co-order
    graph. The DuckDB twin unrolls the identical forward
    (BFS+path-count) and backward (dependency) levels."""
    from louvain_communities_openmp_spark.operators.betweenness import (
        betweenness_sampled,
    )

    return betweenness_sampled(
        coorder_edges(spark, sf), n_sources=8, max_depth=8
    ).scores


def _q_sssp6(spark, sf):
    """Weighted multi-source SSSP, fixed 6 relaxation rounds
    (min-weight path using <= 6 edges) from the 4 smallest-id pivots —
    frontier Bellman-Ford; the DuckDB twin unrolls the identical full
    relaxation rounds (same answer by the frontier-equivalence
    argument in operators/sssp.py)."""
    from louvain_communities_openmp_spark.operators.sssp import sssp_fixed

    return sssp_fixed(coorder_edges(spark, sf), n_sources=4, rounds=6).dists


def _q_scc(spark, sf):
    """Strongly connected components of the md5-sampled DIRECTED
    purchase-sequence graph (~3.9% of sequence edges — a Broder
    bow-tie: giant SCC + IN/OUT periphery). Exact canonical labels
    scc = min id per SCC (operators/scc.py FW/BW min-closure
    refinement); the DuckDB twin computes the full recursive-CTE
    transitive closure and takes min over mutually-reachable pairs —
    maximally independent dynamics, same answer."""
    from louvain_communities_openmp_spark.operators.scc import (
        strongly_connected_components,
    )
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    return strongly_connected_components(
        sequence_edges(spark, sf, thr="0a")
    ).components


def _q_scc_dag(spark, sf):
    """Condensation DAG of g_scc's graph: one row per ordered pair of
    distinct SCCs with the count of underlying directed edges — the
    bow-tie macro map (operators/scc.py condensation)."""
    from louvain_communities_openmp_spark.operators.scc import (
        condensation,
        strongly_connected_components,
    )
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    e = sequence_edges(spark, sf, thr="0a").persist()
    res = strongly_connected_components(e)
    return condensation(e, res.components)


def _q_bowtie(spark, sf):
    """Broder bow-tie macro-structure of g_scc's directed graph:
    every vertex classified CORE / IN / OUT / OTHER against the giant
    SCC (operators/scc.py bowtie_classes — SCC kernel + two frontier
    BFS sweeps seeded at the core). The DuckDB twin derives the same
    classes from the transitive closure."""
    from louvain_communities_openmp_spark.operators.scc import bowtie_classes
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    return bowtie_classes(sequence_edges(spark, sf, thr="0a"))


def _q_reciprocity(spark, sf):
    """Directed-edge reciprocity of the FULL purchase-sequence graph:
    the share of directed edges (u,v) whose reverse (v,u) is also
    present — the classic directed-web cohesion metric. One
    self-join on the (dst, src) key + one aggregate."""
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    e = sequence_edges(spark, sf).select("src", "dst").persist()
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("has_rev")
    ).distinct()
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(F.coalesce("has_rev", F.lit(0))).alias("n_reciprocal"),
            F.round(
                F.sum(F.coalesce("has_rev", F.lit(0))) / F.count("*"), 6
            ).alias("reciprocity"),
        )
    )


def _q_giant_component(spark, sf):
    """Giant-component KPI: component count, giant size, and the giant
    share of vertices — the one-row connectivity health check run
    before any link-graph job (a fragmented crawl means extraction or
    seeding broke). Composition over the verified hash-min +
    pointer-jump kernel; the aggregate is component-count-sized. Twin
    wraps the g_components closure SQL."""
    from louvain_communities_openmp_spark.operators.components import (
        connected_components,
    )

    comp = connected_components(coorder_edges(spark, sf)).components
    sizes = comp.groupBy("comp").agg(F.count("*").alias("n"))
    return sizes.agg(
        F.count("*").alias("n_components"),
        F.max("n").alias("giant_size"),
        F.sum("n").alias("n_vertices"),
        F.round(F.max("n") / F.sum("n"), 6).alias("giant_share"),
    )


def _q_ivf_balance(spark, sf):
    """IVF index balance: vectors per coarse cell (similarity.py::
    ivf_cells — the SAME assignment expressions the e_ivf_topk search
    path uses, so these are the real index's skew numbers; a hot cell
    here is exactly the probe-time straggler). One map-side-combined
    aggregate over the bounded cell domain. Twin reuses the assignment
    CTE of the e_ivf_topk twin."""
    from louvain_communities_openmp_spark.operators.similarity import (
        ivf_cells,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return (
        ivf_cells(emb, n_cells=16)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
    )


def _q_nepotism(spark, sf):
    """In-link host domination per page: total in-links, the in-link
    count from the single dominant source host, and their ratio — the
    nepotistic-link signal (a page whose links come overwhelmingly
    from one host is farm-boosted, not organically endorsed). Two
    map-side-combined aggregates — (dst, src-host) then dst — both on
    content keys; the exact n/d pair rides with the rounded ratio."""
    e = coorder_edges(spark, sf)
    per_host = e.groupBy(
        F.col("dst").alias("id"),
        (F.col("src") % 16).cast("long").alias("shost"),
    ).agg(F.count("*").alias("c"))
    return per_host.groupBy("id").agg(
        F.sum("c").alias("n_in"),
        F.max("c").alias("top_host_in"),
        F.round(F.max("c") / F.sum("c"), 6).alias("domination"),
    )


def _q_host_fanout(spark, sf):
    """Cross-host fan-out per page: outlink count and number of
    DISTINCT target hosts (host = id % 16, the url_of mapping) — the
    mixer/directory-page detector a crawler uses to find hub pages
    that bridge many sites. ONE map-side-combined aggregate; the
    distinct-host count is exact over the bounded host domain."""
    e = coorder_edges(spark, sf)
    return e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("n_out"),
        F.countDistinct((F.col("dst") % 16).cast("long")).alias("n_hosts"),
    )


def _q_events_dau(spark, sf):
    """DAU / trailing-7-day WAU / stickiness per day — the engagement
    triple every analytics stack reports. The (user, day) frame is one
    distinct; WAU joins it to the bounded day domain (≤ days × 7 rows
    move), so nothing event-scale shuffles twice. Twin replays the
    same window join with date arithmetic."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().persist()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    days = ud.select("day").distinct().select(F.col("day").alias("d0"))
    wau = (
        ud.join(
            days,
            (F.col("day") <= F.col("d0"))
            & (F.col("day") >= F.date_sub(F.col("d0"), 6)),
        )
        .groupBy("d0")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.d0)
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


def _q_mutual_triangles(spark, sf):
    """Fully-reciprocal triads of the FULL purchase-sequence digraph
    (operators/triangles.py::mutual_triangle_total) — the link-ring
    motif one level above g_reciprocity's dyad share. Twin: three-way
    join over the reciprocal canonical CTE."""
    from louvain_communities_openmp_spark.operators.triangles import (
        mutual_triangle_total,
    )
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    n = mutual_triangle_total(sequence_edges(spark, sf))
    return spark.createDataFrame([(n,)], "n_mutual_triangles long")


def _q_components(spark, sf):
    return connected_components(coorder_edges(spark, sf)).components


def _q_labelprop(spark, sf):
    return label_propagation(coorder_edges(spark, sf), max_iter=4).labels


def _q_louvain(spark, sf):
    """Auto-mode Louvain, reported as a 1-row invariant frame so the
    driver can oracle it (the full per-vertex membership is inherently
    run-order-dependent in auto mode — its deterministic twin
    ``g_louvain_exact`` pins the full frame instead):

    - n_rows / n_distinct_ids / id_min / id_max must equal the edge
      table's vertex stats (partition validity: every vertex exactly
      once — SQL-derivable from the input);
    - n_components: the ENGINE's connected-components count vs the
      oracle's recursive-SQL count — a true cross-engine VALUE, so the
      row is anchored to more than self-certified flags;
    - coms_dense: labels are dense 0..C-1 (louvainLookupCommunitiesU
      renumber invariant, louvain.hxx:825-829);
    - coms_ge_components: Louvain never moves a vertex into a
      community it has no edge to (chooseCommunity scans neighbor
      communities only, louvain.hxx:449-470), so communities nest
      inside components ⇒ C ≥ #components — a wrong-but-valid-looking
      partition that merged across components flips this to FALSE;
    - q_engine_matches_recomputed: the engine's reported modularity vs
      Q recomputed HERE from (membership ⋈ edges) with a plain
      aggregation — catches a miscomputed Q even when the membership
      itself is unverifiable (auto mode is run-order-dependent);
    - modularity_positive: converged Q > 0 on this clustered graph.
    """
    from louvain_communities_openmp_spark.operators.properties import (
        total_weight_m,
    )

    e = coorder_edges(spark, sf).persist()
    res = louvain(e, LouvainOptions(mode="auto"))
    mem = res.membership
    m = total_weight_m(e)
    ms = mem.select(F.col("id").alias("src"), F.col("com").alias("csrc"))
    md = mem.select(F.col("id").alias("dst"), F.col("com").alias("cdst"))
    per = (
        e.join(ms, "src")
        .join(md, "dst")
        .groupBy("csrc")
        .agg(
            F.sum(
                F.when(F.col("csrc") == F.col("cdst"), F.col("w")).otherwise(
                    0.0
                )
            ).alias("cin"),
            F.sum("w").alias("ctot"),
        )
    )
    q_rec = per.agg(
        F.sum(
            F.col("cin") / (2.0 * m) - F.pow(F.col("ctot") / (2.0 * m), 2.0)
        ).alias("q")
    ).first()["q"]
    n_components = (
        connected_components(e).components.select("comp").distinct().count()
    )
    n_coms = mem.select("com").distinct().count()
    return mem.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_distinct_ids"),
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.lit(int(n_components)).cast("long").alias("n_components"),
        (
            (F.min("com") == F.lit(0))
            & (F.max("com") == F.countDistinct("com") - F.lit(1))
        ).alias("coms_dense"),
        F.lit(bool(n_coms >= n_components)).alias("coms_ge_components"),
        F.lit(bool(abs(res.modularity - float(q_rec)) <= 1e-9)).alias(
            "q_engine_matches_recomputed"
        ),
        # derived from the RECOMPUTED Q (membership ⋈ edges), not the
        # engine's self-reported value — stays meaningful even if the
        # engine's Q accounting broke
        F.lit(bool(float(q_rec) > 0.0)).alias("modularity_positive"),
    )


def _q_louvain_exact(spark, sf):
    """Exact-mode Louvain (sequential reference semantics end-to-end) —
    a pure deterministic function of the edge table, so its full
    per-vertex membership is verifiable: the oracle is a literal VALUES
    table produced by the independent numpy port (oracle/louvain_seq.py)
    over the DuckDB-built co-order edges."""
    e = coorder_edges(spark, sf)
    return louvain(e, LouvainOptions(mode="exact")).membership


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _q_dedup_exact(spark, sf):
    return dedup_exact(_docs(spark, sf))


def _q_dedup_fingerprint(spark, sf):
    return dedup_fingerprint(_docs(spark, sf))


def _q_token_count(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


def _q_quality(spark, sf):
    return _docs(spark, sf).select("doc_id", *quality_features(F.col("text")))


def _q_lang_id(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred")
    )


def _q_fingerprint(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def _q_minhash_sig(spark, sf):
    return minhash_signatures(_docs(spark, sf), k=5, num_hashes=8)


def _q_ngram_pairs(spark, sf):
    return ngram_jaccard_pairs(_docs(spark, sf), k=5, threshold=0.8)


def _q_simhash(spark, sf):
    return simhash(_docs(spark, sf))


def _q_simhash_pairs(spark, sf):
    return simhash_pairs(_docs(spark, sf), max_hamming=3)


def _q_sample_stratified(spark, sf):
    """Deterministic hash-threshold stratified sample of documents —
    a map-only codegen scan (no shuffle), keep iff md5('s7|'||doc_id)[:8]
    is below the per-lang threshold hex; exact-portable to the oracle
    via lexicographic hex-string compare."""
    from louvain_communities_openmp_spark.operators.sampling import (
        stratified_sample,
    )

    return stratified_sample(
        _docs(spark, sf),
        strata_col="lang",
        fractions={"en": 0.25, "zh": 0.5},
        default_fraction=0.125,
    )


def _q_clean_corpus(spark, sf):
    """End-to-end training-data cleaning: quality gates + language
    filter fused into one codegen scan, then exact dedup (canonical =
    min doc_id among survivors) in one uniform-key shuffle."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        clean_corpus,
    )

    return clean_corpus(
        _docs(spark, sf),
        min_tokens=10,
        max_tokens=100_000,
        min_alpha_ratio=0.5,
        langs=("en", "de"),
    )


def _q_chunks(spark, sf):
    """Token-window document chunking (64-token windows, 16 overlap):
    one codegen scan — tokenize, sequence() the window starts, slice,
    posexplode. No shuffle."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        chunk_documents,
    )

    return chunk_documents(_docs(spark, sf), chunk_tokens=64, overlap=16)


def _q_vocab_topk(spark, sf):
    """Top-100 corpus vocabulary with counts; ties broken
    lexicographically. Map-side combine collapses hot tokens before
    the single shuffle; top-k is TakeOrderedAndProject, not a sort."""
    from louvain_communities_openmp_spark.operators.pipeline import vocab_topk

    return vocab_topk(_docs(spark, sf), k=100)


def _q_degree_hist(spark, sf):
    """Degree distribution histogram of the co-order graph —
    (degree, n_vertices). Two map-side-combined aggregations."""
    return (
        degrees(coorder_edges(spark, sf))
        .groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
    )


def _q_kcore(spark, sf):
    """80-core of the co-order graph by iterative peeling (6 rounds at
    the gate SF) — (id, deg_in_core). The oracle unrolls identical
    peel dynamics with a convergence sentinel (_kcore_sql)."""
    from louvain_communities_openmp_spark.operators.kcore import kcore

    return kcore(coorder_edges(spark, sf), k=80).core


def _q_ppr3(spark, sf):
    """3-iteration personalized PageRank seeded at ids ≡ 0 (mod 100)
    — topic-sensitive ranking with the teleport vector on the seed
    set; same unrolled-SQL verification strategy as g_pagerank3."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        personalized_pagerank_fixed,
    )

    e = coorder_edges(spark, sf)
    seeds = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .where(F.col("id") % 100 == 0)
    )
    return personalized_pagerank_fixed(e, seeds, alpha=0.85, iters=3)


def _q_assortativity(spark, sf):
    """Degree assortativity (Pearson corr of endpoint degrees on the
    symmetric simple graph) — one-row structural summary."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        degree_assortativity,
    )

    return degree_assortativity(coorder_edges(spark, sf))


def _q_clustering(spark, sf):
    """Local clustering coefficient per vertex — reuses the
    degree-ordered triangle counter (wedges bounded by arboricity)
    plus one vertex-sized degree join."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        clustering_coefficient,
    )

    return clustering_coefficient(coorder_edges(spark, sf))


def _q_common_neighbors(spark, sf):
    """Top-100 vertex pairs by common-neighbor count (co-citation /
    link-prediction score); hub pivots above degree 10k dropped before
    the wedge join (no-op at test SFs, the quadratic guard at scale)."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        common_neighbors_topk,
    )

    return common_neighbors_topk(
        coorder_edges(spark, sf), k=100, max_pivot_degree=10_000
    )


def _q_bigram_topk(spark, sf):
    """Top-100 word bigrams with counts — phrase statistics; same
    codegen-enumerate + map-side-combine + TakeOrderedAndProject shape
    as d_vocab_topk."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        ngram_freq_topk,
    )

    return ngram_freq_topk(_docs(spark, sf), n=2, k=100)


def _q_adamic_adar(spark, sf):
    """Adamic-Adar link-prediction scores for the top-100
    common-neighbor pairs; ranked by the integer (cn, a, b) key so the
    row set is engine-portable, score rounded to 6."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        adamic_adar_topk,
    )

    return adamic_adar_topk(
        coorder_edges(spark, sf), k=100, max_pivot_degree=10_000
    )


def _q_label_centroids(spark, sf):
    """Per-label embedding centroids in long form (label, pos,
    centroid_val, n_vectors) — the IVF training step as a query; one
    map-side-combined shuffle."""
    from louvain_communities_openmp_spark.operators.similarity import (
        label_centroids,
    )

    return label_centroids(spark.read.parquet(f"{sf}/embeddings.parquet"))


def _q_cosine_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    return cosine_topk_bruteforce(emb, queries, k=10)


def _q_knn_classify(spark, sf):
    """k-NN majority-label vote for the 10 smallest-id query vectors
    (auto-tagging primitive); tie → smallest label."""
    from louvain_communities_openmp_spark.operators.similarity import (
        knn_classify,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return knn_classify(emb, emb.orderBy("vec_id").limit(10), k=10)


def _q_embed_neardup(spark, sf):
    """Near-dup pairs over the embeddings table augmented with exact
    twins of the first 20 vectors (id + 1e9): random embeddings have no
    natural pairs at cosine >= 0.98, so the twins give the operator
    verified positive rows; the DuckDB twin applies the identical
    augmentation."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    twins = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"), "embedding"
    )
    return embedding_neardup_pairs(emb.unionByName(twins), threshold=0.98)


def _q_describe(spark, sf):
    from louvain_communities_openmp_spark.operators.structure import describe_graph

    return describe_graph(coorder_edges(spark, sf))


def _q_disconnected_mod64(spark, sf):
    from louvain_communities_openmp_spark.operators.structure import (
        disconnected_communities,
    )

    e = coorder_edges(spark, sf).persist()
    return disconnected_communities(e, _mod64_membership(e))


def _media(spark, sf):
    """documents.text reinterpreted as opaque binary media — exercises
    the multimodal plumbing on driver testdata (no image libs here)."""
    return _docs(spark, sf).select(
        F.col("doc_id").alias("id"),
        F.col("text").cast("binary").alias("media"),
        F.lit("text").alias("media_type"),
    )


def _q_media_meta(spark, sf):
    from louvain_communities_openmp_spark.operators.multimodal import (
        extract_media_features,
    )

    return extract_media_features(_media(spark, sf)).select(
        "id", "media_type", "n_bytes", "width", "height", "checksum"
    )


def _q_media_dedup(spark, sf):
    """Exact binary-content dedup over media blobs — the blob analog of
    d_dedup_exact (identical images/audio stored under many ids): group
    on the decoder's sha256-prefix checksum, keep the smallest id.
    One map-side-combined shuffle on the uniform content hash; the
    group frame joins back on the same key (co-partitioned). Twin
    recomputes the checksum with SQL sha256 over the same bytes."""
    from louvain_communities_openmp_spark.operators.multimodal import (
        extract_media_features,
    )

    m = extract_media_features(_media(spark, sf)).select("id", "checksum")
    g = m.groupBy("checksum").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("group_size")
    )
    return m.join(g, "checksum").select("id", "keep_id", "group_size", "checksum")


def _q_media_features(spark, sf):
    """Full decode output with the feature vector exploded to scalar
    double columns (feat_0..feat_7): array<float> cannot be hashed by
    the driver's canonicalizer, and the values are dyadic (k/2^16) so
    the float->double cast is exact — no rounding needed."""
    from louvain_communities_openmp_spark.operators.multimodal import (
        _FEATURE_DIM,
        extract_media_features,
    )

    feats = extract_media_features(_media(spark, sf))
    fcols = [
        F.element_at("features", i + 1).cast("double").alias(f"feat_{i}")
        for i in range(_FEATURE_DIM)
    ]
    return feats.select(
        "id", "media_type", "n_bytes", "width", "height", "checksum", *fcols
    )


def _q_frame_sample(spark, sf):
    from louvain_communities_openmp_spark.operators.multimodal import (
        frame_sample_plan,
    )

    return frame_sample_plan(_media(spark, sf)).select(
        "id",
        "frame_no",
        "offset",
        F.length("frame").cast("long").alias("frame_bytes"),
    )


def _q_events_anomaly(spark, sf):
    """Hourly event-rate anomaly scoring per event_type — the standard
    operational-monitoring query: z-score of each hour's count against
    its trailing 24-hour window (sample stddev), emitted only where
    the window has ≥12 points and positive variance. The window is
    PARTITIONED by event_type, so per-task state is one type's hourly
    series — at 100 TB the hourly pre-aggregation (one
    map-side-combined shuffle) reduces the stream to (types × hours)
    rows before any windowing."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf}/events.parquet")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("double").alias("nf"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "nf",
        F.avg("nf").over(w).alias("mu"),
        F.stddev("nf").over(w).alias("sd"),
        F.count("nf").over(w).alias("cnt"),
    )
    return scored.where((F.col("cnt") >= 12) & (F.col("sd") > 0)).select(
        "event_type",
        "hour",
        F.col("nf").cast("long").alias("n"),
        F.round("mu", 6).alias("trail_avg"),
        F.round((F.col("nf") - F.col("mu")) / F.col("sd"), 6).alias("z"),
    )


def _q_events_hourly(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
    )


def _q_events_sessions(spark, sf):
    """Per-user session windows (30-min gap): Structured-Streaming
    session_window applied in batch mode."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "last_ts",
            "n_events",
            "value_sum",
        )
    )


def _q_events_bounce(spark, sf):
    """Daily bounce rate — share of 30-minute sessions with exactly one
    event, keyed by session-start day (the classic engagement KPI,
    composed from the ev_sessions windows). One session_window
    aggregation + one bounded-key daily aggregate; the exact n/d pair
    rides along so the rounded rate is auditable. Twin replays the
    lag-based session split of _SESSIONS_SQL."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    s = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n"))
        .select(F.to_date("sw.start").cast("string").alias("day"), "n")
    )
    return (
        s.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_bounce"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounce",
            F.round(F.col("n_bounce") / F.col("n_sessions"), 6).alias(
                "bounce_rate"
            ),
        )
    )


def _q_pmi(spark, sf):
    """Association ranking on the co-occurrence graph: top-100 part
    pairs by lift = N·c(a,b)/(c(a)·c(b)) with N = total co-occurrence
    weight — the market-basket / PMI primitive (PMI = log lift).
    Ranked by (round(lift,6) desc, a, b); support ≥ 3 drops noise
    pairs. Vertex marginals are one aggregate of the edge table; the
    score join is edge-sized with two vertex-sized joins."""
    e = coorder_edges(spark, sf)
    und = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "w"
    )
    marg = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.sum("w").alias("c"))
    )
    n_total = und.agg(F.sum("w")).first()[0]
    ma = marg.select(F.col("id").alias("a"), F.col("c").alias("ca"))
    mb = marg.select(F.col("id").alias("b"), F.col("c").alias("cb"))
    return (
        und.where(F.col("w") >= 3)
        .join(ma, "a")
        .join(mb, "b")
        .select(
            "a",
            "b",
            F.col("w").cast("long").alias("support"),
            F.round(
                F.lit(float(n_total)) * F.col("w")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(100)
    )


def _q_bigram_next(spark, sf):
    """Bigram language model head: for each of the 50 most frequent
    first words, the most likely next word with its conditional
    probability — the autocomplete/LM-inspection table. Two map-side-
    combined aggregates + a per-first-word argmax window over
    vocabulary-sized rows."""
    from pyspark.sql import Window as W

    from louvain_communities_openmp_spark.functions.text import tokens

    t = tokens(F.col("text"))
    n = F.size(t)
    grams = F.when(n < 2, F.array().cast("array<array<string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array(F.element_at(t, i), F.element_at(t, i + 1)),
        )
    )
    pairs = (
        _docs(spark, sf)
        .select(F.explode(grams).alias("g"))
        .select(
            F.element_at("g", 1).alias("w1"), F.element_at("g", 2).alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    ).persist()
    tot = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    w_arg = W.partitionBy("w1").orderBy(F.desc("c12"), F.asc("w2"))
    best = (
        pairs.withColumn("rn", F.row_number().over(w_arg))
        .where(F.col("rn") == 1)
        .join(tot, "w1")
        .select(
            "w1",
            F.col("w2").alias("next_word"),
            F.col("c12").cast("long").alias("pair_count"),
            F.col("c1").cast("long").alias("first_count"),
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_next"),
        )
    )
    out = (
        best.orderBy(F.col("first_count").desc(), F.col("w1").asc())
        .limit(50)
    )
    return out


def _q_community_density(spark, sf):
    """Per-community edge density under the mod-64 partition:
    internal undirected edge count / C(size, 2) — the cohesion
    diagnostic run per Louvain community at scale. One membership
    double-join + two map-side-combined aggregates."""
    e = coorder_edges(spark, sf)
    mem = _mod64_membership(e)
    ms = mem.select(F.col("id").alias("src"), F.col("com").alias("cs"))
    md = mem.select(F.col("id").alias("dst"), F.col("com").alias("cd"))
    internal = (
        e.where(F.col("src") < F.col("dst"))
        .join(ms, "src")
        .join(md, "dst")
        .where(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("com"))
        .agg(F.count("*").alias("internal_edges"))
    )
    sizes = mem.groupBy("com").agg(F.count("*").alias("size"))
    return sizes.join(internal, "com", "left").select(
        "com",
        "size",
        F.coalesce("internal_edges", F.lit(0)).cast("long").alias(
            "internal_edges"
        ),
        F.round(
            F.coalesce("internal_edges", F.lit(0))
            / (F.col("size") * (F.col("size") - 1) / 2.0),
            6,
        ).alias("density"),
    )


def _q_conductance(spark, sf):
    """Per-community conductance under the mod-64 partition — the
    partition-quality audit beyond modularity. See
    operators.properties.community_conductance for plan notes."""
    from louvain_communities_openmp_spark.operators.properties import (
        community_conductance,
    )

    e = coorder_edges(spark, sf)
    return community_conductance(e, _mod64_membership(e))


def _q_knn_curve(spark, sf):
    """Degree-correlation curve knn(k) — the curve form of the
    assortativity scalar, edge-wise (integer-exact) definition. See
    operators.structure.avg_neighbor_degree for plan notes."""
    from louvain_communities_openmp_spark.operators.structure import (
        avg_neighbor_degree,
    )

    return avg_neighbor_degree(coorder_edges(spark, sf))


def _q_walks(spark, sf):
    """Deterministic fixed-length walks (GNN neighborhood sampling)
    from the 16 smallest-id vertices: 8 steps, neighbor choice =
    md5(walk_id:step:v) mod outdeg — reproducible across engines."""
    from louvain_communities_openmp_spark.operators.walks import (
        deterministic_walks,
    )

    return deterministic_walks(
        coorder_edges(spark, sf), n_sources=16, walk_len=8
    )


def _q_walks_capped(spark, sf):
    """Hub-capped walks: adjacency rows bounded to the 4 smallest-id
    out-neighbors (``max_neighbors`` — the per-row width bound a
    power-law graph needs; see tests/test_hub_caps.py). APPROXIMATE on
    capped vertices by design; the oracle applies the identical
    sorted-prefix cut."""
    from louvain_communities_openmp_spark.operators.walks import (
        deterministic_walks,
    )

    return deterministic_walks(
        coorder_edges(spark, sf), n_sources=16, walk_len=8, max_neighbors=4
    )


def _q_egonet2(spark, sf):
    """2-hop egonet of the minimum-id vertex: the induced edge set
    among vertices within distance 2 — the subgraph-extraction
    primitive for per-node feature engineering."""
    from louvain_communities_openmp_spark.operators.bfs import bfs
    from louvain_communities_openmp_spark.operators.transforms import (
        vertices,
    )

    e = coorder_edges(spark, sf).persist()
    src = vertices(e).agg(F.min("id").alias("id"))
    vis = bfs(e, src, max_iter=2).distances.select("id")
    return (
        e.join(vis.withColumnRenamed("id", "src"), "src")
        .join(vis.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst", "w")
    )


def _q_contamination(spark, sf):
    """Benchmark decontamination: training docs sharing any distinct
    8-gram shingle with the deterministic eval subset
    (doc_id % 29 == 0). Equi-join on the shingle string against the
    benchmark-sized eval side (broadcast at scale)."""
    from louvain_communities_openmp_spark.operators.dedup import (
        contamination_flags,
    )

    d = _docs(spark, sf)
    return contamination_flags(
        d, d.where(F.col("doc_id") % 29 == 0), k=8, min_shared=1
    )


def _q_repetition(spark, sf):
    """Gopher-style repetition gates: top-word and top-bigram token
    fractions per document."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        repetition_features,
    )

    return repetition_features(_docs(spark, sf))


def _q_events_transitions(spark, sf):
    """Event-type transition matrix: per-user consecutive event pairs
    (ordered by ts with event_id tiebreak) counted into
    (prev_type, event_type, n) — the Markov-chain / funnel-analysis
    statistic. One user-partitioned window (lag) + one
    map-side-combined aggregate; both shuffles key on bounded
    cardinalities (user_id, then type-pair)."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )


def _q_events_funnel(spark, sf):
    """Ordered funnel conversion view→click→purchase: per user, the
    earliest view, the earliest click strictly after it, the earliest
    purchase strictly after that; one row per stage with the user count
    that reached it. Three user-keyed min-aggregates chained by
    vertex-sized joins — no window over the raw event stream."""
    ev = spark.read.parquet(f"{sf}/events.parquet")

    def first_after(etype, prev, prev_ts, out):
        base = ev.where(F.col("event_type") == etype)
        if prev is None:
            return base.groupBy("user_id").agg(F.min("ts").alias(out))
        return (
            base.join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = first_after("view", None, None, "t1")
    s2 = first_after("click", s1, "t1", "t2")
    s3 = first_after("purchase", s2, "t2", "t3")
    return (
        spark.createDataFrame(
            [(1, "view"), (2, "click"), (3, "purchase")],
            "step int, event_type string",
        )
        .join(
            s1.agg(F.count("*").alias("n")).select(
                F.lit(1).alias("step"), "n"
            )
            .unionByName(
                s2.agg(F.count("*").alias("n")).select(
                    F.lit(2).alias("step"), "n"
                )
            )
            .unionByName(
                s3.agg(F.count("*").alias("n")).select(
                    F.lit(3).alias("step"), "n"
                )
            ),
            "step",
        )
        .select("step", "event_type", F.col("n").cast("long").alias("n_users"))
    )


def _q_degree_gini(spark, sf):
    """Gini coefficient of the degree distribution — the inequality
    summary that quantifies hub concentration (power-law validation).
    Computed from the degree HISTOGRAM (distinct-degree-value sized,
    tiny) with rank runs expanded in closed form, so no global sort of
    V rows: G = 2·Σ rank·deg / (n·Σdeg) − (n+1)/n."""
    from pyspark.sql import Window as W

    from louvain_communities_openmp_spark.operators.transforms import degrees

    deg = degrees(coorder_edges(spark, sf))
    hist = deg.groupBy("degree").agg(F.count("*").alias("c"))
    w = W.orderBy("degree").rowsBetween(W.unboundedPreceding, W.currentRow)
    h = hist.select(
        "degree",
        "c",
        F.sum("c").over(w).alias("cum"),
    ).select(
        # Σ_{i in this degree's rank run} i·degree
        # = degree · (prev_cum + 1 + cum) · c / 2
        (
            F.col("degree")
            * (F.col("cum") - F.col("c") + 1 + F.col("cum"))
            * F.col("c")
            / 2.0
        ).alias("rank_weighted"),
        (F.col("degree") * F.col("c")).alias("dsum"),
        "c",
    )
    row = h.agg(
        F.sum("rank_weighted").alias("rw"),
        F.sum("dsum").alias("s"),
        F.sum("c").alias("n"),
    ).first()
    n, s, rw = float(row["n"]), float(row["s"]), float(row["rw"])
    gini = 2.0 * rw / (n * s) - (n + 1.0) / n
    spark_df = spark.createDataFrame(
        [(int(n), float(s))], "n_vertices long, total_degree double"
    )
    return spark_df.select(
        "n_vertices",
        F.col("total_degree").cast("long").alias("total_degree"),
        F.round(F.lit(gini), 6).alias("gini"),
    )


def _q_richclub(spark, sf):
    """Rich-club coefficients φ(k) = 2·E_k / (N_k·(N_k−1)) for k in
    {10, 50, 100}: the density among vertices of degree > k — do hubs
    preferentially interlink? Degrees join both edge endpoints; one
    aggregate per threshold."""
    from louvain_communities_openmp_spark.operators.transforms import degrees

    e = coorder_edges(spark, sf)
    deg = degrees(e)
    ds = deg.select(F.col("id").alias("src"), F.col("degree").alias("dsrc"))
    dd = deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddst"))
    ann = (
        e.where(F.col("src") < F.col("dst")).join(ds, "src").join(dd, "dst")
    ).persist()
    rows = []
    for k in (10, 50, 100):
        nk = deg.where(F.col("degree") > k).count()
        ek = ann.where(
            (F.col("dsrc") > k) & (F.col("ddst") > k)
        ).count()
        phi = (2.0 * ek / (nk * (nk - 1))) if nk > 1 else 0.0
        rows.append((k, int(nk), int(ek), round(phi, 6)))
    ann.unpersist()
    return spark.createDataFrame(
        rows, "k int, n_rich long, e_rich long, phi double"
    )


def _q_sparsify(spark, sf):
    """Deterministic 10% graph sparsification — the interactive
    subsample of a web-scale edge table. Map-only; the verdict keys on
    the sorted endpoint pair so the kept set stays symmetric."""
    from louvain_communities_openmp_spark.operators.structure import (
        sparsify_edges,
    )

    return sparsify_edges(coorder_edges(spark, sf), fraction=0.1)


def _q_supplier_projection(spark, sf):
    """Bipartite projection: the part–supplier incidence collapsed to a
    supplier co-part graph — top-100 supplier pairs by shared distinct
    parts. The incidence is DISTINCT-ed first, so the per-part
    quadratic is bounded by suppliers-per-part (≤4 in this corpus),
    the projection analog of the wedge-join hub cap."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    a = ps.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sa")
    )
    b = ps.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sb")
    )
    return (
        a.join(b, "pk")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.countDistinct("pk").alias("shared_parts"))
        .orderBy(
            F.col("shared_parts").desc(), F.col("sa").asc(), F.col("sb").asc()
        )
        .limit(100)
    )


def _q_edges_monthly(spark, sf):
    """Temporal slice of the co-order graph: distinct co-occurring
    part pairs ACTIVE per order month — the time-sliced graph-metrics
    view (graph evolution over the corpus timeline)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("s"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("d"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("s") < F.col("d"))
        .join(o, a.l_orderkey == o.o_orderkey)
        .groupBy("month")
        .agg(F.countDistinct("s", "d").alias("n_active_pairs"))
    )


def _q_corpus_profile(spark, sf):
    """Per-source dataset-card statistics: doc counts, exact distinct
    content, total/percentile chars. The exact mode is the oracle
    twin; the one-pass HLL/t-digest mode (exact=False) is the 100 TB
    path, its error pinned by pytest against this one."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        corpus_profile,
    )

    return corpus_profile(_docs(spark, sf), exact=True)


def _q_events_retention(spark, sf):
    """Weekly cohort retention: users bucketed by their first-activity
    week (cohort), counted in every later week they return —
    (cohort_week, week_offset, n_users, retention). Two user-keyed
    aggregates + one distinct — the standard growth-analytics rollup,
    with week = floor(days-since-epoch / 7) so the bucketing is
    calendar-independent and engine-portable."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    wk = (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7).cast(
        "long"
    )
    uw = ev.select("user_id", wk.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    ret = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("n_users") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


def _q_eccentricity(spark, sf):
    """Per-pivot eccentricity + reached count from the 8 smallest-id
    sources — the sampled pseudo-diameter probe; same BFS kernel as
    g_harmonic8."""
    from louvain_communities_openmp_spark.operators.centrality import (
        eccentricities,
    )

    return eccentricities(coorder_edges(spark, sf), n_sources=8)


def _q_bfs_hops(spark, sf):
    """Hop distances from the minimum-id vertex (bfs.hxx analog)."""
    from louvain_communities_openmp_spark.operators.bfs import bfs
    from louvain_communities_openmp_spark.operators.transforms import vertices

    e = coorder_edges(spark, sf).persist()
    src = vertices(e).agg(F.min("id").alias("id"))
    return bfs(e, src).distances


def _q_winnow(spark, sf):
    """Winnowing (MOSS) document fingerprints: positional 5-gram md5
    hashes, sliding window w=4, keep each window's min — any shared
    token run >= w+k-1 long yields a shared fingerprint
    (operators/dedup.py::winnow_fingerprints). Twin replays the scheme
    with the identical 15-hex-char md5 parse and 1-based positions."""
    from louvain_communities_openmp_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return winnow_fingerprints(docs, k=5, w=4)


def _q_widest4(spark, sf):
    """Widest (bottleneck / max-min) path width over <=4-edge paths
    from the 4 smallest-id pivots (operators/sssp.py::widest_fixed) —
    the trust-propagation / capacity dual of g_sssp6, BIGINT-exact.
    Twin unrolls 4 max-of-least relaxation rounds."""
    from louvain_communities_openmp_spark.operators.sssp import widest_fixed

    return widest_fixed(coorder_edges(spark, sf), n_sources=4, rounds=4).dists


def _q_link_exchange(spark, sf):
    """Reciprocal host-pair link exchange (webstructure.py::
    link_exchange) — the link-farm / link-swap spam signal: host pairs
    with page edges in BOTH directions, counts BIGINT-exact. Twin
    self-joins the host-contracted CTE on the swapped pair."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        link_exchange,
    )

    return link_exchange(coorder_edges(spark, sf), n_hosts=64)


def _q_containment(spark, sf):
    """Asymmetric k-gram containment pairs |A∩B|/|A| ≥ 0.6
    (operators/dedup.py::ngram_containment_pairs) — the quote /
    subset-document detector Jaccard misses. Twin reuses the shingle
    CTE with the directed join and the same -1e-12 gate."""
    from louvain_communities_openmp_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return ngram_containment_pairs(docs, k=5, threshold=0.6, max_df=1000)


def _q_sq_topk(spark, sf):
    """Scalar-quantized ANN top-k (operators/similarity.py::sq_topk):
    per-dimension 16-level uniform codes from exact global min/max,
    neighbors ranked by BIGINT squared code distance — the SQ leg of
    the LSH / IVF / SQ ANN triad, no float tolerance anywhere. Twin
    re-quantizes relationally (unnest + per-dim min/max join) with the
    identical clamp/floor expression."""
    from louvain_communities_openmp_spark.operators.similarity import sq_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return sq_topk(emb, n_queries=10, k=10)


def _q_absorb4(spark, sf):
    """First-hit absorption walk counts into the id%64==0 target set
    within 4 forward steps (operators/centrality.py::absorb_fixed) —
    the TrustRank-family absorption statistic, BIGINT-exact. Twin
    unrolls the 4 first-hit rounds with running-total joins."""
    from louvain_communities_openmp_spark.operators.centrality import (
        absorb_fixed,
    )

    return absorb_fixed(coorder_edges(spark, sf), iters=4)


def _q_click_depth4(spark, sf):
    """Per-host click depth: hop distance from each host's root page
    (minimum page id per host; host(i) = i % 16 as in
    sources/pages.py::url_of) over the INTRA-host link subgraph, capped
    at 4 hops — the crawl-depth signal a crawler uses to budget deep
    pages (depth-0 = homepage, depth>k usually deprioritized).
    Multi-source BFS (operators/bfs.py, one frontier per host root);
    cross-host edges are filtered out, so each host's reached set is
    exactly its root's 4-ball and the per-host frontiers can never
    interfere. Scale shape: the intra-host filter prunes at the scan,
    the k=4 cap bounds rounds, and each round moves only the
    vertex-sized frontier (edges stay put). Twin: 4 unrolled min-plus
    rounds over the host-filtered edge CTE."""
    from louvain_communities_openmp_spark.operators.bfs import bfs
    from louvain_communities_openmp_spark.operators.transforms import vertices

    e = coorder_edges(spark, sf)
    intra = e.where((F.col("src") % 16) == (F.col("dst") % 16))
    roots = (
        vertices(e)
        .groupBy((F.col("id") % 16).alias("host"))
        .agg(F.min("id").alias("id"))
        .select("id")
    )
    d = bfs(intra, roots, max_iter=4).distances
    return d.select(
        "id",
        (F.col("id") % 16).cast("long").alias("host"),
        F.col("dist").alias("depth"),
    )


def _q_transpose_degrees(spark, sf):
    from louvain_communities_openmp_spark.operators.transforms import (
        transpose_with_degree,
    )

    return transpose_with_degree(coorder_edges(spark, sf))


def _q_lsh_topk(spark, sf):
    """Approximate cosine top-k via random-hyperplane LSH buckets. The
    hyperplanes are deterministic driver-computed literals, so the
    whole computation (sketch, probe, re-rank) has an exact DuckDB
    twin with the same coefficients inlined."""
    from louvain_communities_openmp_spark.operators.similarity import cosine_topk_lsh

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    return cosine_topk_lsh(emb, queries, k=10)


def _q_ivf_topk(spark, sf):
    """Approximate cosine top-k via an IVF coarse index (deterministic
    lowest-id anchors as centroids): cell assignment is a broadcast-
    literal codegen scan, probing an equi-join on the cell key."""
    from louvain_communities_openmp_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    return cosine_topk_ivf(emb, queries, k=10)


def _q_minhash_lsh_pairs(spark, sf):
    """MinHash-LSH near-dup pairs: banding is md5 over the (oracled)
    signature columns, so the full band→bucket→verify pipeline is
    SQL-expressible."""
    from louvain_communities_openmp_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf), k=5, num_hashes=8, bands=4)


def _q_dedup_clusters(spark, sf):
    """Transitive near-dup clustering (LSH pairs → connected components
    → canonical representative) — the actionable form of dedup: keep
    one doc per near-dup cluster."""
    from louvain_communities_openmp_spark.operators.dedup import (
        near_dup_clusters,
    )

    return near_dup_clusters(_docs(spark, sf), k=5, num_hashes=8, bands=4)


def _q_community_degree(spark, sf):
    from louvain_communities_openmp_spark.operators.properties import (
        community_total_degree,
    )

    e = coorder_edges(spark, sf)
    return community_total_degree(e, _mod64_membership(e))


def _q_jaccard(spark, sf):
    """Neighbor-set Jaccard for the top-100 common-neighbor pairs —
    link-prediction companion of adamic-adar; same integer ranking
    key, score rounded to 6."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        jaccard_topk,
    )

    return jaccard_topk(
        coorder_edges(spark, sf), k=100, max_pivot_degree=10_000
    )


def _q_harmonic(spark, sf):
    """Sampled harmonic centrality (8 deterministic pivot sources,
    Boldi-Vigna estimator shape): per-vertex sum of 1/d(s,v) via
    multi-source frontier BFS; unreached vertices score 0."""
    from louvain_communities_openmp_spark.operators.centrality import (
        harmonic_centrality,
    )

    return harmonic_centrality(coorder_edges(spark, sf), n_sources=8).scores


def _q_tfidf(spark, sf):
    """Per-document top-3 TF-IDF terms; ranked on the rounded score +
    lexicographic tiebreak (engine-portable cut)."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        tfidf_topk_per_doc,
    )

    return tfidf_topk_per_doc(_docs(spark, sf), k_per_doc=3)


def _q_unigram_lm(spark, sf):
    """Per-document mean unigram log-likelihood under the corpus's own
    ML unigram model — the perplexity-filter stand-in quality signal."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        unigram_lm_score,
    )

    return unigram_lm_score(_docs(spark, sf))


def _q_chunk_dedup(spark, sf):
    """Cross-document chunk-level dedup summary (C4-style boilerplate
    pass): chunks repeated across >=2 docs dropped everywhere except
    their canonical occurrence."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        chunk_dedup,
    )

    return chunk_dedup(_docs(spark, sf))


def _q_pii_redact(spark, sf):
    """PII scrub: email/phone masks + match counts. The synthetic
    corpus is PII-free so counts are 0 here — the md5 of the redacted
    text still verifies the replace is a cross-engine no-op on clean
    text; planted-fixture pytest (tests/test_pipeline_ops.py) verifies
    the positive case."""
    from louvain_communities_openmp_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.md5(redact_pii(F.col("text"))).alias("red_hash"),
        *pii_counts(F.col("text")),
    )


def _q_cocitation(spark, sf):
    """Top-100 co-citation pairs on the DIRECTED half of the co-order
    graph, source-outdegree capped at 150 (the cap is mirrored in the
    DuckDB twin, so parity is exact)."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        cocitation_topk,
    )

    e = coorder_edges(spark, sf).where(F.col("src") < F.col("dst"))
    return cocitation_topk(e, k=100, max_source_outdegree=150)


def _q_bibcoupling(spark, sf):
    """Top-100 bibliographic-coupling pairs on the directed half,
    target-indegree capped at 150 (mirrored in the twin)."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        bib_coupling_topk,
    )

    e = coorder_edges(spark, sf).where(F.col("src") < F.col("dst"))
    return bib_coupling_topk(e, k=100, max_target_indegree=150)


def _q_salsa4(spark, sf):
    """Weighted SALSA hubs/authorities, 4 L1-normalized backward-
    forward iterations, on the directed half (same setup as g_hits4)."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        salsa_fixed,
    )

    e = coorder_edges(spark, sf).where(F.col("src") < F.col("dst"))
    return salsa_fixed(e, iters=4)


def _q_powerlaw_alpha(spark, sf):
    """Hill MLE power-law exponent of the degree tail (dmin=5)."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        hill_alpha,
    )

    return hill_alpha(coorder_edges(spark, sf), dmin=5)


def _q_hostgraph(spark, sf):
    """Host-level contraction of the page graph (host = id % 64, the
    deterministic url_of mapping): weight + page-edge count per host
    pair."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        host_contract,
    )

    return host_contract(coorder_edges(spark, sf), n_hosts=64)


def _q_reach2(spark, sf):
    """EXACT 2-hop neighborhood size per vertex (ball cardinality incl.
    self). hyperball_reach is the pytest-pinned sketch path for the
    regime where exact ball materialization explodes."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        khop_reach,
    )

    return khop_reach(coorder_edges(spark, sf), r=2)


def _q_nf2(spark, sf):
    """Exact neighborhood function N(r), r=0..2: ordered reachable
    pairs + average ball size — the quantity HyperBall estimates at
    web scale (pinned against it in pytest)."""
    from louvain_communities_openmp_spark.operators.webstructure import (
        neighborhood_function,
    )

    return neighborhood_function(coorder_edges(spark, sf), rmax=2)


def _q_leiden_mod64(spark, sf):
    """Leiden refinement step applied to the deterministic id%64
    partition: split internally-disconnected communities into their
    connected parts (refined label = part's min vertex id). The twin
    unrolls intra-community hash-min CC with a convergence sentinel."""
    from louvain_communities_openmp_spark.operators.structure import (
        refine_partition,
    )
    from louvain_communities_openmp_spark.operators.transforms import (
        vertices,
    )

    e = coorder_edges(spark, sf)
    mem = vertices(e).select(
        "id", (F.col("id") % 64).cast("long").alias("com")
    )
    return refine_partition(e, mem)


def _pages_n(spark, sf) -> int:
    """Page-id universe for the synthetic pages table: 0..max(p_partkey)
    (dense, deterministic — co-order vertices are l_partkey values, all
    ≤ max(p_partkey))."""
    part = spark.read.parquet(f"{sf}/part.parquet").select("p_partkey")
    return int(part.agg(F.max("p_partkey")).first()[0]) + 1


def _q_pages_extract_edges(spark, sf):
    """The mandated front door (BASELINE.json input_hint) in the HARD
    signal: synthesize the Common-Crawl-shaped pages table (url,
    warc_ts, html binary, text, lang) whose anchors encode the co-order
    graph, extract hrefs with the vectorized Arrow UDF
    (functions/extract.py), dictionary-encode urls to dense ids
    (scalable range-partitioned rank, sources/edges.py:27), and
    aggregate to the weighted directed edge list. The DuckDB twin
    re-synthesizes the html in SQL and re-extracts with
    regexp_extract_all — two independent html→edges pipelines must
    agree row-for-row, ids included."""
    from louvain_communities_openmp_spark.sources.edges import edges_from_pages
    from louvain_communities_openmp_spark.sources.pages import make_pages

    pages = make_pages(
        spark, coorder_edges(spark, sf), n=_pages_n(spark, sf), n_hosts=16
    )
    e, _ids = edges_from_pages(pages, symmetric=False)
    return e.select("src", "dst", "w")


def _q_pages_host_profile(spark, sf):
    """Per-host crawl profile over the synthesized pages table, with
    the north-rule BYTE-IDENTITY invariant in the hard signal:
    n_text_exact counts pages whose Arrow-UDF-extracted text equals the
    stored text column (must equal n_pages on every host — the twin
    recomputes the extraction with an independent SQL regex), n_links
    counts extracted anchors. One map-side-combined aggregate over a
    bounded host domain — no skew risk at any scale."""
    from louvain_communities_openmp_spark.functions.extract import (
        extract_links,
        extract_text,
    )
    from louvain_communities_openmp_spark.sources.pages import make_pages

    pages = make_pages(
        spark, coorder_edges(spark, sf), n=_pages_n(spark, sf), n_hosts=16
    )
    return (
        pages.select(
            F.regexp_extract("url", r"https://(host\d+)\.example/", 1).alias(
                "host"
            ),
            F.size(extract_links("html")).alias("nl"),
            (extract_text("html") == F.col("text")).cast("int").alias("tm"),
            (F.col("lang") == "de").cast("int").alias("de"),
            F.length("text").alias("tl"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("nl").cast("long").alias("n_links"),
            F.sum("tm").cast("long").alias("n_text_exact"),
            F.sum("de").cast("long").alias("n_de"),
            F.sum("tl").cast("long").alias("text_chars"),
        )
    )


def _q_pages_latest_capture(spark, sf):
    """Crawl-index freshness dedupe over the input_hint shape: three
    captures per url with deterministic warc_ts jitter, keep the
    freshest per url via ONE map-side-combined max(struct) aggregation
    (latest_snapshot — NOT a window sort: partial agg collapses each
    url's captures before the single shuffle, sources/pages.py)."""
    from louvain_communities_openmp_spark.sources.pages import (
        latest_snapshot,
        make_captures,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    latest = latest_snapshot(make_captures(docs, "doc_id", n_captures=3))
    return latest.select(
        "url", "capture", F.col("warc_ts").cast("string").alias("ts")
    )


def _q_pages_anchor_terms(spark, sf):
    """Inbound anchor-text profile per target url (operators/anchors.py
    — the web-search link-context feature): total anchor terms + the
    dominant term, both aggregates map-side-combinable. The twin
    re-extracts (href, text) pairs with an independent SQL regex over
    the re-synthesized html."""
    from louvain_communities_openmp_spark.operators.anchors import (
        anchor_text_terms,
    )
    from louvain_communities_openmp_spark.sources.pages import make_pages

    pages = make_pages(
        spark, coorder_edges(spark, sf), n=_pages_n(spark, sf), n_hosts=16
    )
    return anchor_text_terms(pages)


def _q_mis3(spark, sf):
    """Three deterministic Luby MIS rounds on the co-order graph
    (operators/mis.py): status 1 = in set, 2 = excluded, 0 = undecided
    after the round budget. Deterministic multiplicative-hash
    priorities make each round an exact function of the input; the twin
    unrolls the rounds with correlated anti-joins."""
    from louvain_communities_openmp_spark.operators.mis import mis_rounds

    return mis_rounds(coorder_edges(spark, sf), rounds=3)


def _q_url_canonical(spark, sf):
    """URL canonicalization (functions/urls.py — pure Catalyst, no
    Python): three messy spellings per page (mixed-case scheme/host,
    default ports, empty query, fragment) collapse to their canonical
    key. The twin re-implements the documented grammar independently in
    SQL. https variants collapse 2→1; the http variant keeps its own
    canonical (scheme is identity)."""
    from louvain_communities_openmp_spark.functions.urls import (
        canonical_url,
        host_of,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    h = (F.col("doc_id") % 16).cast("string")
    i = F.col("doc_id").cast("string")
    raw = docs.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTPS://Host"), h, F.lit(".Example:443/p"), i,
                    F.lit("#sec"), (F.col("doc_id") % 5).cast("string"),
                ),
                F.concat(
                    F.lit("https://host"), h, F.lit(".example/p"), i, F.lit("?")
                ),
                F.concat(F.lit("http://HOST"), h, F.lit(".example:80/p"), i),
            )
        ).alias("url")
    )
    return (
        raw.select(
            canonical_url(F.col("url")).alias("canonical"),
            host_of(F.col("url")).alias("host"),
        )
        .groupBy("canonical", "host")
        .agg(F.count("*").alias("n_variants"))
    )


def _q_katz4(spark, sf):
    """Truncated Katz centrality (4 terms, α=1/100) on the co-order
    graph — bounded-round contract, pagerank-family plan shape (static
    table partitioned on the agg key + broadcast scores ⇒ zero edge
    exchange per round under the gate). exact_int mode carries scores
    scaled by 100^t as longs (co-occurrence weights are integers), so
    the unrolled-SQL twin matches EXACTLY — no float-rounding-boundary
    exposure at all (unlike the round(·,7) pagerank convention)."""
    from louvain_communities_openmp_spark.operators.centrality import (
        katz_fixed,
    )

    return katz_fixed(
        coorder_edges(spark, sf), alpha=0.01, iters=4, exact_int=True
    )


def _q_resource_alloc(spark, sf):
    """Resource-Allocation link-prediction scores (Σ 1/deg over common
    neighbors) for the top-100 common-neighbor pairs; same hub cap,
    wedge plan, and integer-ranked ordering contract as
    g_adamic_adar100."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        resource_allocation_topk,
    )

    return resource_allocation_topk(
        coorder_edges(spark, sf), k=100, max_pivot_degree=10_000
    )


def _q_pref_attach(spark, sf):
    """Preferential-attachment scores deg(a)·deg(b) for the top-100
    common-neighbor pairs — exact BIGINT product, no float anywhere in
    the query; degrees from the full graph, candidate wedges under the
    shared hub cap."""
    from louvain_communities_openmp_spark.operators.linkpred import (
        preferential_attachment_topk,
    )

    return preferential_attachment_topk(
        coorder_edges(spark, sf), k=100, max_pivot_degree=10_000
    )


def _q_closeness(spark, sf):
    """Per-pivot closeness centrality over the reachable set (8
    deterministic pivot sources, Wasserman-Faust form): one row per
    pivot with (n_reached, sum_dist, closeness); shares the
    multi-source-BFS kernel with g_harmonic8/g_ecc8."""
    from louvain_communities_openmp_spark.operators.centrality import (
        closeness_per_source,
    )

    return closeness_per_source(coorder_edges(spark, sf), n_sources=8)


def _q_eigen4(spark, sf):
    """Eigenvector-centrality power iterate (4 steps, exact integer
    carry): paths4 = weighted length-4 path count into each vertex
    (BIGINT, exact on both engines), eigenvector = paths4 / Σ paths4
    rounded to 9 — the single float op is one division of two exact
    integers (the g_katz4 exactness contract)."""
    from louvain_communities_openmp_spark.operators.centrality import (
        eigenvector_fixed,
    )

    return eigenvector_fixed(coorder_edges(spark, sf), iters=4)


def _q_host_pagerank3(spark, sf):
    """Host-level PageRank: contract the page graph to the 64-host
    graph (webstructure.host_contract — the groupBy-community
    contraction applied to a fixed partition), then run the standard
    fixed-3-iteration PageRank on the contracted weighted edges. The
    domain-ranking composition every web pipeline runs; the contracted
    graph is 64 vertices, so every downstream join broadcasts."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_fixed,
    )
    from louvain_communities_openmp_spark.operators.webstructure import (
        host_contract,
    )

    h = host_contract(coorder_edges(spark, sf), n_hosts=64).select(
        F.col("hsrc").alias("src"),
        F.col("hdst").alias("dst"),
        F.col("weight").alias("w"),
    )
    return pagerank_fixed(h, alpha=0.85, iters=3)


_BM25_TERMS = ("filter", "hash", "join", "merge", "slow")


def _q_bm25(spark, sf):
    """Okapi BM25 relevance of every document against a fixed 5-term
    query (k1=1.2, b=0.75): (doc_id, n_terms_matched, bm25) for docs
    matching ≥1 term — the retrieval-scoring primitive; no
    float-ordered cut (the row set is exact)."""
    from louvain_communities_openmp_spark.operators.pipeline import (
        bm25_scores,
    )

    return bm25_scores(_docs(spark, sf), list(_BM25_TERMS))


def _q_pagerank_dangling3(spark, sf):
    """Dangling-aware PageRank, 3 fixed iterations, on the md5-sampled
    DIRECTED purchase-sequence graph (g_scc's bow-tie fixture): sink
    vertices (the OUT periphery) re-spread their rank uniformly every
    iteration, keeping total mass exactly 1 — the variant every
    directed web graph needs (pagerank_fixed / g_pagerank3 assume a
    sink-free symmetric graph where the dangling term is zero). The
    DuckDB twin unrolls the identical recurrence with a per-iteration
    dangling-mass scalar CTE."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_dangling_fixed,
    )
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    return pagerank_dangling_fixed(
        sequence_edges(spark, sf, thr="0a"), alpha=0.85, iters=3
    )


def _q_partition_nmi(spark, sf):
    """Partition-agreement metrics — symmetric NMI (2·MI/(H(A)+H(B)),
    natural log) and Adjusted Rand Index — between the SCC membership
    of the sampled directed purchase-sequence graph and the 64-bucket
    id-hash partition (id % 64): the standard evaluation pair for
    scoring a detected community structure against an external
    labelling (operators/properties.py partition_similarity — ONE
    contingency shuffle, everything downstream cluster-count-sized).
    The DuckDB twin recomputes SCC via the recursive transitive
    closure and applies the identical contingency formulas."""
    from louvain_communities_openmp_spark.operators.properties import (
        partition_similarity,
    )
    from louvain_communities_openmp_spark.operators.scc import (
        strongly_connected_components,
    )
    from louvain_communities_openmp_spark.sources.edges import sequence_edges

    comp = strongly_connected_components(
        sequence_edges(spark, sf, thr="0a")
    ).components
    return partition_similarity(
        comp.select("id", F.col("scc").alias("ca")),
        comp.select("id", (F.col("id") % 64).alias("cb")),
    )


def _q_lsh_dedup_recall(spark, sf):
    """Recall of the MinHash-LSH candidate generator against the exact
    shared-shingle Jaccard pairs at the 0.8 dedup threshold — the
    acceptance metric for banded dedup (how many true near-dup pairs
    the banding surfaces). Composition of two verified kernels
    (d_ngram_pairs exact ≥0.8, d_minhash_lsh_pairs candidates ≥0.7);
    both apply the same hot-shingle max_df cut, so the ratio is
    engine-identical. One row: n_exact_pairs, n_caught, recall."""
    from louvain_communities_openmp_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf)
    exact = ngram_jaccard_pairs(docs, k=5, threshold=0.8).select("a", "b")
    lsh = minhash_lsh_pairs(docs, k=5, num_hashes=8, bands=4).select(
        "a", "b", F.lit(1).alias("hit")
    )
    return exact.join(lsh, ["a", "b"], "left").agg(
        F.count("*").cast("long").alias("n_exact_pairs"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_caught"),
        F.round(
            F.sum(F.coalesce("hit", F.lit(0))) / F.count("*"), 6
        ).alias("recall"),
    )


def _q_crawl_budget(spark, sf):
    """Crawl-budget apportionment: split a fixed budget of 100,000
    fetches across the 64 hosts proportionally to host PageRank using
    Hamilton's largest-remainder method — floor shares first, the
    leftover units to the largest fractional remainders (host id
    tiebreak). The rank is scaled to integer units (round(rank·1e7)),
    so the whole apportionment is INTEGER arithmetic — engine-exact,
    no float tolerance — and Σ budget = 100,000 by construction. All
    frames are host-domain-sized (64 rows): the window and scalar
    cross joins are bounded regardless of corpus size."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_fixed,
    )
    from louvain_communities_openmp_spark.operators.webstructure import (
        host_contract,
    )
    from pyspark.sql import Window as W

    h = host_contract(coorder_edges(spark, sf), n_hosts=64).select(
        F.col("hsrc").alias("src"),
        F.col("hdst").alias("dst"),
        F.col("weight").alias("w"),
    )
    ri = pagerank_fixed(h, alpha=0.85, iters=3).select(
        F.col("id").alias("host"),
        F.round(F.col("rank") * 1e7, 0).cast("long").alias("ri"),
    )
    tot = ri.agg(F.sum("ri").alias("rtot"))
    b = 100000
    shares = ri.crossJoin(F.broadcast(tot)).select(
        "host",
        "ri",
        F.expr(f"({b} * ri) div rtot").alias("base"),
        F.expr(f"({b} * ri) % rtot").alias("rem"),
    )
    spent = shares.agg(F.sum("base").alias("base_tot"))
    rn = F.row_number().over(
        W.orderBy(F.desc("rem"), F.asc("host"))
    )
    return (
        shares.crossJoin(F.broadcast(spent))
        .select(
            "host",
            "base",
            rn.alias("rn"),
            (F.lit(b) - F.col("base_tot")).alias("leftover"),
        )
        .select(
            "host",
            (
                F.col("base")
                + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("budget"),
        )
    )


def _q_host_rank_mass(spark, sf):
    """Host authority the OTHER classic way: run PageRank on the PAGE
    graph, then aggregate rank mass per host bucket (id % 64) — vs
    g_host_pagerank3 which first contracts the graph to hosts and
    ranks that. The two genuinely differ (contraction loses intra-host
    structure); shipping both lets a user compare them. One
    vertex-sized aggregation over the verified pagerank kernel, host
    domain bounded at 64."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_fixed,
    )

    pr = pagerank_fixed(coorder_edges(spark, sf), alpha=0.85, iters=3)
    return pr.groupBy((F.col("id") % 64).alias("host")).agg(
        F.count("*").cast("long").alias("n_pages"),
        F.round(F.sum("rank"), 7).alias("rank_mass"),
    )


def _q_snapshot_diff(spark, sf):
    """Month-over-month graph churn — the web-graph evolution metric:
    for every month whose predecessor month is also present, count the
    distinct co-order edges ADDED (active now, not last month),
    REMOVED (active last month, gone now) and RETAINED. One distinct
    per-month edge set (single map-side-combined shuffle), then a
    co-partitioned full join of the set against itself shifted one
    month — pure integer counts, no float tolerance. At 100 TB the
    join is (month, s, d)-keyed and both sides share the partitioning
    of the same persisted frame."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("s"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("d"))
    em = (
        a.join(b, "l_orderkey")
        .where(F.col("s") < F.col("d"))
        .join(o, a.l_orderkey == o.o_orderkey)
        .select("month", "s", "d")
        .distinct()
        .persist()
    )
    months = em.select("month").distinct()
    valid = months.select(
        F.add_months("month", 1).alias("month")
    ).join(months, "month").distinct()
    prev = em.select(
        F.add_months("month", 1).alias("month"),
        "s",
        "d",
        F.lit(1).alias("in_prev"),
    )
    cur = em.select("month", "s", "d", F.lit(1).alias("in_cur"))
    j = cur.join(prev, ["month", "s", "d"], "full").join(
        F.broadcast(valid), "month"
    )
    return j.groupBy("month").agg(
        F.sum(
            F.when(
                F.col("in_cur").isNotNull() & F.col("in_prev").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_added"),
        F.sum(
            F.when(
                F.col("in_prev").isNotNull() & F.col("in_cur").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_removed"),
        F.sum(
            F.when(
                F.col("in_cur").isNotNull() & F.col("in_prev").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
    )


def _q_ann_recall(spark, sf):
    """Recall@10 of the LSH approximate nearest-neighbor path against
    the exact brute-force cosine top-10, per query — THE acceptance
    metric for any ANN deployment (how much of the true neighborhood
    the bucketed index keeps). Pure composition of the two verified
    kernels (e_cosine_topk, e_lsh_topk): both emit deterministic
    tie-broken (query_id, neighbor_id) sets, so the intersection
    count is engine-identical; the DuckDB twin nests the two kernel
    twins as subqueries and applies the same left-join count."""
    from louvain_communities_openmp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    exact = cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_lsh(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.lit(10.0), 6
            ).alias("recall_at_10"),
        )
    )


def _q_ivf_recall(spark, sf):
    """Recall@10 of the IVF coarse-index ANN path against the exact
    brute-force cosine top-10 — the acceptance metric for the second
    (cell-probed) index, same composition as e_ann_recall."""
    from louvain_communities_openmp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    exact = cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_ivf(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.lit(10.0), 6
            ).alias("recall_at_10"),
        )
    )


def _q_frontier_shards(spark, sf):
    """Crawl-frontier sharding with per-host politeness: take the
    recrawl priorities (p_crawl_schedule), pin every host to ONE
    worker (host-affine worker = host % 8 — per-host rate limits are
    then enforceable locally on the owning worker, no cross-worker
    coordination), order each host's urls by priority, and schedule
    eta_s = (fetch_seq − 1) × 15 s — the single-connection 15-second
    crawl-delay politeness model. The per-host row_number window is
    scale-safe: partitionBy(host) never materializes more than one
    host's url list per task, and a pathological mega-host would be
    range-split by AQE on the window exchange."""
    from pyspark.sql import Window as W

    sched = _q_crawl_schedule(spark, sf)
    seq = F.row_number().over(
        W.partitionBy("host").orderBy(F.desc("priority"), "url")
    )
    return sched.select(
        "url",
        "host",
        "priority",
        (F.col("host") % 8).cast("long").alias("worker"),
        seq.cast("long").alias("fetch_seq"),
        ((seq - 1) * 15).cast("long").alias("eta_s"),
    )


def _q_spam_mass3(spark, sf):
    """TrustRank spam mass (Gyongyi/Garcia-Molina/Pedersen): rank every
    page by standard PageRank, re-rank with the teleport vector
    confined to a trusted seed set (ids ≡ 0 mod 100 — the same seeds
    as g_ppr3), and report spam_mass = (PR − TR)/PR — the fraction of
    a page's rank that does NOT flow from trusted pages, the classic
    web-spam demotion signal. Pure composition of the two verified
    kernels: both emit 7dp-rounded DOUBLEs, so the arithmetic on the
    joined rows is bit-identical across engines; the join is
    vertex-sized on both sides."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_fixed,
        personalized_pagerank_fixed,
    )

    e = coorder_edges(spark, sf)
    seeds = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .where(F.col("id") % 100 == 0)
    )
    pr = pagerank_fixed(e, alpha=0.85, iters=3).withColumnRenamed(
        "rank", "pr_rank"
    )
    tr = personalized_pagerank_fixed(
        e, seeds, alpha=0.85, iters=3
    ).withColumnRenamed("rank", "trust_rank")
    return pr.join(tr, "id").select(
        "id",
        "pr_rank",
        "trust_rank",
        F.round(
            (F.col("pr_rank") - F.col("trust_rank")) / F.col("pr_rank"), 7
        ).alias("spam_mass"),
    )


def _q_crawl_schedule(spark, sf):
    """Recrawl scheduling — the composition every crawler runs: dedupe
    the multi-capture crawl index to the freshest snapshot per url
    (latest_snapshot: ONE map-side-combined max(struct) agg), compute
    host authority as fixed-3-iter PageRank on the 16-host contracted
    graph, and set priority = host_rank · staleness_seconds (stale,
    authoritative hosts first). The host-rank side is 16 rows —
    broadcast; the "now" anchor is the global max capture ts
    (deterministic, no wall clock); staleness is integer seconds so
    the priority product is engine-identical on the 7dp-rounded rank."""
    from louvain_communities_openmp_spark.operators.pagerank import (
        pagerank_fixed,
    )
    from louvain_communities_openmp_spark.operators.webstructure import (
        host_contract,
    )
    from louvain_communities_openmp_spark.sources.pages import (
        latest_snapshot,
        make_captures,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    latest = latest_snapshot(
        make_captures(docs, "doc_id", n_captures=3)
    ).withColumn(
        "host",
        F.regexp_extract("url", r"https://host(\d+)\.example/", 1).cast(
            "long"
        ),
    )
    hr = pagerank_fixed(
        host_contract(coorder_edges(spark, sf), n_hosts=16).select(
            F.col("hsrc").alias("src"),
            F.col("hdst").alias("dst"),
            F.col("weight").alias("w"),
        ),
        alpha=0.85,
        iters=3,
    ).withColumnRenamed("id", "host")
    now = latest.agg(F.max("warc_ts").alias("now_ts"))
    return (
        latest.crossJoin(F.broadcast(now))
        .withColumn(
            "stale_s",
            (
                F.unix_timestamp("now_ts") - F.unix_timestamp("warc_ts")
            ).cast("long"),
        )
        .join(F.broadcast(hr), "host")
        .select(
            "url",
            F.col("host").cast("long").alias("host"),
            "stale_s",
            F.col("rank").alias("host_rank"),
            F.round(F.col("rank") * F.col("stale_s"), 6).alias("priority"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "g_edges": _q_edges,
        "g_degrees": _q_degrees,
        "g_vertex_weights": _q_vertex_weights,
        "g_total_weight": _q_total_weight,
        "g_transpose": _q_transpose,
        "g_self_loops": _q_self_loops,
        "g_symmetry_violations": _q_symmetry_violations,
        "g_community_sizes_mod64": _q_community_sizes,
        "g_ctot_mod64": _q_ctot,
        "g_modularity_mod64": _q_modularity,
        "g_triangle_total": _q_triangle_total,
        "g_triangles_per_vertex": _q_triangles_per_vertex,
        "g_pagerank3": _q_pagerank3,
        "g_pagerank_dangling3": _q_pagerank_dangling3,
        "g_host_rank_mass": _q_host_rank_mass,
        "p_crawl_budget": _q_crawl_budget,
        "g_hits4": _q_hits4,
        "g_ktruss8": _q_ktruss8,
        "g_betweenness8": _q_betweenness8,
        "g_sssp6": _q_sssp6,
        "g_components": _q_components,
        "g_scc": _q_scc,
        "g_partition_nmi": _q_partition_nmi,
        "g_scc_dag": _q_scc_dag,
        "g_bowtie": _q_bowtie,
        "g_reciprocity": _q_reciprocity,
        "g_cocitation100": _q_cocitation,
        "g_bibcoupling100": _q_bibcoupling,
        "g_salsa4": _q_salsa4,
        "g_powerlaw_alpha": _q_powerlaw_alpha,
        "g_hostgraph64": _q_hostgraph,
        "g_reach2": _q_reach2,
        "g_leiden_mod64": _q_leiden_mod64,
        "g_nf2": _q_nf2,
        "g_labelprop": _q_labelprop,
        "g_louvain": _q_louvain,
        "g_louvain_exact": _q_louvain_exact,
        "d_dedup_exact": _q_dedup_exact,
        "d_dedup_fingerprint": _q_dedup_fingerprint,
        "d_token_count": _q_token_count,
        "d_quality": _q_quality,
        "d_lang_id": _q_lang_id,
        "d_fingerprint": _q_fingerprint,
        "d_minhash_sig": _q_minhash_sig,
        "d_ngram_pairs": _q_ngram_pairs,
        "d_simhash": _q_simhash,
        "d_simhash_pairs": _q_simhash_pairs,
        "d_sample_stratified": _q_sample_stratified,
        "d_clean_corpus": _q_clean_corpus,
        "d_chunks": _q_chunks,
        "d_vocab_topk": _q_vocab_topk,
        "g_degree_hist": _q_degree_hist,
        "g_kcore80": _q_kcore,
        "g_clustering": _q_clustering,
        "g_common_neighbors100": _q_common_neighbors,
        "g_adamic_adar100": _q_adamic_adar,
        "g_ppr3": _q_ppr3,
        "g_assortativity": _q_assortativity,
        "d_bigram_topk": _q_bigram_topk,
        "e_label_centroids": _q_label_centroids,
        "e_cosine_topk": _q_cosine_topk,
        "e_embed_neardup": _q_embed_neardup,
        "g_describe": _q_describe,
        "g_disconnected_mod64": _q_disconnected_mod64,
        "g_bfs_hops": _q_bfs_hops,
        "g_transpose_degrees": _q_transpose_degrees,
        "e_lsh_topk": _q_lsh_topk,
        "e_ann_recall": _q_ann_recall,
        "e_ivf_recall": _q_ivf_recall,
        "e_ivf_topk": _q_ivf_topk,
        "d_minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "d_lsh_dedup_recall": _q_lsh_dedup_recall,
        "d_dedup_clusters": _q_dedup_clusters,
        "g_community_degree_mod64": _q_community_degree,
        "m_media_meta": _q_media_meta,
        "m_media_features": _q_media_features,
        "m_frame_sample": _q_frame_sample,
        "ev_hourly": _q_events_hourly,
        "ev_anomaly": _q_events_anomaly,
        "ev_sessions": _q_events_sessions,
        "g_jaccard100": _q_jaccard,
        "g_harmonic8": _q_harmonic,
        "d_tfidf_top3": _q_tfidf,
        "d_unigram_lm": _q_unigram_lm,
        "d_chunk_dedup": _q_chunk_dedup,
        "d_pii_redact": _q_pii_redact,
        "ev_transitions": _q_events_transitions,
        "g_ecc8": _q_eccentricity,
        "d_contamination": _q_contamination,
        "d_repetition": _q_repetition,
        "g_walks16": _q_walks,
        "g_walks16_capped": _q_walks_capped,
        "g_egonet2": _q_egonet2,
        "e_knn10": _q_knn_classify,
        "ev_funnel": _q_events_funnel,
        "g_pmi100": _q_pmi,
        "d_bigram_next": _q_bigram_next,
        "g_community_density_mod64": _q_community_density,
        "ev_retention": _q_events_retention,
        "d_corpus_profile": _q_corpus_profile,
        "g_supplier_proj100": _q_supplier_projection,
        "g_sparsify10": _q_sparsify,
        "g_degree_gini": _q_degree_gini,
        "g_richclub": _q_richclub,
        "g_edges_monthly": _q_edges_monthly,
        "g_snapshot_diff": _q_snapshot_diff,
        "g_conductance_mod64": _q_conductance,
        "g_knn_curve": _q_knn_curve,
        "p_extract_edges": _q_pages_extract_edges,
        "p_host_profile": _q_pages_host_profile,
        "p_latest_capture": _q_pages_latest_capture,
        "p_anchor_terms": _q_pages_anchor_terms,
        "p_url_canonical": _q_url_canonical,
        "g_katz4": _q_katz4,
        "g_mis3": _q_mis3,
        "g_resource_alloc100": _q_resource_alloc,
        "g_pref_attach100": _q_pref_attach,
        "g_closeness8": _q_closeness,
        "g_eigen4": _q_eigen4,
        "g_host_pagerank3": _q_host_pagerank3,
        "d_bm25": _q_bm25,
        "g_spam_mass3": _q_spam_mass3,
        "p_crawl_schedule": _q_crawl_schedule,
        "p_frontier_shards": _q_frontier_shards,
        "p_click_depth4": _q_click_depth4,
        "g_absorb4": _q_absorb4,
        "e_sq_topk": _q_sq_topk,
        "g_link_exchange": _q_link_exchange,
        "d_containment": _q_containment,
        "g_widest4": _q_widest4,
        "m_media_dedup": _q_media_dedup,
        "d_winnow": _q_winnow,
        "ev_bounce": _q_events_bounce,
        "g_mutual_triangles": _q_mutual_triangles,
        "p_host_fanout": _q_host_fanout,
        "ev_dau": _q_events_dau,
        "g_nepotism": _q_nepotism,
        "e_ivf_balance": _q_ivf_balance,
        "g_giant_component": _q_giant_component,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _simhash_sql() -> str:
    # 64-bit twin of operators.dedup.simhash: hash = two md5 32-bit
    # halves (non-negative, so the bit reads below never touch a signed
    # shift); sketch bit 63's weight is -2^63, keeping the sum exact in
    # signed-64 on both engines
    def hbit(i: int) -> str:
        return f"(h_lo >> {i})" if i < 32 else f"(h_hi >> {i - 32})"

    votes = ",\n    ".join(
        f"sum(CASE WHEN {hbit(i)} & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    terms = [
        f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(63)
    ]
    terms.append(
        "(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    )
    sketch = " + ".join(terms)
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest({_toks('text')}) AS t
  FROM documents WHERE {_norm('text')} <> ''
), h AS (
  SELECT doc,
    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h_hi,
    CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS h_lo
  FROM toks
), agg AS (
  SELECT doc, {votes} FROM h GROUP BY doc
)
SELECT doc, {sketch} AS simhash FROM agg
"""


_SHINGLE_CTES = """
t AS (
  SELECT doc_id AS doc, {toks} AS toks
  FROM documents WHERE {norm} <> ''
), s AS (
  SELECT doc, CASE WHEN len(toks) < {k} THEN [array_to_string(toks, ' ')]
    ELSE list_distinct(list_transform(generate_series(1, len(toks)-{k}+1),
         i -> array_to_string(toks[i:i+{k1}], ' '))) END AS sh
  FROM t
)"""


def _shingle_ctes(k: int = 5) -> str:
    return _SHINGLE_CTES.format(
        toks=_toks("text"), norm=_norm("text"), k=k, k1=k - 1
    ).strip()


def _mh_exprs(num_hashes: int) -> list[str]:
    """32-bit minhash slots: 4 per salted md5, exactly the engine's
    exploded/substring formulation (operators.dedup.minhash_signatures)."""
    return [
        f"list_min(list_transform(sh, s -> "
        f"substr(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8))) AS mh_{i}"
        for i in range(num_hashes)
    ]


def _minhash_sig_sql(k: int = 5, num_hashes: int = 8) -> str:
    mh = ",\n    ".join(_mh_exprs(num_hashes))
    return f"""
WITH {_shingle_ctes(k)}
SELECT doc, {mh} FROM s WHERE len(sh) > 0
"""


def _lsh_pairs_ctes(k: int = 5, num_hashes: int = 8, bands: int = 4) -> str:
    """The shared CTE chain shingles → signatures → band buckets →
    candidate pairs → exact-Jaccard `scored` (a, b, jr) — the SQL twin
    of operators.dedup.minhash_lsh_pairs, reused by the pair query and
    the transitive-cluster query."""
    rows = num_hashes // bands
    mh = ",\n    ".join(_mh_exprs(num_hashes))
    band_selects = []
    for b in range(bands):
        parts = " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc, {b} AS band, md5({parts}) AS h FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""{_shingle_ctes(k)},
sig AS MATERIALIZED (SELECT doc, {mh} FROM s WHERE len(sh) > 0),
banded AS MATERIALIZED ({banded}),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.h = y.h AND x.doc < y.doc
),
sets AS MATERIALIZED (SELECT doc, sh FROM s WHERE len(sh) > 0),
scored AS (
  SELECT cand.a, cand.b,
         CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)
           / (len(xa.sh) + len(xb.sh) - len(list_intersect(xa.sh, xb.sh))) AS jr
  FROM cand JOIN sets xa ON xa.doc = cand.a JOIN sets xb ON xb.doc = cand.b
)"""


def _minhash_lsh_pairs_sql(
    k: int = 5, num_hashes: int = 8, bands: int = 4, threshold: float = 0.7
) -> str:
    return f"""
WITH {_lsh_pairs_ctes(k, num_hashes, bands)}
SELECT a, b, round(jr, 6) AS jaccard FROM scored WHERE jr >= {threshold} - 1e-12
"""


def _dedup_clusters_sql(
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    rounds: int = 8,
) -> str:
    """Transitive near-dup clusters: verified LSH pairs → symmetric
    pair graph → hash-min label propagation unrolled `rounds` times
    (same sentinel-on-nonconvergence pattern as _components_sql; the
    engine side iterates to fixpoint) → cluster = min doc_id reachable;
    singletons cluster to themselves. Mirrors
    operators.dedup.near_dup_clusters."""
    ctes = [
        _lsh_pairs_ctes(k, num_hashes, bands),
        f"""pairs AS MATERIALIZED (
  SELECT a, b FROM scored WHERE jr >= {threshold} - 1e-12
)""",
        """pe AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
)""",
        "c0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS comp "
        "FROM documents)",
    ]
    for r in range(rounds):
        ctes.append(f"""
c{r + 1} AS MATERIALIZED (
  SELECT p.id, least(p.comp, coalesce(c.mn, p.comp)) AS comp
  FROM c{r} p LEFT JOIN (
    SELECT e.dst AS id, min(q.comp) AS mn
    FROM pe e JOIN c{r} q ON e.src = q.id GROUP BY e.dst
  ) c ON p.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id AS doc_id, comp AS cluster_id, (id = comp) AS is_canonical
FROM c{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), FALSE WHERE EXISTS (
  SELECT 1 FROM c{rounds - 1} a JOIN c{rounds} b
  ON a.id = b.id AND a.comp <> b.comp)"""
    )


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    sketch = _simhash_sql().strip().rstrip()
    # 4×16-bit blocks of the 64-bit sketch; the sketch can be negative,
    # so block extraction lifts it to the unsigned domain in HUGEINT
    # (checked exact — no engine-specific signed-shift semantics)
    return f"""
WITH sh AS MATERIALIZED ({sketch}),
blocks AS MATERIALIZED (
  SELECT doc, simhash, b.b AS blk,
    CAST(((CAST(simhash AS HUGEINT)
           + (CASE WHEN simhash < 0
              THEN CAST('18446744073709551616' AS HUGEINT)
              ELSE CAST(0 AS HUGEINT) END)) // b.d) % 65536 AS BIGINT) AS v
  FROM sh, (VALUES (0, 1), (1, 65536), (2, 4294967296),
                   (3, 281474976710656)) b(b, d)
),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b, x.simhash AS ha, y.simhash AS hb
  FROM blocks x JOIN blocks y
    ON x.blk = y.blk AND x.v = y.v AND x.doc < y.doc
)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""


def _sketch_sql_expr(vcol: str, planes: int, dim: int) -> str:
    """Random-hyperplane sign sketch as a SQL expression over a
    DOUBLE[] column — the same driver-computed splitmix64 coefficients
    as operators.similarity.lsh_sketch, inlined as literals, summed in
    the same left-to-right order (bit-identical projections)."""
    from louvain_communities_openmp_spark.operators.similarity import _plane_coefs

    terms = []
    for p in range(planes):
        coefs = _plane_coefs(p, dim)
        proj = " + ".join(f"{vcol}[{d + 1}]*({coefs[d]!r})" for d in range(dim))
        terms.append(
            f"(CASE WHEN ({proj}) > 0 THEN CAST({2**p} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-to-right double dot product over two DOUBLE[]
    expressions — list_reduce folds left exactly like Spark's
    F.aggregate(zip_with(a,b,*), 0.0, acc+v) (0.0+x == x bitwise), so
    the cell-assignment argmax in the IVF twin is engine-portable
    without rounding."""
    return (
        f"list_reduce(list_transform({a}, (x, i) -> x * ({b})[i]), "
        f"(p, q) -> p + q)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, (x) -> x * x), "
        f"(p, q) -> p + q))"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _ivf_topk_sql(
    k: int = 10, n_cells: int = 16, n_probe: int = 4, n_queries: int = 10
) -> str:
    """IVF coarse-index ANN twin of operators.similarity.cosine_topk_ivf:
    centroids = the n_cells lowest-vec_id vectors (cid = 1-based
    ascending-vec_id position, matching Spark's sequence/array_position
    cells), assignment = argmax cosine with lowest-cid tie-break,
    probes = each query's n_probe best cells, exact cosine re-rank."""
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
  FROM emb ORDER BY vec_id LIMIT {n_cells}
),
sims AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {_cos_sql('e.v', 'c.cv')} AS s
  FROM emb e CROSS JOIN cent c
),
assign AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, cid ASC) AS rn
    FROM sims) WHERE rn = 1
),
q AS MATERIALIZED (
  SELECT vec_id AS query_id, v AS qv FROM emb
  ORDER BY vec_id LIMIT {n_queries}
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT s.vec_id AS query_id, s.cid AS cell,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.s DESC, s.cid ASC) AS rn
    FROM sims s JOIN q ON q.query_id = s.vec_id) WHERE rn <= {n_probe}
),
pairs AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round({_cos_sql('q.qv', 'e2.v')}, 6) AS sim
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN assign a ON a.cell = p.cell
  JOIN emb e2 ON e2.vec_id = a.vec_id
  WHERE a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim FROM (
  SELECT pairs.*,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM pairs) WHERE rn <= {k}
"""


def _ivf_balance_sql(n_cells: int = 16) -> str:
    """Cell-size histogram over the SAME assignment CTEs as
    _ivf_topk_sql — the index-balance diagnostic."""
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
  FROM emb ORDER BY vec_id LIMIT {n_cells}
),
sims AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {_cos_sql('e.v', 'c.cv')} AS s
  FROM emb e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, cid ASC) AS rn
    FROM sims) WHERE rn = 1
)
SELECT cell, count(*) AS n_vectors FROM assign GROUP BY cell"""


def _lsh_topk_sql(k: int = 10, planes: int = 12, probe_hamming: int = 2,
                  dim: int = 64) -> str:
    sk = _sketch_sql_expr("v", planes, dim)
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {sk} AS sk
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, sk AS qsk FROM emb ORDER BY vec_id LIMIT {k}),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, c.v), 6) AS sim
  FROM q JOIN emb c
    ON bit_count(xor(c.sk, q.qsk)) <= {probe_hamming}
   AND q.query_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= {k}
"""


def _embed_neardup_sql(threshold: float = 0.98, planes: int = 12,
                       dim: int = 64) -> str:
    sk = _sketch_sql_expr("v", planes, dim)
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000000, v FROM base WHERE vec_id < 20
),
sks AS MATERIALIZED (SELECT vec_id AS id, v, {sk} AS sk FROM aug),
pairs AS (
  SELECT x.id AS a, y.id AS b,
         round(list_cosine_similarity(x.v, y.v), 6) AS sim
  FROM sks x JOIN sks y ON x.sk = y.sk AND x.id < y.id
)
SELECT a, b, sim FROM pairs WHERE sim >= {threshold}
"""


_LOUVAIN_EXACT_SQL_CACHE: dict[str, str] = {}


def _louvain_exact_sql(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Literal-VALUES oracle for g_louvain_exact.

    The driver's correctness gate runs at sf0.01, where exact-mode
    Louvain is a deterministic pure function of the co-order edge
    table. This generator rebuilds those edges with DuckDB (the same
    SQL the green g_edges row verifies), runs the reference-faithful
    numpy port (oracle/louvain_seq.py — an implementation independent
    of the Spark kernel, pinned line-by-line to louvain.hxx), and
    freezes the resulting membership as a VALUES table. Returns None
    if the testdata is unavailable (entry omitted → rows-only check).
    """
    if sf_dir in _LOUVAIN_EXACT_SQL_CACHE:
        return _LOUVAIN_EXACT_SQL_CACHE[sf_dir]
    try:
        import duckdb
        import numpy as np

        from louvain_communities_openmp_spark.operators.serial import edge_csr
        from louvain_communities_openmp_spark.oracle.louvain_seq import (
            louvain_seq_fast,
        )

        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
        )
        src, dst, w = con.sql(
            "SELECT a.l_partkey AS src, b.l_partkey AS dst,"
            " CAST(count(*) AS DOUBLE) AS w"
            " FROM lineitem a JOIN lineitem b"
            " ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"
            " GROUP BY a.l_partkey, b.l_partkey"
        ).fetchnumpy().values()
        g = edge_csr(
            np.asarray(src, dtype=np.int64),
            np.asarray(dst, dtype=np.int64),
            np.asarray(w, dtype=np.float64),
        )
        r = louvain_seq_fast(g)
        rows = ",".join(
            f"({int(i)},{int(c)})" for i, c in zip(g.ids, r.membership)
        )
        sql = (
            "SELECT CAST(id AS BIGINT) AS id, CAST(com AS BIGINT) AS com "
            f"FROM (VALUES {rows}) AS t(id, com)"
        )
    except Exception:  # noqa: BLE001 - testdata absent / layout changed
        sql = None
    _LOUVAIN_EXACT_SQL_CACHE[sf_dir] = sql
    return sql


def _disconnected_sql(rounds: int = 16) -> str:
    """Per-community internal connectivity: hash-min propagation over
    intra-community (id%64) edges, unrolled with a convergence sentinel —
    if round {rounds} still changed any label, a (-1,-1) row is emitted
    so the gate fails loudly instead of silently comparing unconverged
    labels (the fix for the hardcoded-depth hazard)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "intra AS MATERIALIZED (SELECT src, dst FROM edges WHERE src % 64 = dst % 64)",
        "c0 AS MATERIALIZED (SELECT id, id AS comp FROM v)",
    ]
    for r in range(rounds):
        ctes.append(f"""
c{r + 1} AS MATERIALIZED (
  SELECT p.id, least(p.comp, coalesce(c.mn, p.comp)) AS comp
  FROM c{r} p LEFT JOIN (
    SELECT e.dst AS id, min(q.comp) AS mn
    FROM intra e JOIN c{r} q ON e.src = q.id GROUP BY e.dst
  ) c ON p.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id % 64 AS com, count(DISTINCT comp) AS n_parts
FROM c{rounds} GROUP BY id % 64 HAVING count(DISTINCT comp) > 1
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS (
  SELECT 1 FROM c{rounds - 1} a JOIN c{rounds} b
  ON a.id = b.id AND a.comp <> b.comp)"""
    )


def _pagerank3_sql(
    alpha: float = 0.85, iters: int = 3, contract_hosts: int | None = None
) -> str:
    """Unrolled fixed-iteration PageRank twin; with ``contract_hosts``
    the walk runs on the host-contracted graph (src%n → dst%n, weights
    summed — exact: integer-valued doubles) instead of the page graph."""
    tbl = "edges"
    ctes = [_EDGES_CTE.strip()]
    if contract_hosts is not None:
        tbl = "hedges"
        ctes.append(
            f"hedges AS (SELECT CAST(src % {contract_hosts} AS BIGINT) AS src,"
            f" CAST(dst % {contract_hosts} AS BIGINT) AS dst, sum(w) AS w"
            " FROM edges GROUP BY 1, 2)"
        )
    ctes += [
        f"vt AS (SELECT src AS id, sum(w) AS vtot FROM {tbl} GROUP BY src)",
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vt)",
        "r0 AS (SELECT id, 1.0/nv.n AS rank FROM vt, nv)",
    ]
    for t in range(iters):
        ctes.append(f"""
r{t + 1} AS (
  SELECT v.id,
         (1.0 - {alpha})/nv.n + {alpha} * coalesce(c.s, 0.0) AS rank
  FROM vt v CROSS JOIN nv
  LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.w / v2.vtot) AS s
    FROM {tbl} e JOIN r{t} r ON e.src = r.id JOIN vt v2 ON e.src = v2.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 7) AS rank FROM r{iters}"
    )


def _pagerank_dangling3_sql(
    alpha: float = 0.85, iters: int = 3, thr: str = "0a"
) -> str:
    """Unrolled dangling-aware PageRank twin on the directed
    purchase-sequence graph: a per-iteration scalar CTE d{t} holds the
    rank mass sitting on out-degree-0 vertices, folded into the next
    base term — same recurrence as operators.pagerank.pagerank_seq
    truncated at `iters` (left-to-right addition matches the Spark
    side's base-then-contribution association exactly)."""
    ctes = [
        _sequence_cte(thr),
        "verts AS (SELECT src AS id FROM dedges"
        " UNION SELECT dst FROM dedges)",
        "vt AS (SELECT src AS id, sum(w) AS vtot FROM dedges GROUP BY src)",
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "r0 AS (SELECT id, 1.0/nv.n AS rank FROM verts, nv)",
    ]
    for t in range(iters):
        ctes.append(
            f"d{t} AS (SELECT coalesce(sum(r.rank), 0.0) AS d"
            f" FROM r{t} r LEFT JOIN vt ON r.id = vt.id"
            " WHERE vt.id IS NULL)"
        )
        ctes.append(f"""
r{t + 1} AS (
  SELECT v.id,
         (1.0 - {alpha})/nv.n + {alpha} * d{t}.d / nv.n
           + {alpha} * coalesce(c.s, 0.0) AS rank
  FROM verts v CROSS JOIN nv CROSS JOIN d{t}
  LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.w / v2.vtot) AS s
    FROM dedges e JOIN r{t} r ON e.src = r.id JOIN vt v2 ON e.src = v2.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 7) AS rank FROM r{iters}"
    )


def _mis_sql(rounds: int = 3) -> str:
    """Unrolled deterministic-Luby twin of operators.mis.mis_rounds:
    u{t} = still-undecided, w{t} = round-t winners (strictly smallest
    (p, id) in their undecided neighborhood), x{t} = their undecided
    neighbors."""
    ctes = [
        _EDGES_CTE.strip(),
        "sym AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "u0 AS (SELECT DISTINCT src AS id,"
        " (src * 2654435761) % 1000003 AS p FROM edges)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"""
w{t} AS (
  SELECT u.id FROM u{t - 1} u
  WHERE NOT EXISTS (
    SELECT 1 FROM sym e JOIN u{t - 1} n ON e.dst = n.id
    WHERE e.src = u.id
      AND (n.p < u.p OR (n.p = u.p AND n.id < u.id))
  )
)""")
        ctes.append(f"""
x{t} AS (
  SELECT DISTINCT e.dst AS id
  FROM sym e JOIN w{t} w ON e.src = w.id
  JOIN u{t - 1} u ON e.dst = u.id
)""")
        ctes.append(
            f"u{t} AS (SELECT id, p FROM u{t - 1} WHERE id NOT IN "
            f"(SELECT id FROM w{t}) AND id NOT IN (SELECT id FROM x{t}))"
        )
    wins = " UNION ALL ".join(f"SELECT id FROM w{t}" for t in range(1, rounds + 1))
    excl = " UNION ALL ".join(f"SELECT id FROM x{t}" for t in range(1, rounds + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT u0.id,
       CAST(CASE WHEN u0.id IN ({wins}) THEN 1
                 WHEN u0.id IN ({excl}) THEN 2
                 ELSE 0 END AS INT) AS status
FROM u0"""
    )


def _katz4_sql(alpha: float = 0.01, iters: int = 4) -> str:
    """Unrolled truncated-Katz twin of katz_fixed(exact_int=True):
    pure-integer recursion K_{t+1} = inv^{t+1} + Σ w·K_t, exact on both
    engines (no float tolerance needed)."""
    inv = round(1.0 / alpha)
    ctes = [
        _EDGES_CTE.strip(),
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        "k0 AS (SELECT id, CAST(1 AS BIGINT) AS k FROM verts)",
    ]
    for t in range(iters):
        ctes.append(f"""
k{t + 1} AS (
  SELECT v.id,
         CAST({inv ** (t + 1)} + coalesce(c.s, 0) AS BIGINT) AS k
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(CAST(e.w AS BIGINT) * r.k) AS s
    FROM edges e JOIN k{t} r ON e.src = r.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, k AS katz_x{inv ** iters} FROM k{iters}"
    )


def _ktruss_sql(k: int = 8, rounds: int = 4) -> str:
    """Unrolled FIXED-ROUND truss peeling (ktruss_peel twin): exactly
    ``rounds`` synchronous drop rounds, then support recomputed on the
    survivors and returned UNFILTERED. Bounded semantics on any graph
    — no convergence assumption, so no sentinel is needed (the
    depth-capped-betweenness pattern); the converged ktruss() is
    pytest-oracled instead."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst)",
    ]
    for t in range(rounds + 1):
        ctes.append(
            f"sym{t} AS MATERIALIZED (SELECT src, dst FROM e{t} "
            f"UNION ALL SELECT dst, src FROM e{t})"
        )
        ctes.append(
            f"sup{t} AS MATERIALIZED (SELECT e.src, e.dst, count(*) AS s "
            f"FROM e{t} e "
            f"JOIN sym{t} x ON x.src = e.src "
            f"JOIN sym{t} y ON y.src = e.dst AND y.dst = x.dst "
            f"GROUP BY e.src, e.dst)"
        )
        if t < rounds:
            ctes.append(
                f"e{t + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{t} e "
                f"LEFT JOIN sup{t} s ON e.src = s.src AND e.dst = s.dst "
                f"WHERE coalesce(s.s, 0) >= {k - 2})"
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT e.src, e.dst, coalesce(s.s, 0) AS support
FROM e{rounds} e
LEFT JOIN sup{rounds} s ON e.src = s.src AND e.dst = s.dst"""
    )


def _hits4_sql(iters: int = 4) -> str:
    """Unrolled HITS on the directed (src < dst) co-order half —
    identical dynamics to operators.hits.hits_fixed."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "de AS MATERIALIZED (SELECT src, dst, w FROM edges WHERE src < dst)",
        "verts AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        "nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "a0 AS MATERIALIZED (SELECT id, 1.0/nv.n AS authority FROM verts, nv)",
    ]
    for t in range(iters):
        ctes.append(
            f"hr{t} AS MATERIALIZED (SELECT e.src AS id, sum(e.w * a.authority) AS s "
            f"FROM de e JOIN a{t} a ON e.dst = a.id GROUP BY e.src)"
        )
        ctes.append(f"hz{t} AS MATERIALIZED (SELECT sum(s) AS z FROM hr{t})")
        ctes.append(
            f"h{t + 1} AS MATERIALIZED (SELECT v.id, coalesce(r.s, 0.0)/hz{t}.z AS hub "
            f"FROM verts v CROSS JOIN hz{t} "
            f"LEFT JOIN hr{t} r ON v.id = r.id)"
        )
        ctes.append(
            f"ar{t} AS MATERIALIZED (SELECT e.dst AS id, sum(e.w * h.hub) AS s "
            f"FROM de e JOIN h{t + 1} h ON e.src = h.id GROUP BY e.dst)"
        )
        ctes.append(f"az{t} AS MATERIALIZED (SELECT sum(s) AS z FROM ar{t})")
        ctes.append(
            f"a{t + 1} AS MATERIALIZED (SELECT v.id, coalesce(r.s, 0.0)/az{t}.z AS authority "
            f"FROM verts v CROSS JOIN az{t} "
            f"LEFT JOIN ar{t} r ON v.id = r.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h.id, round(h.hub, 7) AS hub, round(a.authority, 7) AS authority
FROM h{iters} h JOIN a{iters} a ON h.id = a.id"""
    )


def _leiden_mod64_sql(rounds: int = 24) -> str:
    """Leiden refinement of the id%64 partition: hash-min CC unrolled
    over INTRA-community edges only, convergence sentinel appended
    (same guard as _components_sql)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS MATERIALIZED (SELECT src AS id FROM edges "
        "UNION SELECT dst FROM edges)",
        "intra AS MATERIALIZED (SELECT src, dst FROM edges "
        "WHERE src % 64 = dst % 64)",
        "l0 AS MATERIALIZED (SELECT id, id AS comp FROM verts)",
    ]
    for k in range(rounds):
        ctes.append(f"""
l{k + 1} AS MATERIALIZED (
  SELECT p.id, least(p.comp, coalesce(c.mn, p.comp)) AS comp
  FROM l{k} p LEFT JOIN (
    SELECT e.dst AS id, min(q.comp) AS mn
    FROM intra e JOIN l{k} q ON e.src = q.id GROUP BY e.dst
  ) c ON p.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, id % 64 AS com, comp AS refined FROM l{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
WHERE EXISTS (
  SELECT 1 FROM l{rounds - 1} a JOIN l{rounds} b
  ON a.id = b.id AND a.comp <> b.comp)"""
    )


def _salsa4_sql(iters: int = 4) -> str:
    """Unrolled weighted SALSA on the directed (src < dst) half —
    identical dynamics to operators.webstructure.salsa_fixed."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "de AS MATERIALIZED (SELECT src, dst, w FROM edges WHERE src < dst)",
        "win AS (SELECT dst AS id, sum(w) AS win FROM de GROUP BY dst)",
        "wout AS (SELECT src AS id, sum(w) AS wout FROM de GROUP BY src)",
        "wm AS MATERIALIZED (SELECT e.src, e.dst, e.w/wi.win AS w_back, "
        "e.w/wo.wout AS w_fwd FROM de e "
        "JOIN win wi ON e.dst = wi.id JOIN wout wo ON e.src = wo.id)",
        "verts AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "a0 AS MATERIALIZED (SELECT id, 1.0/nv.n AS authority FROM verts, nv)",
    ]
    for t in range(iters):
        ctes.append(
            f"hr{t} AS MATERIALIZED (SELECT wm.src AS id, "
            f"sum(wm.w_back * a.authority) AS s "
            f"FROM wm JOIN a{t} a ON wm.dst = a.id GROUP BY wm.src)"
        )
        ctes.append(f"hz{t} AS (SELECT sum(s) AS z FROM hr{t})")
        ctes.append(
            f"h{t + 1} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(r.s, 0.0)/hz{t}.z AS hub "
            f"FROM verts v CROSS JOIN hz{t} "
            f"LEFT JOIN hr{t} r ON v.id = r.id)"
        )
        ctes.append(
            f"ar{t} AS MATERIALIZED (SELECT wm.dst AS id, "
            f"sum(wm.w_fwd * h.hub) AS s "
            f"FROM wm JOIN h{t + 1} h ON wm.src = h.id GROUP BY wm.dst)"
        )
        ctes.append(f"az{t} AS (SELECT sum(s) AS z FROM ar{t})")
        ctes.append(
            f"a{t + 1} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(r.s, 0.0)/az{t}.z AS authority "
            f"FROM verts v CROSS JOIN az{t} "
            f"LEFT JOIN ar{t} r ON v.id = r.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h.id, round(h.hub, 7) AS hub, round(a.authority, 7) AS authority
FROM h{iters} h JOIN a{iters} a ON h.id = a.id"""
    )


def _betweenness_sql(n_sources: int = 8, depth: int = 8) -> str:
    """Unrolled truncated-Brandes betweenness (operators/betweenness.py
    twin): forward BFS-with-path-count levels f0..fD, backward
    dependency levels dD..d0, pivots = n_sources smallest ids. The
    depth cap is part of the SEMANTICS (both engines apply it), so no
    convergence sentinel is needed — parity is exact at any graph."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "verts AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        f"srcs AS MATERIALIZED (SELECT id AS s FROM verts ORDER BY id LIMIT {n_sources})",
        "f0 AS MATERIALIZED (SELECT s, s AS v, 1.0 AS sigma FROM srcs)",
        "vis0 AS MATERIALIZED (SELECT s, v FROM f0)",
    ]
    for t in range(depth):
        ctes.append(
            f"f{t + 1} AS MATERIALIZED (SELECT c.s, c.v, c.sigma FROM "
            f"(SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma "
            f"FROM f{t} f JOIN de e ON e.src = f.v GROUP BY f.s, e.dst) c "
            f"LEFT JOIN vis{t} x ON x.s = c.s AND x.v = c.v "
            f"WHERE x.v IS NULL)"
        )
        ctes.append(
            f"vis{t + 1} AS MATERIALIZED (SELECT s, v FROM vis{t} "
            f"UNION ALL SELECT s, v FROM f{t + 1})"
        )
    ctes.append(f"d{depth} AS MATERIALIZED (SELECT s, v, sigma, 0.0 AS delta FROM f{depth})")
    for t in range(depth - 1, -1, -1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT f.s, f.v, f.sigma, "
            f"coalesce(sum(f.sigma / w.sigma * (1.0 + w.delta)), 0.0) AS delta "
            f"FROM f{t} f "
            f"LEFT JOIN de e ON e.src = f.v "
            f"LEFT JOIN d{t + 1} w ON w.s = f.s AND w.v = e.dst "
            f"GROUP BY f.s, f.v, f.sigma)"
        )
    dall = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{t}" for t in range(depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
dall AS ({dall}),
per AS (SELECT v AS id, sum(delta) AS b FROM dall WHERE v <> s GROUP BY v)
SELECT vv.id, round(coalesce(per.b, 0.0), 6) AS betweenness
FROM verts vv LEFT JOIN per ON per.id = vv.id"""
    )


def _sssp_sql(n_sources: int = 4, rounds: int = 6) -> str:
    """Unrolled fixed-round Bellman-Ford (operators/sssp.py twin):
    full relaxation per round (the frontier optimization in the engine
    provably yields the same state per round)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "verts AS MATERIALIZED (SELECT src AS id FROM edges "
        "UNION SELECT dst FROM edges)",
        f"srcs AS MATERIALIZED (SELECT id AS s FROM verts ORDER BY id "
        f"LIMIT {n_sources})",
        "st0 AS MATERIALIZED (SELECT s, s AS id, 0.0 AS dist FROM srcs)",
    ]
    for t in range(rounds):
        ctes.append(
            f"rx{t} AS MATERIALIZED (SELECT f.s, e.dst AS id, "
            f"min(f.dist + e.w) AS dist "
            f"FROM st{t} f JOIN edges e ON e.src = f.id GROUP BY f.s, e.dst)"
        )
        ctes.append(
            f"st{t + 1} AS MATERIALIZED (SELECT s, id, min(dist) AS dist "
            f"FROM (SELECT s, id, dist FROM st{t} "
            f"UNION ALL SELECT s, id, dist FROM rx{t}) GROUP BY s, id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s, id, round(dist, 6) AS dist FROM st{rounds}"""
    )


def _ppr3_sql(alpha: float = 0.85, iters: int = 3) -> str:
    """Unrolled personalized PageRank (seeds: ids ≡ 0 mod 100) —
    identical dynamics to operators.pagerank.personalized_pagerank_fixed."""
    ctes = [
        _EDGES_CTE.strip(),
        "vt AS (SELECT src AS id, sum(w) AS vtot FROM edges GROUP BY src)",
        "sc AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM vt WHERE id % 100 = 0)",
        "sv AS (SELECT v.id, CASE WHEN v.id % 100 = 0 THEN 1.0/sc.ns ELSE 0.0 END AS s "
        "FROM vt v CROSS JOIN sc)",
        "p0 AS (SELECT id, s AS rank FROM sv)",
    ]
    for t in range(iters):
        ctes.append(f"""
p{t + 1} AS (
  SELECT v.id,
         (1.0 - {alpha}) * v.s + {alpha} * coalesce(c.x, 0.0) AS rank
  FROM sv v
  LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.w / v2.vtot) AS x
    FROM edges e JOIN p{t} r ON e.src = r.id JOIN vt v2 ON e.src = v2.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 7) AS rank FROM p{iters}"
    )


def _kcore_sql(k: int = 80, rounds: int = 12) -> str:
    """k-core peeling unrolled to a fixed depth — identical dynamics
    to operators.kcore.kcore, which iterates to fixpoint. Alive sets
    are nested (a{i+1} ⊆ a{i}), so count equality between the last two
    levels ⇔ set equality; a sentinel row (-1,-1) is appended if the
    unroll depth was insufficient, failing the gate loudly (same
    strategy as _components_sql)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)",
    ]
    for i in range(rounds):
        ctes.append(f"""
a{i + 1} AS MATERIALIZED (
  SELECT e.src AS id, count(*) AS deg
  FROM edges e JOIN a{i} s ON e.src = s.id JOIN a{i} t ON e.dst = t.id
  GROUP BY e.src HAVING count(*) >= {k}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, CAST(deg AS BIGINT) AS deg_in_core FROM a{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
WHERE (SELECT count(*) FROM a{rounds - 1}) <> (SELECT count(*) FROM a{rounds})"""
    )


def _msbfs_ctes(n_sources: int, rounds: int) -> list[str]:
    """Shared CTE chain: multi-source BFS unrolled to a fixed depth —
    min-plus closure per (source, vertex), identical dynamics to
    operators.centrality.multi_source_bfs, which iterates until the
    frontier drains."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS MATERIALIZED (SELECT src AS id FROM edges "
        "UNION SELECT dst FROM edges)",
        f"srcs AS MATERIALIZED (SELECT id FROM verts ORDER BY id "
        f"LIMIT {n_sources})",
        "b0 AS MATERIALIZED (SELECT id AS s, id, CAST(0 AS BIGINT) AS dist "
        "FROM srcs)",
    ]
    for k in range(rounds):
        ctes.append(f"""
b{k + 1} AS MATERIALIZED (
  SELECT s, id, min(dist) AS dist FROM (
    SELECT s, id, dist FROM b{k}
    UNION ALL
    SELECT q.s, e.dst AS id, q.dist + 1 AS dist
    FROM edges e JOIN b{k} q ON e.src = q.id
  ) GROUP BY s, id
)""")
    return ctes


def _msbfs_sentinel(rounds: int) -> str:
    """EXISTS clause: TRUE iff the last unrolled round still shortened
    any distance — appended as a sentinel row so insufficient depth
    fails the gate loudly (same pattern as _components_sql)."""
    return f"""EXISTS (
  SELECT 1 FROM b{rounds} a LEFT JOIN b{rounds - 1} pr
  ON a.s = pr.s AND a.id = pr.id
  WHERE pr.id IS NULL OR a.dist <> pr.dist)"""


def _harmonic_sql(n_sources: int = 8, rounds: int = 12) -> str:
    ctes = _msbfs_ctes(n_sources, rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v.id, round(coalesce(h.h, 0.0), 6) AS harmonic
FROM verts v LEFT JOIN (
  SELECT id, sum(1.0 / dist) AS h FROM b{rounds} WHERE dist > 0 GROUP BY id
) h ON v.id = h.id
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-97 AS DOUBLE) WHERE {_msbfs_sentinel(rounds)}"""
    )


def _closeness_sql(n_sources: int = 8, rounds: int = 12) -> str:
    """Per-pivot reachable-set closeness twin of
    closeness_per_source: same unrolled multi-source BFS chain as
    _harmonic_sql/_ecc_sql, finished with one pivot-keyed aggregate;
    the convergence sentinel row fails the gate loudly if the unroll
    depth was insufficient."""
    ctes = _msbfs_ctes(n_sources, rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(dist) AS BIGINT) AS sum_dist,
       round(coalesce(CAST(count(*) - 1 AS DOUBLE)
                      / nullif(CAST(sum(dist) AS DOUBLE), 0.0), 0.0), 6)
         AS closeness
FROM b{rounds} GROUP BY s
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       CAST(-97 AS DOUBLE)
WHERE {_msbfs_sentinel(rounds)}"""
    )


def _eigen4_sql(iters: int = 4) -> str:
    """Unrolled integer power-iteration twin of eigenvector_fixed:
    p_{{t+1}} = Σ w·p_t carried as exact BIGINTs; the single float op
    is the final normalization division (the _katz4_sql exactness
    contract)."""
    ctes = [
        _EDGES_CTE.strip(),
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        "p0 AS (SELECT id, CAST(1 AS BIGINT) AS p FROM verts)",
    ]
    for t in range(iters):
        ctes.append(f"""
p{t + 1} AS (
  SELECT v.id, CAST(coalesce(c.s, 0) AS BIGINT) AS p
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(CAST(e.w AS BIGINT) * r.p) AS s
    FROM edges e JOIN p{t} r ON e.src = r.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, p AS paths{iters},
       round(CAST(p AS DOUBLE)
             / (SELECT CAST(sum(p) AS DOUBLE) FROM p{iters}), 9)
         AS eigenvector
FROM p{iters}"""
    )


def _ecc_sql(n_sources: int = 8, rounds: int = 12) -> str:
    ctes = _msbfs_ctes(n_sources, rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s, max(dist) AS ecc, CAST(count(*) AS BIGINT) AS n_reached
FROM b{rounds} GROUP BY s
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
WHERE {_msbfs_sentinel(rounds)}"""
    )


def _components_sql(rounds: int = 16) -> str:
    """Hash-min label propagation unrolled to a fixed round count —
    identical dynamics to operators.components.connected_components,
    which iterates to fixpoint. A convergence sentinel row (-1,-1) is
    appended if the last round still changed a label, so an
    insufficient unroll depth fails the gate loudly instead of
    comparing unconverged labels against the (correct) engine.
    MATERIALIZED stops DuckDB from exponentially inlining each level.
    """
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "l0 AS MATERIALIZED (SELECT src AS id, src AS comp FROM edges "
        "UNION SELECT dst, dst FROM edges)",
    ]
    for k in range(rounds):
        ctes.append(f"""
l{k + 1} AS MATERIALIZED (
  SELECT p.id, least(p.comp, coalesce(c.mn, p.comp)) AS comp
  FROM l{k} p LEFT JOIN (
    SELECT e.dst AS id, min(q.comp) AS mn
    FROM edges e JOIN l{k} q ON e.src = q.id GROUP BY e.dst
  ) c ON p.id = c.id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, comp FROM l{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE EXISTS (
  SELECT 1 FROM l{rounds - 1} a JOIN l{rounds} b
  ON a.id = b.id AND a.comp <> b.comp)"""
    )


def _sequence_cte(thr: str = "ff") -> str:
    from louvain_communities_openmp_spark.sources.edges import SEQUENCE_SQL_FMT

    return f"dedges AS MATERIALIZED ({SEQUENCE_SQL_FMT.format(thr=thr).strip()})"


_SCC_CLOSURE = """
verts AS MATERIALIZED (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
r AS (
  SELECT id AS v, id AS u FROM verts
  UNION
  SELECT r.v, e.dst FROM r JOIN dedges e ON r.u = e.src
),
scc AS MATERIALIZED (
  SELECT r1.v AS id, min(r1.u) AS scc
  FROM r r1 JOIN r r2 ON r1.v = r2.u AND r1.u = r2.v
  GROUP BY r1.v
)"""


def _partition_nmi_sql(thr: str = "0a") -> str:
    """Contingency-table NMI + ARI twin of g_partition_nmi: SCC labels
    from the recursive transitive closure vs the id%64 partition, then
    the identical symmetric-NMI / Adjusted-Rand formulas."""
    return f"""WITH RECURSIVE {_sequence_cte(thr)},{_SCC_CLOSURE},
part AS (SELECT id, scc AS ca, id % 64 AS cb FROM scc),
cont AS (SELECT ca, cb, CAST(count(*) AS DOUBLE) AS nij
         FROM part GROUP BY ca, cb),
am AS (SELECT ca, sum(nij) AS ai FROM cont GROUP BY ca),
bm AS (SELECT cb, sum(nij) AS bj FROM cont GROUP BY cb),
tot AS (SELECT sum(nij) AS n FROM cont),
ha AS (SELECT sum(-(ai/tot.n)*ln(ai/tot.n)) AS h_a,
              sum(ai*(ai-1)/2) AS pairs_a, count(*) AS n_a
       FROM am, tot),
hb AS (SELECT sum(-(bj/tot.n)*ln(bj/tot.n)) AS h_b,
              sum(bj*(bj-1)/2) AS pairs_b, count(*) AS n_b
       FROM bm, tot),
mi AS (SELECT sum((nij/tot.n)*ln(tot.n*nij/(ai*bj))) AS mi,
              sum(nij*(nij-1)/2) AS pairs_ab
       FROM cont JOIN am USING (ca) JOIN bm USING (cb), tot)
SELECT CAST(tot.n AS BIGINT) AS n_items,
       CAST(ha.n_a AS BIGINT) AS n_a,
       CAST(hb.n_b AS BIGINT) AS n_b,
       round(CASE WHEN ha.h_a + hb.h_b > 0
                  THEN 2.0*mi.mi/(ha.h_a+hb.h_b) ELSE 0.0 END, 7) AS nmi,
       round(CASE WHEN (ha.pairs_a+hb.pairs_b)/2
                       - ha.pairs_a*hb.pairs_b/(tot.n*(tot.n-1)/2) <> 0
                  THEN (mi.pairs_ab
                        - ha.pairs_a*hb.pairs_b/(tot.n*(tot.n-1)/2))
                       / ((ha.pairs_a+hb.pairs_b)/2
                          - ha.pairs_a*hb.pairs_b/(tot.n*(tot.n-1)/2))
                  ELSE 0.0 END, 7) AS ari
FROM tot, ha, hb, mi"""


def _scc_sql(thr: str = "0a") -> str:
    """Transitive-closure SCC: v's label = min u with v →* u AND
    u →* v (self included via the closure's reflexive seed). Wholly
    independent dynamics from the engine's FW/BW refinement — the
    strongest cross-engine check available for SCC."""
    return (
        f"WITH RECURSIVE {_sequence_cte(thr)},{_SCC_CLOSURE}\n"
        "SELECT id, scc FROM scc"
    )


def _scc_dag_sql(thr: str = "0a") -> str:
    return (
        f"WITH RECURSIVE {_sequence_cte(thr)},{_SCC_CLOSURE}\n"
        """
SELECT s1.scc AS scc_src, s2.scc AS scc_dst, count(*) AS n_edges
FROM (SELECT DISTINCT src, dst FROM dedges WHERE src <> dst) e
JOIN scc s1 ON e.src = s1.id
JOIN scc s2 ON e.dst = s2.id
WHERE s1.scc <> s2.scc
GROUP BY s1.scc, s2.scc"""
    )


def _bowtie_sql(thr: str = "0a") -> str:
    """Closure-derived bow-tie: core = largest SCC (ties: min label);
    IN reaches core, OUT is reached from core, OTHER neither.
    r(v,u) means v →* u (reflexive), so reaches-core(x) ⇔ ∃ r(x,c)
    with c ∈ core and reached-from-core(x) ⇔ ∃ r(c,x)."""
    return (
        f"WITH RECURSIVE {_sequence_cte(thr)},{_SCC_CLOSURE},"
        """
core AS MATERIALIZED (
  SELECT scc AS c FROM (
    SELECT scc, count(*) AS n FROM scc GROUP BY scc
    ORDER BY n DESC, scc ASC LIMIT 1
  )
),
core_vs AS MATERIALIZED (SELECT id FROM scc WHERE scc IN (SELECT c FROM core)),
up AS (SELECT DISTINCT r.v AS id FROM r JOIN core_vs ON r.u = core_vs.id),
dn AS (SELECT DISTINCT r.u AS id FROM r JOIN core_vs ON r.v = core_vs.id)
SELECT s.id,
       CASE WHEN s.scc IN (SELECT c FROM core) THEN 'CORE'
            WHEN s.id IN (SELECT id FROM up) THEN 'IN'
            WHEN s.id IN (SELECT id FROM dn) THEN 'OUT'
            ELSE 'OTHER' END AS cls
FROM scc s"""
    )


def _reciprocity_sql() -> str:
    return (
        f"WITH {_sequence_cte('ff')}\n"
        """
SELECT count(*) AS n_edges,
       CAST(sum(CASE WHEN rev.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reciprocal,
       round(CAST(sum(CASE WHEN rev.src IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS reciprocity
FROM dedges e LEFT JOIN (SELECT DISTINCT src, dst FROM dedges) rev
  ON e.src = rev.dst AND e.dst = rev.src"""
    )


def _labelprop_sql(rounds: int = 4) -> str:
    """Synchronous weighted label propagation, unrolled: per round each
    vertex takes argmax_label sum(w) over neighbors, tie-break min
    label — operators.labelprop.label_propagation(max_iter=rounds)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "l0 AS MATERIALIZED (SELECT src AS id, src AS label FROM edges "
        "UNION SELECT dst, dst FROM edges)",
    ]
    for k in range(rounds):
        ctes.append(f"""
b{k + 1} AS MATERIALIZED (
  SELECT id, nl FROM (
    SELECT e.src AS id, q.label AS nl,
           row_number() OVER (
             PARTITION BY e.src
             ORDER BY sum(e.w) DESC, q.label ASC
           ) AS rn
    FROM edges e JOIN l{k} q ON e.dst = q.id
    WHERE e.src <> e.dst
    GROUP BY e.src, q.label
  ) WHERE rn = 1
),
l{k + 1} AS MATERIALIZED (
  SELECT p.id, coalesce(b.nl, p.label) AS label
  FROM l{k} p LEFT JOIN b{k + 1} b ON p.id = b.id
)""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{rounds}"


def _bfs_sql(rounds: int = 16) -> str:
    """Min-plus relaxation unrolled to a fixed round count — equal to
    operators.bfs.bfs (fixpoint) whenever the source's eccentricity is
    <= rounds. Appends a (-1,-1) sentinel if the final round still
    reached new vertices or improved a distance, so an insufficient
    depth fails loudly."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "d0 AS MATERIALIZED (SELECT min(id) AS id, CAST(0 AS BIGINT) AS dist FROM v)",
    ]
    for k in range(rounds):
        ctes.append(f"""
d{k + 1} AS MATERIALIZED (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM d{k}
    UNION ALL
    SELECT e.dst AS id, p.dist + 1 AS dist FROM edges e JOIN d{k} p ON e.src = p.id
  ) GROUP BY id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, dist FROM d{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) WHERE
  (SELECT count(*) FROM d{rounds}) <> (SELECT count(*) FROM d{rounds - 1})
  OR EXISTS (SELECT 1 FROM d{rounds - 1} a JOIN d{rounds} b
             ON a.id = b.id AND a.dist <> b.dist)"""
    )


def _click_depth_sql(rounds: int = 4) -> str:
    """Min-plus BFS from each host's root page, unrolled to the 4-hop
    cap, over the intra-host edge subset. No convergence sentinel: the
    cap IS the semantics (depth > 4 pages are excluded on both sides)."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "ie AS MATERIALIZED (SELECT src, dst FROM edges WHERE src % 16 = dst % 16)",
        "d0 AS MATERIALIZED (SELECT min(id) AS id, CAST(0 AS BIGINT) AS depth"
        " FROM v GROUP BY id % 16)",
    ]
    for k in range(rounds):
        ctes.append(f"""
d{k + 1} AS MATERIALIZED (
  SELECT id, min(depth) AS depth FROM (
    SELECT id, depth FROM d{k}
    UNION ALL
    SELECT e.dst AS id, p.depth + 1 AS depth FROM ie e JOIN d{k} p ON e.src = p.id
  ) GROUP BY id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, id % 16 AS host, depth FROM d{rounds}"
    )


def _absorb_sql(iters: int = 4, target_mod: int = 64) -> str:
    """First-hit absorption rounds unrolled: f_{t+1}(v) = 0 on targets,
    Σ w·f_t over out-edges elsewhere; the answer is the running BIGINT
    total Σ_t f_t — integer-exact, no float tolerance."""
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "vx AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        f"f0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN id % {target_mod} = 0"
        " THEN 1 ELSE 0 END AS BIGINT) AS f FROM vx)",
    ]
    for k in range(iters):
        ctes.append(f"""
f{k + 1} AS MATERIALIZED (
  SELECT vx.id,
         CAST(CASE WHEN vx.id % {target_mod} = 0 THEN 0
              ELSE coalesce(c.s, 0) END AS BIGINT) AS f
  FROM vx LEFT JOIN (
    SELECT e.src AS id, sum(CAST(e.w AS BIGINT) * p.f) AS s
    FROM edges e JOIN f{k} p ON e.dst = p.id GROUP BY e.src
  ) c ON vx.id = c.id
)""")
    total = " + ".join(f"f{k}.f" for k in range(iters + 1))
    joins = "".join(
        f" JOIN f{k} ON f0.id = f{k}.id" for k in range(1, iters + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT f0.id, CAST({total} AS BIGINT) AS absorb{iters}"
        + f" FROM f0{joins}"
    )


_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
       count(*) AS n_events, round(sum(value), 6) AS value_sum
FROM g GROUP BY user_id, sid"""


def _ngram_pairs_sql(k: int = 5, threshold: float = 0.8, max_df: int = 1000) -> str:
    return f"""
WITH t AS (
  SELECT doc_id AS doc, {_toks('text')} AS toks
  FROM documents WHERE {_norm('text')} <> ''
), s AS (
  SELECT doc, CASE WHEN len(toks) < {k} THEN [array_to_string(toks, ' ')]
    ELSE list_distinct(list_transform(generate_series(1, len(toks)-{k}+1),
         i -> array_to_string(toks[i:i+{k - 1}], ' '))) END AS sh
  FROM t
), sz AS (SELECT doc, len(sh) AS n FROM s WHERE len(sh) > 0),
ex0 AS (SELECT doc, unnest(sh) AS g FROM s),
keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {max_df}),
ex AS (SELECT ex0.doc, ex0.g FROM ex0 JOIN keep USING (g)),
common AS (
  SELECT x.doc AS a, y.doc AS b, count(*) AS inter
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc < y.doc
  GROUP BY x.doc, y.doc
)
SELECT a, b,
       round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
FROM common
JOIN sz na ON na.doc = a
JOIN sz nb ON nb.doc = b
WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= {threshold} - 1e-12
"""


def _widest_sql(n_sources: int = 4, rounds: int = 4) -> str:
    """Max-of-least relaxation unrolled to the fixed round count; the
    2^62 source self-width seeds first-hop width = edge weight, and
    identity rows are excluded at the end (widest_fixed contract)."""
    cap = 4611686018427387904
    ctes = [
        _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "vx AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        f"srcs AS (SELECT id AS s FROM vx ORDER BY id LIMIT {n_sources})",
        f"w0 AS MATERIALIZED (SELECT s, s AS id, CAST({cap} AS BIGINT) AS wide FROM srcs)",
    ]
    for k in range(rounds):
        ctes.append(f"""
w{k + 1} AS MATERIALIZED (
  SELECT s, id, max(wide) AS wide FROM (
    SELECT s, id, wide FROM w{k}
    UNION ALL
    SELECT p.s, e.dst AS id, least(CAST(e.w AS BIGINT), p.wide) AS wide
    FROM edges e JOIN w{k} p ON e.src = p.id
  ) GROUP BY s, id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT s, id, wide FROM w{rounds} WHERE id <> s"
    )


def _containment_sql(k: int = 5, threshold: float = 0.6, max_df: int = 1000) -> str:
    return f"""
WITH t AS (
  SELECT doc_id AS doc, {_toks('text')} AS toks
  FROM documents WHERE {_norm('text')} <> ''
), s AS (
  SELECT doc, CASE WHEN len(toks) < {k} THEN [array_to_string(toks, ' ')]
    ELSE list_distinct(list_transform(generate_series(1, len(toks)-{k}+1),
         i -> array_to_string(toks[i:i+{k - 1}], ' '))) END AS sh
  FROM t
), sz AS (SELECT doc, len(sh) AS n FROM s WHERE len(sh) > 0),
ex0 AS (SELECT doc, unnest(sh) AS g FROM s),
keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {max_df}),
ex AS (SELECT ex0.doc, ex0.g FROM ex0 JOIN keep USING (g)),
common AS (
  SELECT x.doc AS a, y.doc AS b, count(*) AS inter
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc <> y.doc
  GROUP BY x.doc, y.doc
)
SELECT a, b, round(CAST(inter AS DOUBLE) / na.n, 6) AS containment
FROM common JOIN sz na ON na.doc = a
WHERE CAST(inter AS DOUBLE) / na.n >= {threshold} - 1e-12
"""


def oracle_sql() -> dict[str, str]:
    tc = (
        f"CASE WHEN {_norm('text')} = '' THEN 0 "
        f"ELSE len({_toks('text')}) END"
    )
    en_cnt = f"len(list_filter({_toks('text')}, x -> x IN {_EN_STOP}))"
    de_cnt = f"len(list_filter({_toks('text')}, x -> x IN {_DE_STOP}))"
    out = {
        "g_edges": """
SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS w
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
GROUP BY a.l_partkey, b.l_partkey""",
        "g_degrees": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT src AS id, count(*) AS degree FROM edges GROUP BY src",
        "g_vertex_weights": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT src AS id, sum(w) AS vtot FROM edges GROUP BY src",
        "g_total_weight": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT sum(w) AS total_w, sum(w)/2.0 AS m FROM edges",
        "g_transpose": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT dst AS src, src AS dst, w FROM edges",
        "g_self_loops": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT count(*) AS n_self_loops FROM edges WHERE src = dst",
        "g_symmetry_violations": f"WITH {_EDGES_CTE.strip()}\n"
        "SELECT count(*) AS n_asym FROM edges e WHERE NOT EXISTS ("
        "SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src AND r.w = e.w)",
        "g_community_sizes_mod64": f"WITH {_EDGES_CTE.strip()},\n"
        "v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)\n"
        "SELECT id % 64 AS com, count(*) AS size FROM v GROUP BY id % 64",
        "g_ctot_mod64": f"WITH {_EDGES_CTE.strip()},\n"
        "vt AS (SELECT src AS id, sum(w) AS vtot FROM edges GROUP BY src)\n"
        "SELECT id % 64 AS com, round(sum(vtot), 6) AS ctot FROM vt GROUP BY id % 64",
        "g_modularity_mod64": f"WITH {_EDGES_CTE.strip()},\n"
        """m AS (SELECT sum(w)/2.0 AS m FROM edges),
per AS (
  SELECT e.src % 64 AS c,
         sum(CASE WHEN e.src % 64 = e.dst % 64 THEN e.w ELSE 0 END) AS cin,
         sum(e.w) AS ctot
  FROM edges e GROUP BY e.src % 64
)
SELECT round(sum(cin/(2*m.m) - pow(ctot/(2*m.m), 2)), 6) AS q FROM per, m GROUP BY m.m""",
        "g_triangle_total": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst)
SELECT count(*) AS n_triangles
FROM c e1 JOIN c e2 ON e1.dst = e2.src JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
        "g_triangles_per_vertex": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS cc
  FROM c e1 JOIN c e2 ON e1.dst = e2.src JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
cnt AS (
  SELECT id, count(*) AS t FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT cc FROM tri
  ) GROUP BY id
)
SELECT v.id, coalesce(cnt.t, 0) AS triangles FROM verts v LEFT JOIN cnt ON v.id = cnt.id""",
        "g_pagerank3": _pagerank3_sql(),
        "g_pagerank_dangling3": _pagerank_dangling3_sql(),
        "p_crawl_budget": f"""
WITH hr AS ({_pagerank3_sql(alpha=0.85, iters=3, contract_hosts=64)}),
ri AS (SELECT id AS host, CAST(round(rank * 1e7, 0) AS BIGINT) AS ri FROM hr),
tot AS (SELECT sum(ri) AS rtot FROM ri),
shares AS (
  SELECT host, ri,
         (100000 * ri) // tot.rtot AS base,
         (100000 * ri) % tot.rtot AS rem
  FROM ri, tot
),
spent AS (SELECT sum(base) AS base_tot FROM shares),
ranked AS (
  SELECT host, base,
         row_number() OVER (ORDER BY rem DESC, host ASC) AS rn,
         100000 - spent.base_tot AS leftover
  FROM shares, spent
)
SELECT host,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS budget
FROM ranked""",
        "g_host_rank_mass": f"""
WITH pr AS ({_pagerank3_sql(alpha=0.85, iters=3)})
SELECT id % 64 AS host,
       CAST(count(*) AS BIGINT) AS n_pages,
       round(sum(rank), 7) AS rank_mass
FROM pr GROUP BY host""",
        "g_hits4": _hits4_sql(),
        "g_ktruss8": _ktruss_sql(k=8, rounds=4),
        "g_betweenness8": _betweenness_sql(n_sources=8, depth=8),
        "g_sssp6": _sssp_sql(n_sources=4, rounds=6),
        "g_components": _components_sql(),
        "g_giant_component": f"""
WITH res AS ({_components_sql()}),
sz AS (SELECT comp, count(*) AS n FROM res GROUP BY comp)
SELECT count(*) AS n_components,
       CAST(max(n) AS BIGINT) AS giant_size,
       CAST(sum(n) AS BIGINT) AS n_vertices,
       round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS giant_share
FROM sz""",
        "g_scc": _scc_sql(thr="0a"),
        "g_partition_nmi": _partition_nmi_sql(thr="0a"),
        "g_scc_dag": _scc_dag_sql(thr="0a"),
        "g_bowtie": _bowtie_sql(thr="0a"),
        "g_reciprocity": _reciprocity_sql(),
        "g_nepotism": f"""
WITH {_EDGES_CTE.strip()},
ph AS (
  SELECT dst AS id, src % 16 AS shost, count(*) AS c
  FROM edges GROUP BY 1, 2
)
SELECT id, CAST(sum(c) AS BIGINT) AS n_in,
       CAST(max(c) AS BIGINT) AS top_host_in,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS domination
FROM ph GROUP BY id""",
        "p_host_fanout": f"""
WITH {_EDGES_CTE.strip()}
SELECT src AS id, count(*) AS n_out,
       count(DISTINCT dst % 16) AS n_hosts
FROM edges GROUP BY src""",
        "ev_dau": """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day AS d0 FROM ud),
dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT d.d0, count(DISTINCT u.user_id) AS wau
  FROM days d JOIN ud u ON u.day <= d.d0 AND u.day >= d.d0 - 6
  GROUP BY d.d0
)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.d0""",
        "g_mutual_triangles": f"""
WITH {_sequence_cte('ff')},
rc AS (
  SELECT DISTINCT e.src, e.dst
  FROM dedges e JOIN dedges r ON e.src = r.dst AND e.dst = r.src
  WHERE e.src < e.dst
)
SELECT count(*) AS n_mutual_triangles
FROM rc e1 JOIN rc e2 ON e1.dst = e2.src
JOIN rc e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
        "g_cocitation100": f"WITH {_EDGES_CTE.strip()},\n"
        """de AS (SELECT src, dst FROM edges WHERE src < dst),
od AS (SELECT src, count(*) AS odeg FROM de GROUP BY src),
dec AS (SELECT d.src, d.dst FROM de d JOIN od o ON d.src = o.src
        WHERE o.odeg <= 150)
SELECT x.dst AS a, y.dst AS b, count(*) AS cocitations
FROM dec x JOIN dec y ON x.src = y.src AND x.dst < y.dst
GROUP BY x.dst, y.dst
ORDER BY cocitations DESC, a, b LIMIT 100""",
        "g_bibcoupling100": f"WITH {_EDGES_CTE.strip()},\n"
        """de AS (SELECT src, dst FROM edges WHERE src < dst),
ind AS (SELECT dst, count(*) AS ideg FROM de GROUP BY dst),
dec AS (SELECT d.src, d.dst FROM de d JOIN ind i ON d.dst = i.dst
        WHERE i.ideg <= 150)
SELECT x.src AS a, y.src AS b, count(*) AS couplings
FROM dec x JOIN dec y ON x.dst = y.dst AND x.src < y.src
GROUP BY x.src, y.src
ORDER BY couplings DESC, a, b LIMIT 100""",
        "g_salsa4": _salsa4_sql(),
        "g_leiden_mod64": _leiden_mod64_sql(),
        "g_nf2": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
p0 AS (SELECT DISTINCT src AS v, src AS u FROM sym),
p1 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM p0
  UNION ALL
  SELECT p.v, s.dst AS u FROM p0 p JOIN sym s ON p.u = s.src)),
p2 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM p1
  UNION ALL
  SELECT p.v, s.dst AS u FROM p1 p JOIN sym s ON p.u = s.src)),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM p0),
cnt AS (
  SELECT CAST(0 AS INT) AS r, count(*) AS reachable_pairs FROM p0
  UNION ALL
  SELECT CAST(1 AS INT), count(*) FROM p1
  UNION ALL
  SELECT CAST(2 AS INT), count(*) FROM p2)
SELECT r, reachable_pairs,
       round(reachable_pairs / nv.nv, 6) AS avg_reach
FROM cnt, nv""",
        "g_powerlaw_alpha": f"WITH {_EDGES_CTE.strip()},\n"
        """und AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
deg AS (SELECT src AS id, count(*) AS deg FROM und GROUP BY src)
SELECT CAST(5 AS INT) AS dmin, count(*) AS n_tail,
       round(1.0 + count(*) / sum(ln(deg / 5.0)), 6) AS alpha
FROM deg WHERE deg >= 5""",
        "g_hostgraph64": f"WITH {_EDGES_CTE.strip()}\n"
        """SELECT src % 64 AS hsrc, dst % 64 AS hdst,
       sum(w) AS weight, count(*) AS page_edges
FROM edges GROUP BY src % 64, dst % 64""",
        "g_reach2": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
p0 AS (SELECT DISTINCT src AS v, src AS u FROM sym),
p1 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM p0
  UNION ALL
  SELECT p.v, s.dst AS u FROM p0 p JOIN sym s ON p.u = s.src)),
p2 AS (SELECT DISTINCT v, u FROM (
  SELECT v, u FROM p1
  UNION ALL
  SELECT p.v, s.dst AS u FROM p1 p JOIN sym s ON p.u = s.src))
SELECT v AS id, count(*) AS reach FROM p2 GROUP BY v""",
        "g_labelprop": _labelprop_sql(),
        "g_bfs_hops": _bfs_sql(),
        "p_click_depth4": _click_depth_sql(),
        "g_absorb4": _absorb_sql(),
        "g_link_exchange": f"""
WITH {_EDGES_CTE.strip()},
hg AS (
  SELECT src % 64 AS hsrc, dst % 64 AS hdst, count(*) AS page_edges
  FROM edges WHERE src % 64 <> dst % 64 GROUP BY 1, 2
)
SELECT f.hsrc AS a, f.hdst AS b, f.page_edges AS fwd_edges,
       r.page_edges AS bwd_edges,
       least(f.page_edges, r.page_edges) AS exchange_min
FROM hg f JOIN hg r ON f.hsrc = r.hdst AND f.hdst = r.hsrc
WHERE f.hsrc < f.hdst""",
        "e_sq_topk": """
WITH ex AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
), mm AS (
  SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d
), codes AS (
  SELECT vec_id, ex.d,
         CASE WHEN mx > mn
              THEN CAST(least(15, greatest(0, floor((x - mn) * 16.0 / (mx - mn)))) AS BIGINT)
              ELSE 0 END AS c
  FROM ex JOIN mm ON ex.d = mm.d
), q AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 10
), dist AS (
  SELECT qc.vec_id AS query_id, ec.vec_id AS neighbor_id,
         sum((qc.c - ec.c) * (qc.c - ec.c)) AS sqdist
  FROM codes qc JOIN codes ec ON qc.d = ec.d AND qc.vec_id <> ec.vec_id
  WHERE qc.vec_id IN (SELECT vec_id FROM q)
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sqdist ASC, neighbor_id ASC) AS rn
  FROM dist
)
SELECT query_id, neighbor_id, CAST(sqdist AS BIGINT) AS sqdist
FROM ranked WHERE rn <= 10""",
        "g_disconnected_mod64": _disconnected_sql(),
        "g_community_degree_mod64": f"WITH {_EDGES_CTE.strip()},\n"
        "deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src)\n"
        # CAST: DuckDB sum(BIGINT) widens to HUGEINT (→ float64 through the
        # driver's arrow bridge); Spark's sum(bigint) stays bigint.
        "SELECT id % 64 AS com, CAST(sum(deg) AS BIGINT) AS total_degree "
        "FROM deg GROUP BY id % 64",
        "g_transpose_degrees": f"WITH {_EDGES_CTE.strip()},\n"
        """deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
SELECT e.dst AS src, e.src AS dst, e.w,
       coalesce(d.deg, 0) AS src_outdeg
FROM edges e LEFT JOIN deg d ON d.src = e.src""",
        "ev_sessions": _SESSIONS_SQL,
        "ev_bounce": """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), s AS (
  SELECT user_id, sid, min(ts) AS session_start, count(*) AS n
  FROM g GROUP BY 1, 2
)
SELECT CAST(CAST(session_start AS DATE) AS VARCHAR) AS day,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bounce_rate
FROM s GROUP BY 1""",
        "m_media_meta": """
SELECT doc_id AS id, 'text' AS media_type,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       CAST(1 + CAST(('0x' || substr(sha256(text), 1, 4)) AS BIGINT) % 4096 AS INT) AS width,
       CAST(1 + CAST(('0x' || substr(sha256(text), 5, 4)) AS BIGINT) % 4096 AS INT) AS height,
       substr(sha256(text), 1, 16) AS checksum
FROM documents""",
        "m_media_dedup": """
WITH m AS (
  SELECT doc_id AS id, substr(sha256(text), 1, 16) AS checksum FROM documents
), g AS (
  SELECT checksum, min(id) AS keep_id, count(*) AS group_size
  FROM m GROUP BY checksum
)
SELECT m.id, g.keep_id, g.group_size, m.checksum
FROM m JOIN g ON m.checksum = g.checksum""",
        "m_media_features": (
            """
SELECT doc_id AS id, 'text' AS media_type,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       CAST(1 + CAST(('0x' || substr(sha256(text), 1, 4)) AS BIGINT) % 4096 AS INT) AS width,
       CAST(1 + CAST(('0x' || substr(sha256(text), 5, 4)) AS BIGINT) % 4096 AS INT) AS height,
       substr(sha256(text), 1, 16) AS checksum,
"""
            + ",\n".join(
                f"       CAST(('0x' || substr(sha256(text), {9 + 4 * i}, 4)) AS BIGINT)"
                f" / 65536.0 AS feat_{i}"
                for i in range(8)
            )
            + "\nFROM documents"
        ),
        "m_frame_sample": """
WITH b AS (SELECT doc_id AS id, octet_length(CAST(text AS BLOB)) AS nb FROM documents),
n AS (SELECT id, nb, least(8, greatest(1, nb // 1024)) AS nf FROM b)
SELECT id, CAST(f AS INT) AS frame_no, CAST(f * 1024 AS BIGINT) AS offset,
       greatest(0, least(1024, nb - f * 1024)) AS frame_bytes
FROM n, unnest(generate_series(0, nf - 1)) AS t(f)""",
        "g_describe": f"WITH {_EDGES_CTE.strip()},\n"
        """v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)
SELECT (SELECT count(*) FROM v) AS "order", count(*) AS size,
       sum(w) AS total_weight,
       CAST(sum(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT) AS self_loops
FROM edges""",
        "d_dedup_exact": """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, min(doc_id) AS keep_id, count(*) AS group_size FROM h GROUP BY text_hash)
SELECT h.doc_id, g.keep_id, g.group_size, h.text_hash FROM h JOIN g USING (text_hash)""",
        "d_dedup_fingerprint": f"""
WITH h AS (SELECT doc_id, substr(md5({_norm("text")}), 1, 16) AS fp FROM documents),
g AS (SELECT fp, min(doc_id) AS keep_id, count(*) AS group_size FROM h GROUP BY fp)
SELECT h.doc_id, g.keep_id, g.group_size, h.fp FROM h JOIN g USING (fp)""",
        "d_token_count": f"SELECT doc_id, {tc} AS n_tokens FROM documents",
        "d_quality": f"""
SELECT doc_id,
  length(text) AS n_chars,
  {tc} AS n_tokens,
  round(CASE WHEN {tc} > 0 THEN CAST(list_sum(list_transform({_toks("text")}, x -> length(x))) AS DOUBLE) / {tc} ELSE 0.0 END, 6) AS mean_token_len,
  round(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS alpha_ratio,
  round(CASE WHEN {tc} > 0 THEN CAST({en_cnt} AS DOUBLE) / {tc} ELSE 0.0 END, 6) AS stopword_ratio
FROM documents""",
        "d_lang_id": f"""
SELECT doc_id,
  CASE WHEN {en_cnt} = 0 AND {de_cnt} = 0 THEN 'und'
       WHEN {de_cnt} > {en_cnt} THEN 'de' ELSE 'en' END AS lang_pred
FROM documents""",
        "d_fingerprint": f"SELECT doc_id, substr(md5({_norm('text')}), 1, 16) AS fp FROM documents",
        "d_sample_stratified": """
SELECT doc_id, lang, substr(md5('s7|' || CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
FROM documents
WHERE substr(md5('s7|' || CAST(doc_id AS VARCHAR)), 1, 8) <
  CASE lang WHEN 'en' THEN '40000000' WHEN 'zh' THEN '80000000'
            ELSE '20000000' END""",
        "d_clean_corpus": f"""
WITH feats AS (
  SELECT doc_id, md5(text) AS text_hash,
    CASE WHEN {en_cnt} = 0 AND {de_cnt} = 0 THEN 'und'
         WHEN {de_cnt} > {en_cnt} THEN 'de' ELSE 'en' END AS lang_pred,
    {tc} AS n_tokens,
    length(text) AS n_chars,
    round(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS alpha_ratio
  FROM documents
), gated AS (
  SELECT * FROM feats
  WHERE n_tokens BETWEEN 10 AND 100000
    AND alpha_ratio >= 0.5 AND lang_pred IN ('en', 'de')
)
SELECT doc_id, lang_pred, n_tokens, n_chars, alpha_ratio FROM (
  SELECT gated.*, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
  FROM gated) WHERE rn = 1""",
        "d_chunks": f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN {_norm('text')} = '' THEN CAST([] AS VARCHAR[])
              ELSE {_toks('text')} END AS t
  FROM documents
),
s AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), 48)) AS st
  FROM toks
)
SELECT doc_id,
       CAST((st - 1) // 48 AS BIGINT) AS chunk_id,
       CAST(len(t[st:st + 63]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[st:st + 63], ' ') AS chunk_text
FROM s""",
        "d_vocab_topk": f"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest({_toks('text')}) AS token FROM documents
      WHERE {_norm('text')} <> '')
GROUP BY token ORDER BY freq DESC, token LIMIT 100""",
        "g_degree_hist": f"WITH {_EDGES_CTE.strip()},\n"
        "deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src)\n"
        "SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree",
        "g_kcore80": _kcore_sql(k=80, rounds=12),
        "g_ppr3": _ppr3_sql(),
        "g_assortativity": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)
SELECT round(corr(CAST(ds.deg AS DOUBLE), CAST(dd.deg AS DOUBLE)), 6)
         AS assortativity,
       count(*) AS n_edges
FROM sym s JOIN deg ds ON s.src = ds.id JOIN deg dd ON s.dst = dd.id""",
        "g_adamic_adar100": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
pd AS (SELECT src AS u, count(*) AS pdeg FROM sym GROUP BY src
       HAVING count(*) <= 10000),
piv AS (SELECT pd.u, s.dst, pd.pdeg FROM sym s JOIN pd ON s.src = pd.u)
SELECT l.dst AS a, r.dst AS b,
       CAST(count(*) AS BIGINT) AS common_neighbors,
       round(sum(1.0 / ln(l.pdeg)), 6) AS aa_score
FROM piv l JOIN piv r ON l.u = r.u AND l.dst < r.dst
GROUP BY 1, 2
ORDER BY common_neighbors DESC, a, b LIMIT 100""",
        "d_bigram_topk": f"""
WITH toks AS (
  SELECT {_toks('text')} AS t FROM documents WHERE {_norm('text')} <> ''
),
grams AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS ngram
  FROM toks WHERE len(t) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS freq FROM grams
GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 100""",
        "e_label_centroids": """
SELECT label, pos, round(avg(val), 6) AS centroid_val,
       count(*) AS n_vectors
FROM (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
GROUP BY label, pos""",
        "g_clustering": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS cc
  FROM c e1 JOIN c e2 ON e1.dst = e2.src JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
cnt AS (
  SELECT id, count(*) AS t FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT cc FROM tri
  ) GROUP BY id
),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
SELECT d.id, d.degree, CAST(coalesce(cnt.t, 0) AS BIGINT) AS triangles,
       round(CASE WHEN d.degree >= 2
             THEN 2.0 * coalesce(cnt.t, 0) / (d.degree * (d.degree - 1.0))
             ELSE 0.0 END, 6) AS lcc
FROM deg d LEFT JOIN cnt ON d.id = cnt.id""",
        "g_common_neighbors100": f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
pd AS (SELECT src AS u, count(*) AS pdeg FROM sym GROUP BY src),
piv AS (SELECT s.src, s.dst FROM sym s JOIN pd ON s.src = pd.u
        WHERE pd.pdeg <= 10000),
pairs AS (
  SELECT l.dst AS a, r.dst AS b, count(*) AS common_neighbors
  FROM piv l JOIN piv r ON l.src = r.src AND l.dst < r.dst
  GROUP BY 1, 2
)
SELECT p.a, p.b, CAST(p.common_neighbors AS BIGINT) AS common_neighbors,
       (e.src IS NOT NULL) AS is_edge
FROM pairs p LEFT JOIN sym e ON e.src = p.a AND e.dst = p.b
ORDER BY common_neighbors DESC, a, b LIMIT 100""",
        "d_minhash_sig": _minhash_sig_sql(),
        "d_ngram_pairs": _ngram_pairs_sql(),
        "d_containment": _containment_sql(),
        "g_widest4": _widest_sql(),
        "d_winnow": f"""
WITH t AS (
  SELECT doc_id AS doc, {_toks('text')} AS toks
  FROM documents WHERE {_norm('text')} <> ''
), gr AS (
  SELECT doc,
         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(generate_series(1, len(toks) - 5 + 1),
                   i -> array_to_string(toks[i:i+4], ' ')) END AS gs
  FROM t
), g AS (
  SELECT doc, generate_subscripts(gs, 1) AS pos,
         CAST(('0x' || substr(md5(unnest(gs)), 1, 15)) AS BIGINT) AS h
  FROM gr
), wmin AS (
  SELECT doc, pos,
         min(h) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc) AS ng
  FROM g
)
SELECT DISTINCT doc, fp FROM wmin WHERE pos <= greatest(1, ng - 4 + 1)""",
        "d_simhash": _simhash_sql(),
        "d_minhash_lsh_pairs": _minhash_lsh_pairs_sql(),
        "d_dedup_clusters": _dedup_clusters_sql(),
        "d_simhash_pairs": _simhash_pairs_sql(),
        "e_lsh_topk": _lsh_topk_sql(),
        "e_ivf_topk": _ivf_topk_sql(),
        "e_ivf_balance": _ivf_balance_sql(),
        "e_embed_neardup": _embed_neardup_sql(),
        "e_cosine_topk": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 10""",
        "ev_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS value_sum
FROM events GROUP BY 1, 2""",
        "ev_anomaly": """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS DOUBLE) AS nf
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour, nf,
         avg(nf) OVER w AS mu,
         stddev_samp(nf) OVER w AS sd,
         count(nf) OVER w AS cnt
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, CAST(nf AS BIGINT) AS n,
       round(mu, 6) AS trail_avg, round((nf - mu) / sd, 6) AS z
FROM scored WHERE cnt >= 12 AND sd > 0""",
    }
    out["g_jaccard100"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
pd AS (SELECT src AS u, count(*) AS pdeg FROM sym GROUP BY src
       HAVING count(*) <= 10000),
piv AS (SELECT pd.u, s.dst FROM sym s JOIN pd ON s.src = pd.u),
pairs AS (
  SELECT l.dst AS a, r.dst AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM piv l JOIN piv r ON l.u = r.u AND l.dst < r.dst
  GROUP BY 1, 2
  ORDER BY common_neighbors DESC, a, b LIMIT 100),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)
SELECT a, b, common_neighbors,
       round(common_neighbors
             / CAST(da.deg + db.deg - common_neighbors AS DOUBLE), 6)
         AS jaccard
FROM pairs JOIN deg da ON pairs.a = da.id JOIN deg db ON pairs.b = db.id
ORDER BY common_neighbors DESC, a, b"""
    )
    out["g_harmonic8"] = _harmonic_sql(n_sources=8, rounds=12)
    out["g_ecc8"] = _ecc_sql(n_sources=8, rounds=12)
    out["g_degree_gini"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src),
hist AS (SELECT degree, count(*) AS c FROM deg GROUP BY degree),
h AS (
  SELECT degree, c,
         sum(c) OVER (ORDER BY degree
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
agg AS (
  SELECT sum(degree * (cum - c + 1 + cum) * c / 2.0) AS rw,
         sum(degree * c) AS s, sum(c) AS n
  FROM h
)
SELECT CAST(n AS BIGINT) AS n_vertices, CAST(s AS BIGINT) AS total_degree,
       round(2.0 * rw / (n * s) - (n + 1.0) / n, 6) AS gini
FROM agg"""
    )
    out["g_richclub"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src),
c AS (SELECT e.src, e.dst FROM edges e WHERE e.src < e.dst),
ann AS (
  SELECT ds.degree AS dsrc, dd.degree AS ddst
  FROM c JOIN deg ds ON c.src = ds.id JOIN deg dd ON c.dst = dd.id
),
ks AS (SELECT unnest([10, 50, 100]) AS k)
SELECT CAST(ks.k AS INT) AS k,
       (SELECT count(*) FROM deg WHERE degree > ks.k) AS n_rich,
       (SELECT count(*) FROM ann WHERE dsrc > ks.k AND ddst > ks.k) AS e_rich,
       CASE WHEN (SELECT count(*) FROM deg WHERE degree > ks.k) > 1
            THEN round(2.0 * (SELECT count(*) FROM ann
                              WHERE dsrc > ks.k AND ddst > ks.k)
                 / ((SELECT count(*) FROM deg WHERE degree > ks.k)
                    * ((SELECT count(*) FROM deg WHERE degree > ks.k) - 1)), 6)
            ELSE 0.0 END AS phi
FROM ks"""
    )
    out["g_sparsify10"] = (
        f"WITH {_EDGES_CTE.strip()}\n"
        """SELECT src, dst, w FROM edges
WHERE substr(md5('g1|' || CAST(least(src, dst) AS VARCHAR) || '|'
                 || CAST(greatest(src, dst) AS VARCHAR)), 1, 8)
      < '1999999a'"""
    )
    out["g_supplier_proj100"] = """
WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey FROM lineitem)
SELECT a.l_suppkey AS sa, b.l_suppkey AS sb,
       CAST(count(DISTINCT a.pk) AS BIGINT) AS shared_parts
FROM ps a JOIN ps b ON a.pk = b.pk AND a.l_suppkey < b.l_suppkey
GROUP BY sa, sb
ORDER BY shared_parts DESC, sa, sb LIMIT 100"""
    out["g_snapshot_diff"] = """
WITH em AS (
  SELECT DISTINCT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  JOIN orders o ON o.o_orderkey = a.l_orderkey
),
months AS (SELECT DISTINCT month FROM em),
valid AS (
  SELECT m2.month
  FROM months m1 JOIN months m2
    ON CAST(m1.month + INTERVAL 1 MONTH AS DATE) = m2.month
),
prev AS (SELECT CAST(month + INTERVAL 1 MONTH AS DATE) AS month,
                s, d, 1 AS in_prev FROM em),
cur AS (SELECT month, s, d, 1 AS in_cur FROM em),
j AS (SELECT * FROM cur FULL JOIN prev USING (month, s, d))
SELECT month,
       CAST(sum(CASE WHEN in_cur IS NOT NULL AND in_prev IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN in_prev IS NOT NULL AND in_cur IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN in_cur IS NOT NULL AND in_prev IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
FROM j JOIN valid USING (month)
GROUP BY month"""
    out["g_edges_monthly"] = """
SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
       CAST(count(DISTINCT (a.l_partkey, b.l_partkey)) AS BIGINT)
         AS n_active_pairs
FROM lineitem a
JOIN lineitem b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
JOIN orders o ON o.o_orderkey = a.l_orderkey
GROUP BY month"""
    out["d_corpus_profile"] = """
SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.95), 6) AS p95_chars
FROM documents GROUP BY source"""
    out["ev_retention"] = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(datediff('day', DATE '1970-01-01',
                             CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
sizes AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
          FROM cohort GROUP BY cohort_week),
ret AS (
  SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
         count(DISTINCT u.user_id) AS n_users
  FROM uw u JOIN cohort c ON u.user_id = c.user_id
  GROUP BY c.cohort_week, u.week - c.cohort_week
)
SELECT r.cohort_week, r.week_offset, CAST(r.n_users AS BIGINT) AS n_users,
       round(r.n_users / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week"""
    out["g_pmi100"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """und AS (SELECT src AS a, dst AS b, w FROM edges WHERE src < dst),
marg AS (SELECT src AS id, sum(w) AS c FROM edges GROUP BY src),
nt AS (SELECT sum(w) AS n FROM und)
SELECT a, b, CAST(u.w AS BIGINT) AS support,
       round(nt.n * u.w / (ma.c * mb.c), 6) AS lift
FROM und u JOIN marg ma ON u.a = ma.id JOIN marg mb ON u.b = mb.id, nt
WHERE u.w >= 3
ORDER BY lift DESC, a, b LIMIT 100"""
    )
    out["d_bigram_next"] = f"""
WITH toks AS (
  SELECT {_toks('text')} AS t FROM documents WHERE {_norm('text')} <> ''
),
pairs AS (
  SELECT split_part(ngram, ' ', 1) AS w1, split_part(ngram, ' ', 2) AS w2,
         count(*) AS c12
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS ngram
    FROM toks WHERE len(t) >= 2
  ) GROUP BY 1, 2
),
tot AS (SELECT w1, sum(c12) AS c1 FROM pairs GROUP BY w1),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY w1 ORDER BY c12 DESC, w2 ASC) AS rn
  FROM pairs
)
SELECT b.w1, b.w2 AS next_word, CAST(b.c12 AS BIGINT) AS pair_count,
       CAST(t.c1 AS BIGINT) AS first_count,
       round(b.c12 / CAST(t.c1 AS DOUBLE), 6) AS p_next
FROM best b JOIN tot t ON b.w1 = t.w1 WHERE b.rn = 1
ORDER BY first_count DESC, b.w1 LIMIT 50"""
    out["g_community_density_mod64"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
mem AS (SELECT id, id % 64 AS com FROM v),
sizes AS (SELECT com, count(*) AS size FROM mem GROUP BY com),
internal AS (
  SELECT ms.com, count(*) AS internal_edges
  FROM edges e JOIN mem ms ON e.src = ms.id JOIN mem md ON e.dst = md.id
  WHERE e.src < e.dst AND ms.com = md.com GROUP BY ms.com
)
SELECT s.com, CAST(s.size AS BIGINT) AS size,
       CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
       round(coalesce(i.internal_edges, 0)
             / (s.size * (s.size - 1) / 2.0), 6) AS density
FROM sizes s LEFT JOIN internal i ON s.com = i.com"""
    )
    out["g_conductance_mod64"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
mem AS (SELECT id, id % 64 AS com FROM v),
per AS (
  SELECT ms.com,
         sum(e.w) AS vol_w,
         sum(CASE WHEN ms.com <> md.com THEN e.w ELSE 0 END) AS cut_w
  FROM edges e JOIN mem ms ON e.src = ms.id JOIN mem md ON e.dst = md.id
  GROUP BY ms.com
), tot AS (SELECT sum(vol_w) AS two_m FROM per)
SELECT com, vol_w, cut_w,
       round(CASE WHEN least(vol_w, two_m - vol_w) > 0
             THEN cut_w / least(vol_w, two_m - vol_w)
             ELSE 0 END, 6) AS conductance
FROM per, tot"""
    )
    out["g_knn_curve"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nb AS (
  SELECT e.src, sum(d2.deg) AS snd
  FROM edges e JOIN deg d2 ON e.dst = d2.src
  GROUP BY e.src
)
SELECT CAST(d.deg AS BIGINT) AS deg,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(nb.snd) AS BIGINT) AS sum_nb_deg,
       round(sum(nb.snd) / (d.deg * count(*)), 6) AS knn
FROM nb JOIN deg d ON nb.src = d.src
GROUP BY d.deg"""
    )
    out["ev_funnel"] = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)"""
    out["e_knn10"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM scored
), nn AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rn <= 10
), votes AS (
  SELECT nn.query_id, CAST(e.label AS BIGINT) AS nl,
         CAST(count(*) AS BIGINT) AS votes
  FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
  GROUP BY nn.query_id, e.label
), best AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY votes DESC, nl ASC) AS rn
  FROM votes
)
SELECT query_id, nl AS pred_label, votes FROM best WHERE rn = 1"""
    def _walks_sql(cap: int | None = None) -> str:
        # cap → sorted-prefix slice of the adjacency list, mirroring
        # deterministic_walks(max_neighbors=cap) (the hub width bound)
        nb = "list(dst ORDER BY dst)"
        if cap is not None:
            nb = f"({nb})[1:{cap}]"
        ctes = [
            _EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
            "dedges AS (SELECT DISTINCT src, dst FROM edges)",
            f"adj AS MATERIALIZED (SELECT src, {nb} AS nbrs "
            "FROM dedges GROUP BY src)",
            "verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
            "w0 AS (SELECT id AS walk_id, 0 AS step, id AS v FROM "
            "(SELECT id FROM verts ORDER BY id LIMIT 16))",
        ]
        for k in range(8):
            ctes.append(
                f"w{k + 1} AS (SELECT walk_id, {k + 1} AS step, "
                f"nbrs[CAST(1 + CAST(('0x' || substr(md5("
                f"walk_id::VARCHAR || ':{k}:' || v::VARCHAR), 1, 8)) AS BIGINT)"
                f" % len(nbrs) AS INT)] AS v "
                f"FROM w{k} JOIN adj ON w{k}.v = adj.src)"
            )
        return (
            "WITH "
            + ",\n".join(ctes)
            + "\n"
            + "\nUNION ALL\n".join(
                f"SELECT walk_id, step, v FROM w{k}" for k in range(9)
            )
        )

    out["g_walks16"] = _walks_sql()
    out["g_walks16_capped"] = _walks_sql(cap=4)
    ego_ctes = _msbfs_ctes(n_sources=1, rounds=2)
    out["g_egonet2"] = (
        "WITH "
        + ",\n".join(ego_ctes)
        + """,
ego AS (SELECT DISTINCT id FROM b2)
SELECT e.src, e.dst, e.w
FROM edges e
JOIN ego a ON e.src = a.id
JOIN ego b ON e.dst = b.id"""
    )
    out["d_contamination"] = f"""
WITH t AS (
  SELECT doc_id, {_toks('text')} AS toks
  FROM documents WHERE {_norm('text')} <> ''
),
dsh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(generate_series(1, len(toks) - 7),
                                 i -> array_to_string(toks[i:i+7], ' '))
           END) AS sh
    FROM t
  )
),
ev AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 29 = 0),
shared AS (
  SELECT d.doc_id, count(*) AS n FROM dsh d JOIN ev ON d.sh = ev.sh
  WHERE d.doc_id % 29 <> 0 GROUP BY d.doc_id
)
SELECT tr.doc_id, CAST(coalesce(shared.n, 0) AS BIGINT) AS n_shared_shingles,
       coalesce(shared.n, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) tr
LEFT JOIN shared ON tr.doc_id = shared.doc_id"""
    out["d_repetition"] = f"""
WITH t AS (
  SELECT doc_id, {_toks('text')} AS t
  FROM documents WHERE {_norm('text')} <> ''
),
topw AS (
  SELECT doc_id, n, max(c) AS topw FROM (
    SELECT doc_id, n, w, count(*) AS c FROM (
      SELECT doc_id, len(t) AS n, unnest(t) AS w FROM t
    ) GROUP BY doc_id, n, w
  ) GROUP BY doc_id, n
),
topg AS (
  SELECT doc_id, max(c) AS topg FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM t WHERE len(t) >= 2
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(topw.n, 0) AS BIGINT) AS n_tokens,
       round(topw.topw / CAST(topw.n AS DOUBLE), 6) AS top_word_frac,
       round(topg.topg / CAST(topw.n - 1 AS DOUBLE), 6) AS top_bigram_frac
FROM documents d
LEFT JOIN topw ON d.doc_id = topw.doc_id
LEFT JOIN topg ON d.doc_id = topg.doc_id"""
    out["ev_transitions"] = """
SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type"""
    out["d_tfidf_top3"] = f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_toks('text')}) AS token FROM documents
        WHERE {_norm('text')} <> '')
  GROUP BY doc_id, token
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * ln(CAST(nd.n AS DOUBLE) / dft.df), 6) AS tfidf
  FROM tf JOIN dft ON tf.token = dft.token, nd
)
SELECT doc_id, token, tf, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= 3"""
    out["d_unigram_lm"] = f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_toks('text')}) AS token FROM documents
        WHERE {_norm('text')} <> '')
  GROUP BY doc_id, token
),
tot AS (SELECT sum(tf) AS t FROM tf),
uni AS (SELECT token, sum(tf) AS ctok FROM tf GROUP BY token),
per AS (
  SELECT tf.doc_id, sum(tf.tf) AS n_tokens,
         round(sum(tf.tf * ln(uni.ctok / CAST(tot.t AS DOUBLE)))
               / sum(tf.tf), 6) AS avg_logp
  FROM tf JOIN uni ON tf.token = uni.token, tot
  GROUP BY tf.doc_id
)
SELECT d.doc_id, CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       per.avg_logp
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
    out["d_chunk_dedup"] = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN {_norm('text')} = '' THEN CAST([] AS VARCHAR[])
              ELSE {_toks('text')} END AS t
  FROM documents
),
s AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), 48)) AS st
  FROM toks
),
hh AS (
  SELECT doc_id, CAST((st - 1) // 48 AS BIGINT) AS chunk_id,
         md5(array_to_string(t[st:st + 63], ' ')) AS h
  FROM s
),
grp AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM hh GROUP BY h),
rnk AS (
  SELECT doc_id, chunk_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
  FROM hh
),
per AS (
  SELECT r.doc_id, count(*) AS n_chunks,
         sum(CASE WHEN g.ndocs >= 2 AND r.rn > 1 THEN 1 ELSE 0 END)
           AS n_dropped
  FROM rnk r JOIN grp g ON r.h = g.h GROUP BY r.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(per.n_chunks - per.n_dropped, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(per.n_dropped, 0) AS BIGINT) AS n_dropped
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
    _email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _phone = "\\+?[0-9][0-9() -]{6,}[0-9]"
    out["d_pii_redact"] = f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(text, '{_email}', '<EMAIL>', 'g'),
                          '{_phone}', '<PHONE>', 'g')) AS red_hash,
       CAST(len(regexp_extract_all(text, '{_email}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(
           regexp_replace(text, '{_email}', '<EMAIL>', 'g'),
           '{_phone}')) AS INT) AS n_phones
FROM documents"""
    # g_louvain (auto mode): oracle the SQL-derivable invariants — the
    # vertex stats come from the input edge table; n_components is the
    # oracle's OWN recursive-SQL component count (cross-engine value,
    # not a flag); the remaining flags are literal TRUE, flipped to
    # FALSE on the Spark side if the partition merges across components
    # (coms_ge_components), the renumber breaks (coms_dense), or the
    # engine's reported Q disagrees with a from-membership
    # recomputation (q_engine_matches_recomputed).
    out["g_louvain"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        "v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)\n"
        "SELECT count(*) AS n_rows, count(*) AS n_distinct_ids,\n"
        "       min(id) AS id_min, max(id) AS id_max,\n"
        "       (SELECT count(DISTINCT comp) FROM "
        f"({_components_sql()})) AS n_components,\n"
        "       TRUE AS coms_dense, TRUE AS coms_ge_components,\n"
        "       TRUE AS q_engine_matches_recomputed,\n"
        "       TRUE AS modularity_positive\n"
        "FROM v"
    )
    out["p_extract_edges"] = (
        f"WITH {_PAGES_CTE},\n"
        r"""ids AS (
  SELECT url, (row_number() OVER (ORDER BY url)) - 1 AS id FROM pages
),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html,
                '<a\s+[^>]*href="([^"]*)"[^>]*>', 1)) AS dst_url
  FROM pages
),
e2 AS (
  SELECT i1.id AS src, i2.id AS dst
  FROM links l
  JOIN ids i1 ON l.src_url = i1.url
  JOIN ids i2 ON l.dst_url = i2.url
  WHERE i1.id <> i2.id
)
SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e2 GROUP BY src, dst"""
    )
    out["p_host_profile"] = (
        f"WITH {_PAGES_CTE}\n"
        r"""SELECT 'host' || (v % 16) AS host,
       count(*) AS n_pages,
       CAST(sum(len(regexp_extract_all(html,
            '<a\s+[^>]*href="([^"]*)"[^>]*>', 1))) AS BIGINT) AS n_links,
       CAST(sum(CASE WHEN array_to_string(
            regexp_extract_all(html, '<p>(.*?)</p>', 1), '') = text
            THEN 1 ELSE 0 END) AS BIGINT) AS n_text_exact,
       CAST(sum(CASE WHEN v % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       CAST(sum(length(text)) AS BIGINT) AS text_chars
FROM pages GROUP BY 1"""
    )
    out["p_latest_capture"] = """
WITH caps AS (
  SELECT 'https://host' || (doc_id % 16) || '.example/p' || doc_id AS url,
         c.capture AS capture,
         make_timestamp(2025, 1, 1, 0, 0, 0)
           + to_seconds((doc_id * 37 + c.capture * 7919) % 99991) AS warc_ts
  FROM documents, (VALUES (0), (1), (2)) c(capture)
)
SELECT url, capture, CAST(warc_ts AS VARCHAR) AS ts
FROM (SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
      FROM caps)
WHERE rn = 1"""
    out["p_anchor_terms"] = (
        f"WITH {_PAGES_CTE},\n"
        r"""z AS (
  SELECT unnest(list_zip(
           regexp_extract_all(html,
             '<a\s+[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1),
           regexp_extract_all(html,
             '<a\s+[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2))) AS u
  FROM pages
),
toks AS (
  SELECT u[1] AS url,
         unnest(string_split(u[2], ' ')) AS term
  FROM z
),
counts AS (
  SELECT url, term, count(*) AS n FROM toks WHERE term <> ''
  GROUP BY url, term
)
SELECT url,
       CAST(n_anchor_terms AS BIGINT) AS n_anchor_terms,
       term AS top_term, n AS top_term_n
FROM (
  SELECT url, term, n,
         sum(n) OVER (PARTITION BY url) AS n_anchor_terms,
         row_number() OVER (PARTITION BY url
                            ORDER BY n DESC, term DESC) AS rn
  FROM counts
) WHERE rn = 1"""
    )
    out["p_url_canonical"] = r"""
WITH raw AS (
  SELECT unnest([
    'HTTPS://Host' || (doc_id % 16) || '.Example:443/p' || doc_id
      || '#sec' || (doc_id % 5),
    'https://host' || (doc_id % 16) || '.example/p' || doc_id || '?',
    'http://HOST' || (doc_id % 16) || '.example:80/p' || doc_id
  ]) AS url FROM documents
),
parts AS (
  SELECT url,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS hostport,
    regexp_extract(regexp_replace(url, '#.*$', ''),
      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 3) AS rest
  FROM raw
),
canon AS (
  SELECT
    scheme || '://'
      || (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
               WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
               ELSE hostport END)
      || (CASE WHEN regexp_replace(rest, '\?$', '') = '' THEN '/'
               ELSE regexp_replace(rest, '\?$', '') END) AS canonical,
    regexp_replace(hostport, ':[0-9]+$', '') AS host
  FROM parts
)
SELECT canonical, host, count(*) AS n_variants
FROM canon GROUP BY 1, 2"""
    out["g_katz4"] = _katz4_sql(alpha=0.01, iters=4)
    out["g_mis3"] = _mis_sql(rounds=3)
    out["g_resource_alloc100"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
pd AS (SELECT src AS u, count(*) AS pdeg FROM sym GROUP BY src
       HAVING count(*) <= 10000),
piv AS (SELECT pd.u, s.dst, pd.pdeg FROM sym s JOIN pd ON s.src = pd.u)
SELECT l.dst AS a, r.dst AS b,
       CAST(count(*) AS BIGINT) AS common_neighbors,
       round(sum(1.0 / l.pdeg), 6) AS ra_score
FROM piv l JOIN piv r ON l.u = r.u AND l.dst < r.dst
GROUP BY 1, 2
ORDER BY common_neighbors DESC, a, b LIMIT 100"""
    )
    out["g_pref_attach100"] = (
        f"WITH {_EDGES_CTE.strip()},\n"
        """c AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
sym AS (SELECT src, dst FROM c UNION ALL SELECT dst, src FROM c),
pd AS (SELECT src AS u, count(*) AS pdeg FROM sym GROUP BY src
       HAVING count(*) <= 10000),
piv AS (SELECT pd.u, s.dst FROM sym s JOIN pd ON s.src = pd.u),
pairs AS (
  SELECT l.dst AS a, r.dst AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM piv l JOIN piv r ON l.u = r.u AND l.dst < r.dst
  GROUP BY 1, 2
  ORDER BY common_neighbors DESC, a, b LIMIT 100),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)
SELECT a, b, common_neighbors,
       CAST(da.deg * db.deg AS BIGINT) AS pa_score
FROM pairs JOIN deg da ON pairs.a = da.id JOIN deg db ON pairs.b = db.id
ORDER BY common_neighbors DESC, a, b"""
    )
    out["g_closeness8"] = _closeness_sql(n_sources=8, rounds=12)
    out["g_eigen4"] = _eigen4_sql(iters=4)
    out["g_host_pagerank3"] = _pagerank3_sql(
        alpha=0.85, iters=3, contract_hosts=64
    )
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(_BM25_TERMS)))
    out["d_bm25"] = f"""
WITH base AS (
  SELECT doc_id, {_toks('text')} AS toks FROM documents
  WHERE {_norm('text')} <> ''
),
stats AS (SELECT count(*) AS n, sum(len(toks)) AS total_len FROM base),
tf AS (
  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM base)
  WHERE token IN ({terms_sql})
  GROUP BY doc_id, dl, token
),
dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
per AS (
  SELECT tf.doc_id,
         ln(1.0 + (CAST(stats.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                             / (CAST(stats.total_len AS DOUBLE) / stats.n)))
           AS score
  FROM tf JOIN dft ON tf.token = dft.token, stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       round(sum(score), 6) AS bm25
FROM per GROUP BY doc_id"""
    out["g_spam_mass3"] = f"""
WITH pr AS ({_pagerank3_sql(alpha=0.85, iters=3)}),
tr AS ({_ppr3_sql(alpha=0.85, iters=3)})
SELECT pr.id, pr.rank AS pr_rank, tr.rank AS trust_rank,
       round((pr.rank - tr.rank) / pr.rank, 7) AS spam_mass
FROM pr JOIN tr ON pr.id = tr.id"""
    out["p_crawl_schedule"] = f"""
WITH hr AS ({_pagerank3_sql(alpha=0.85, iters=3, contract_hosts=16)}),
caps AS (
  SELECT 'https://host' || (doc_id % 16) || '.example/p' || doc_id AS url,
         CAST(doc_id % 16 AS BIGINT) AS host,
         make_timestamp(2025, 1, 1, 0, 0, 0)
           + to_seconds((doc_id * 37 + c.capture * 7919) % 99991) AS warc_ts
  FROM documents, (VALUES (0), (1), (2)) c(capture)
),
latest AS (
  SELECT url, host, warc_ts
  FROM (SELECT *, row_number() OVER (PARTITION BY url
                                     ORDER BY warc_ts DESC) AS rn
        FROM caps)
  WHERE rn = 1
),
nowt AS (SELECT max(warc_ts) AS now_ts FROM latest)
SELECT l.url, l.host,
       CAST(date_diff('second', l.warc_ts, n.now_ts) AS BIGINT) AS stale_s,
       h.rank AS host_rank,
       round(h.rank * CAST(date_diff('second', l.warc_ts, n.now_ts)
                           AS BIGINT), 6) AS priority
FROM latest l CROSS JOIN nowt n JOIN hr h ON h.id = l.host"""
    out["p_frontier_shards"] = f"""
WITH sched AS ({out["p_crawl_schedule"]})
SELECT url, host, priority,
       CAST(host % 8 AS BIGINT) AS worker,
       CAST(row_number() OVER (PARTITION BY host
                               ORDER BY priority DESC, url) AS BIGINT)
         AS fetch_seq,
       CAST((row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, url) - 1) * 15
            AS BIGINT) AS eta_s
FROM sched"""
    out["e_ann_recall"] = f"""
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / 10, 6) AS recall_at_10
FROM ({out["e_cosine_topk"]}) e
LEFT JOIN ({out["e_lsh_topk"]}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id"""
    out["d_lsh_dedup_recall"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(sum(CASE WHEN l.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       round(CAST(sum(CASE WHEN l.a IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall
FROM ({out["d_ngram_pairs"]}) e
LEFT JOIN ({out["d_minhash_lsh_pairs"]}) l
  ON e.a = l.a AND e.b = l.b"""
    out["e_ivf_recall"] = f"""
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / 10, 6) AS recall_at_10
FROM ({out["e_cosine_topk"]}) e
LEFT JOIN ({out["e_ivf_topk"]}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id"""
    lx = _louvain_exact_sql()
    if lx is not None:
        out["g_louvain_exact"] = lx
    return out
