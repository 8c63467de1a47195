"""Edge-table builders.

The canonical engine table is ``edges(src: long, dst: long, w: double)``
— symmetric digraph storage of an undirected graph (reference
convention: main.cxx:102, symmetricize.hxx:72-82; M = Σw/2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.extract import extract_links_once
from ..operators.transforms import symmetricize

EDGE_SCHEMA = "src long, dst long, w double"

# distinct string values up to which dense_ids sorts on the driver
DENSE_IDS_COLLECT = 2_000_000


def edges_from_list(spark: SparkSession, edge_list, n: int | None = None) -> DataFrame:
    """Edge DataFrame from a Python list of (src, dst, w)."""
    df = spark.createDataFrame(
        [(int(u), int(v), float(w)) for u, v, w in edge_list], EDGE_SCHEMA
    )
    return df


def dense_ids(df: DataFrame, col: str = "url", id_col: str = "id") -> DataFrame:
    """Assign dense 0..N-1 ids to the distinct values of ``col``
    (``dense_ids_cached`` without the handle on its cache)."""
    return dense_ids_cached(df, col, id_col)[0]


def dense_ids_cached(
    df: DataFrame, col: str = "url", id_col: str = "id"
) -> tuple[DataFrame, DataFrame | None]:
    """Assign dense 0..N-1 ids to the distinct values of ``col``.
    Returns the id frame and the distinct-value frame the scalable path
    persisted (None on the collect path), which the caller may release
    once the id frame is materialized.

    Scalable dense ranking: range-partition + sort by value, count rows
    per partition, cumulative offsets joined back (broadcast — one row
    per partition), then a *per-partition* row_number. Avoids the
    single-partition global window that ``row_number().over(orderBy)``
    would plan, so it holds at 10^12 distinct urls.

    Deterministic: ids follow the global sort order of ``col``.

    Small-domain fast path (≤ ``DENSE_IDS_COLLECT`` distinct string
    values, probed via LIMIT): collect + driver sort + local relation —
    one job instead of the five the scalable plan needs, and the
    resulting frame broadcasts into downstream joins for free. Python's
    string sort is code-point order == Spark's UTF8 binary order, so
    the assigned ids are identical to the scalable path's (pinned by
    tests/test_extract_and_edges.py).
    """
    spark = df.sparkSession
    probe = (
        df.select(F.col(col).alias("_v"))
        .distinct()
        .limit(DENSE_IDS_COLLECT + 1)
        .toArrow()
    )
    import pyarrow as pa

    if (
        probe.num_rows <= DENSE_IDS_COLLECT
        and pa.types.is_string(probe.column("_v").type)
        and probe.column("_v").null_count == 0
    ):
        import pandas as pd

        vals = sorted(probe.column("_v").to_pylist())
        out = pd.DataFrame({col: vals, id_col: range(len(vals))})
        return spark.createDataFrame(
            out, schema=f"{col} string, {id_col} long"
        ), None
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    d = (
        df.select(F.col(col).alias("_v"))
        .distinct()
        .repartitionByRange(nparts, "_v")
        .withColumn("_pid", F.spark_partition_id())
    )
    d = d.persist()
    counts = d.groupBy("_pid").count().collect()
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    off = spark.createDataFrame(
        [(pid, o) for pid, o in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy("_v")
    out = (
        d.join(F.broadcast(off), "_pid")
        .withColumn(id_col, F.row_number().over(w) - 1 + F.col("_off"))
        .select(F.col("_v").alias(col), id_col)
    )
    return out, d


def edges_from_pages(
    pages: DataFrame,
    symmetric: bool = True,
    keep_self_loops: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """pages → (edges, ids).

    Column-prunes the pages scan to (url, html), extracts hrefs with a
    vectorized Arrow UDF, dictionary-encodes urls to dense longs, sums
    duplicate links into weights, optionally symmetricizes. Only links
    to urls that exist as pages are kept (out-of-corpus links dropped —
    dangling targets would otherwise mint vertices with no page).

    Returns (edges(src,dst,w), ids(url,id)).
    """
    links = (
        pages.select(F.col("url").alias("src_url"), extract_links_once("html").alias("ls"))
        .select("src_url", F.explode("ls").alias("dst_url"))
    )
    ids, cache = dense_ids_cached(pages.select("url"), "url")
    ids = ids.persist()
    if cache is not None:
        # the scalable path's distinct-value cache is only needed until
        # the id frame is materialized
        ids.count()
        cache.unpersist()
    e = (
        links.join(ids.withColumnRenamed("id", "src"), links.src_url == ids.url)
        .drop("url")
        .join(
            ids.select(F.col("url").alias("u2"), F.col("id").alias("dst")),
            F.col("dst_url") == F.col("u2"),
        )
        .select("src", "dst")
        .withColumn("w", F.lit(1.0))
    )
    if not keep_self_loops:
        e = e.where(F.col("src") != F.col("dst"))
    e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    if symmetric:
        e = symmetricize(e)
    return e, ids


def synthetic_powerlaw_edges(
    spark: SparkSession,
    n_vertices: int,
    n_edges: int,
    skew: float = 2.0,
    seed: int = 7,
) -> DataFrame:
    """Deterministic hub-skewed symmetric graph, generated distributed.

    No rand(): every edge is a pure hash of its index, so the graph is
    identical across runs, partitionings, and parallelism levels — the
    property the scaling benchmark needs (same input at local[8] and
    local[32]). dst ~ floor(u^skew · N) concentrates edges on low ids
    (power-law-ish hubs), exercising the skew paths the north rule
    calls out.
    """
    u = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(1_000_000))
        / 1_000_000.0
    )
    raw = spark.range(n_edges).select(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_vertices)).alias(
            "src"
        ),
        F.least(
            F.lit(n_vertices - 1),
            F.floor(F.pow(u, F.lit(skew)) * n_vertices).cast("long"),
        ).alias("dst"),
    )
    e = (
        raw.where(F.col("src") != F.col("dst"))
        .withColumn("w", F.lit(1.0))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return symmetricize(e, agg="max")


def synthetic_grid_edges(
    spark: SparkSession,
    n_rows: int,
    n_cols: int,
    path_tail: int = 0,
) -> DataFrame:
    """Deterministic road-network-like fixture: an n_rows x n_cols
    4-neighbor grid (vertex id = r*n_cols + c; right + down edges,
    symmetricized), optionally with a ``path_tail``-vertex path hung
    off the last grid vertex to stretch the diameter.

    The asia_osm/europe_osm analog in the reference corpus
    (main.sh:35-36): huge diameter (n_rows + n_cols + path_tail),
    bounded degree <= 4 — the adversarial shape for label-propagation
    algorithms, where hash-min alone needs O(diameter) rounds and
    pointer jumping must deliver O(log diameter). Generated
    distributed, no rand(): identical across runs and partitionings.
    """
    n = n_rows * n_cols
    v = spark.range(n)
    r, c = (F.col("id") / n_cols).cast("long"), F.pmod(F.col("id"), n_cols)
    right = v.where(c < n_cols - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    down = v.where(r < n_rows - 1).select(
        F.col("id").alias("src"), (F.col("id") + n_cols).alias("dst")
    )
    e = right.unionByName(down)
    if path_tail > 0:
        # path n-1 -> n -> n+1 -> ... (first hop attaches to the grid)
        t = spark.range(n - 1, n - 1 + path_tail).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        e = e.unionByName(t)
    return symmetricize(e.withColumn("w", F.lit(1.0)), agg="max")


# ---------------------------------------------------------------------------
# Testdata-derived graph (driver correctness gate): co-order part graph.
# Two parts are connected iff they appear in the same order; edge weight =
# number of co-occurring lineitem pairs. Symmetric by construction,
# self-loop-free, deterministic, and expressible in ANSI SQL for the
# DuckDB oracle (see __spark_entry__.oracle_sql).
# ---------------------------------------------------------------------------

COORDER_SQL = """
SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS w
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
"""


def coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )


def write_edges_bucketed(
    edges: DataFrame,
    table: str,
    buckets: int = 32,
    key: str = "src",
    mode: str = "overwrite",
) -> None:
    """Persist an edge table hash-bucketed (and sorted) on ``key`` via
    the session catalog — the co-located-join layout for 100 TB graph
    storage: two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle (SortMergeJoin reads bucket i against
    bucket i), and every per-round membership-lookup join against a
    bucketed static side starts pre-partitioned, which is the at-rest
    equivalent of the in-memory `repartition(key).persist()` pattern
    the iterative operators use (components.py/labelprop.py).

    Bucket pruning also serves point lookups: a `key = <id>` predicate
    reads one bucket file per partition instead of scanning the table.
    """
    (
        edges.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket metadata intact
    (spark.table preserves the output partitioning; a raw
    spark.read.parquet over the same files would not)."""
    return spark.table(table)


# ---------------------------------------------------------------------------
# Directed testdata graph (driver correctness gate for SCC & directed
# metrics): the purchase-SEQUENCE part graph. src -> dst iff src appears
# on an earlier lineitem line than dst within the same order; direction
# is semantic (line order), so cycles arise only across orders — at the
# md5-sampled density below this yields a Broder bow-tie (one giant SCC
# + IN/OUT periphery + singleton tendrils), the directed-web shape.
# The md5 edge sample is engine-portable (identical hex in Spark and
# DuckDB), keeping the recursive-CTE oracle tractable.
# ---------------------------------------------------------------------------

SEQUENCE_SQL_FMT = """
SELECT src, dst, w FROM (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
       AND a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
) WHERE substr(md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)), 1, 2)
        < '{thr}'
"""


def sequence_edges(
    spark: SparkSession, sf_dir: str, thr: str = "ff"
) -> DataFrame:
    """Directed (src, dst, w) purchase-sequence graph; ``thr`` is a
    2-hex-digit md5 prefix threshold (edge kept iff md5 prefix < thr:
    'ff' ≈ all, '0a' ≈ 3.9%). Deterministic, partition-invariant."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    a, b = li.alias("a"), li.alias("b")
    g = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    key = F.md5(
        F.concat(
            F.col("src").cast("string"), F.lit("_"), F.col("dst").cast("string")
        ).cast("binary")
    )
    return g.where(F.substring(key, 1, 2) < thr)
