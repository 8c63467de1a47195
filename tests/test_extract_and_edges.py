"""Extraction invariants (FIXTURES.md §4) + pages→edges pipeline."""

from pyspark.sql import functions as F

from louvain_communities_openmp_spark.functions.extract import (
    extract_links_py,
    extract_text_py,
)
from louvain_communities_openmp_spark.oracle import karate, toy5
from louvain_communities_openmp_spark.sources.edges import (
    dense_ids,
    edges_from_list,
    edges_from_pages,
)
from louvain_communities_openmp_spark.sources.pages import make_pages, url_of


def test_pages_schema_and_text_byte_identity(spark):
    e = edges_from_list(spark, toy5())
    pages = make_pages(spark, e, n=5)
    rows = pages.orderBy("url").collect()
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.schema["html"].dataType.simpleString() == "binary"
    for r in rows:
        assert extract_text_py(r["html"]) == r["text"]
        assert extract_text_py(r["html"]).encode() in r["html"]


def test_extract_links_document_order_and_edge_cases():
    html = (
        b'<html><body><a href="https://x/1">link</a>'
        b'<a href="https://x/2">l</a><a href="https://x/1">dup</a>'
        b"<p>hello</p><p> world</p></body></html>"
    )
    assert extract_links_py(html) == ["https://x/1", "https://x/2", "https://x/1"]
    assert extract_text_py(html) == "hello world"
    assert extract_links_py(b"<html><body><p>t</p></body></html>") == []
    assert extract_text_py(b"<html></html>") == ""


def test_dense_ids_are_dense_and_sorted(spark):
    df = spark.createDataFrame([(f"u{i:03d}",) for i in range(97)], "url string")
    ids = dense_ids(df, "url").orderBy("id").collect()
    assert [r["id"] for r in ids] == list(range(97))
    # ids follow sort order of the value → deterministic
    assert [r["url"] for r in ids] == sorted(f"u{i:03d}" for i in range(97))


def test_dense_ids_collect_path_matches_scalable_plan(spark):
    # duplicates, non-ASCII code points and a shuffled arrival order:
    # the driver sort must assign exactly the range-partitioned ids
    vals = [f"https://h{i % 13}.example/p{i}" for i in range(300)]
    vals += ["https://ä.example/", "https://Z.example/", "https://a.example/"] * 4
    df = spark.createDataFrame([(v,) for v in vals[::-1]], "url string").repartition(7)
    fast = dense_ids(df, "url")
    plan = dense_ids(df, "url", collect_bound=0)
    rows = sorted(tuple(r) for r in fast.collect())
    assert rows == sorted(tuple(r) for r in plan.collect())
    assert [i for _, i in rows] == list(range(len(set(vals))))


def test_pages_roundtrip_recovers_graph(spark):
    """pages built from karate edges → extraction → same edge set."""
    planted = edges_from_list(spark, karate())
    pages = make_pages(spark, planted, n=34)
    edges, ids = edges_from_pages(pages, symmetric=True)
    # map back through the url dictionary: url encodes the original id
    back = (
        edges.join(ids.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("url", "src_url")
        .join(ids.withColumnRenamed("id", "dst"), "dst")
        .select(
            F.regexp_extract("src_url", r"/p(\d+)$", 1).cast("long").alias("u"),
            F.regexp_extract("url", r"/p(\d+)$", 1).cast("long").alias("v"),
            "w",
        )
    )
    got = {(r["u"], r["v"]): r["w"] for r in back.collect()}
    want = {(u, v): w for u, v, w in karate()}
    assert got == want


def test_url_of_shape(spark):
    df = spark.range(3).select(url_of(F.col("id"), 2).alias("u"))
    assert [r["u"] for r in df.orderBy("u").collect()] == [
        "https://host0.example/p0",
        "https://host0.example/p2",
        "https://host1.example/p1",
    ]
