"""Inbound anchor-text aggregation — describe a page by the words its
in-links use (the classic web-search link-context feature: anchor text
is authored by the LINKING page, so it is an independent description of
the target).

Plan shape (100 TB): one column-pruned (url, html) scan → vectorized
Arrow anchor extraction → explode → (target url, term) counts with
map-side partial aggregation (hot targets collapse inside every input
partition before the one shuffle) → per-target top term via a second
map-side-combinable `max(struct)` aggregate. No window sort, no
all-pairs structure; both aggregates key on content-derived urls/terms,
so skew is bounded by the true in-link distribution and AQE's skew
handling covers the rest.

Reference analog: none (the reference consumes a prebuilt .mtx edge
list, mtx.hxx:119-193) — this is webtext front-door analytics over the
same pages table that feeds edges_from_pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.extract import extract_anchors

# non-deterministic marking: stops InferFiltersFromGenerate from
# duplicating the Arrow extraction below the explode (guide §4.4 —
# same fix as functions.extract.extract_links_once), on its own UDF
# instance so extract_anchors stays deterministic
_extract_anchors_once = pandas_udf(
    extract_anchors.func, extract_anchors.returnType
).asNondeterministic()


def anchor_text_terms(pages: DataFrame) -> DataFrame:
    """Per target url: total inbound anchor terms and the dominant term.

    Returns (url, n_anchor_terms, top_term, top_term_n), where top_term
    is the most frequent whitespace token across ALL inbound anchor
    texts (ties broken by lexicographically greatest term — the
    deterministic `max(struct(n, term))` contract).
    """
    toks = (
        pages.select(F.explode(_extract_anchors_once("html")).alias("an"))
        .select(
            F.col("an.href").alias("url"),
            F.explode(F.split("an.atext", " ")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    counts = toks.groupBy("url", "term").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("url")
        .agg(
            F.sum("n").alias("n_anchor_terms"),
            F.max(F.struct("n", "term")).alias("_t"),
        )
        .select(
            "url",
            "n_anchor_terms",
            F.col("_t.term").alias("top_term"),
            F.col("_t.n").alias("top_term_n"),
        )
    )
