"""Hyperlink / text extraction from ``html: binary`` pages.

Vectorized pandas UDFs (Arrow batch transfer; never per-row Python) —
the engine-mandated source stage (BASELINE.json input_hint): the
reference reads MatrixMarket edge files (mtx.hxx:119-193); our front
door is a Common-Crawl-style pages table and the edge list is *derived*
by link extraction.

The extraction grammar is deliberately exact and deterministic so the
per-url byte-identity invariant is testable:

- links: every ``href="…"`` attribute of an ``<a …>`` tag, in document
  order, duplicates preserved (dedup happens at the edge-aggregation
  stage, like the reference's LazyBitset collapse _bitset.hxx:245-262).
- text:  concatenation of the bodies of all ``<p>…</p>`` blocks.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

_HREF = re.compile(r'<a\s+[^>]*href="([^"]*)"[^>]*>')
_PARA = re.compile(r"<p>(.*?)</p>", re.S)
_ANCHOR = re.compile(r'<a\s+[^>]*href="([^"]*)"[^>]*>([^<]*)</a>')


def extract_links_py(html: bytes | str) -> list[str]:
    """Plain-Python reference extractor (the byte-identity oracle)."""
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    return _HREF.findall(s)


def extract_text_py(html: bytes | str) -> str:
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    return "".join(_PARA.findall(s))


@pandas_udf(ArrayType(StringType()))
def extract_links(html: pd.Series) -> pd.Series:
    return html.map(extract_links_py)


# Exploding the extracted array triggers InferFiltersFromGenerate: the
# inferred size(...)>0 predicate is pushed below the projection and the
# optimizer DUPLICATES the ArrowEvalPython node, so every page's html
# is regex-scanned twice (one eval feeding the pushed filter, one the
# projection — the optimization guide's §4.4 pattern, verified in the
# sf0.1 plan). The non-deterministic marking forbids duplicating or
# reordering the expensive extraction; the explode itself still drops
# empty arrays, so results are unchanged. Use THESE variants wherever
# the array feeds a Generate. A separate UDF instance, because
# asNondeterministic() marks the instance it is called on.
extract_links_once = pandas_udf(
    extract_links.func, extract_links.returnType
).asNondeterministic()


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def extract_anchors_py(html: bytes | str) -> list[tuple[str, str]]:
    """(href, anchor text) pairs in document order — the link-context
    grammar: the anchor body up to the first nested tag."""
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    return _ANCHOR.findall(s)


@pandas_udf(
    ArrayType(
        StructType(
            [
                StructField("href", StringType()),
                StructField("atext", StringType()),
            ]
        )
    )
)
def extract_anchors(html: pd.Series) -> pd.Series:
    return html.map(extract_anchors_py)
