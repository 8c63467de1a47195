"""Text-analysis column expressions (training-data pipeline).

All pure Catalyst expressions (JVM-side, whole-stage codegen — no
Python in the hot path), each with an exact ANSI-SQL twin used by the
DuckDB oracle in __spark_entry__.py. Determinism rules:

- tokenization = lowercase, strip non [a-z0-9 ], split on whitespace
- hashes = md5 hex (identical across engines)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "von", "zu", "den", "mit", "nicht"]


def normalize(col) -> Column:
    """lowercase; collapse everything outside [a-z0-9] to single spaces."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "), " +", " "
        )
    )


def tokens(col) -> Column:
    n = normalize(col)
    return F.when(n == "", F.array().cast("array<string>")).otherwise(F.split(n, " "))


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def _count_in(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast("long")


def quality_features(col) -> list[Column]:
    """(n_chars, n_tokens, mean_token_len, alpha_ratio, stopword_ratio)
    — each rounded to 6 decimals for cross-engine hash stability."""
    t = tokens(col)
    n_tok = F.size(t).cast("long")
    n_chars = F.length(col).cast("long")
    alpha = F.length(F.regexp_replace(F.lower(col), "[^a-z]", "")).cast("double")
    tok_chars = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return [
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(
            F.when(n_tok > 0, tok_chars.cast("double") / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
        F.round(
            F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0)), 6
        ).alias("alpha_ratio"),
        F.round(
            F.when(n_tok > 0, _count_in(t, EN_STOPWORDS).cast("double") / n_tok)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
    ]


def lang_id(col) -> Column:
    """Stopword-vote language heuristic: en vs de vs unknown."""
    t = tokens(col)
    en = _count_in(t, EN_STOPWORDS)
    de = _count_in(t, DE_STOPWORDS)
    return (
        F.when((en == 0) & (de == 0), F.lit("und"))
        .when(de > en, F.lit("de"))
        .otherwise(F.lit("en"))
    )


def fingerprint(col) -> Column:
    """Document fingerprint: first 16 hex chars of md5 over the
    normalized text (content-defined identity, whitespace/punct
    insensitive). String-typed to stay engine-portable."""
    return F.substring(F.md5(normalize(col)), 1, 16)


def shingles(col, k: int = 5) -> Column:
    """Word k-gram shingles (array<string>, duplicates preserved;
    documents shorter than k tokens yield their whole token string as
    the single shingle)."""
    t = tokens(col)
    n = F.size(t)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.when(n < k, F.array(F.array_join(t, " "))).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.array_join(F.slice(t, i, k), " "),
            )
        )
    )


# PII redaction — the privacy-scrub pass of a training-data pipeline.
# Pattern subset chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded repetition, no
# lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"


def redact_pii(col) -> Column:
    """Text with emails then phone numbers masked (<EMAIL>, <PHONE>).

    Email runs FIRST so digit runs inside addresses are consumed before
    the phone pattern sees them; the masks contain no digits, so the
    two passes compose without re-matching. Pure Catalyst
    regexp_replace — JVM-side, no Python.
    """
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def pii_counts(col) -> list[Column]:
    """[n_emails, n_phones] matched in the column. Phones are counted
    on the email-redacted text — same composition order as
    redact_pii, so counts always agree with the masks present in its
    output."""
    return [
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(col, EMAIL_RE, "<EMAIL>"),
                F.lit(PHONE_RE),
                0,
            )
        ).alias("n_phones"),
    ]
