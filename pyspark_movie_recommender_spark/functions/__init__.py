"""Scalar/column function library — all JVM-side ``pyspark.sql.functions``.

No row-at-a-time Python UDFs here (the reference's one scalar UDF,
``recommender.py:200-201``, is deliberately replaced by pure-SQL forms).
Vector math uses higher-order functions (``aggregate`` / ``zip_with``)
so it stays inside whole-stage codegen; at 100 TB that is the difference
between a scan-bound job and a Python-serde-bound one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> columns (embeddings table)
# ---------------------------------------------------------------------------


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns via zip_with + aggregate (no UDF)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column | str) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(vec_dot(a, a))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


# ---------------------------------------------------------------------------
# text analysis primitives (documents table) — oracle-expressible forms
# ---------------------------------------------------------------------------


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens; empty/blank text → empty array (not [''])."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count as BIGINT."""
    return F.size(ws_tokens(text)).cast("long")


def char_ngrams(text: Column | str) -> Column:
    """Distinct character 3-gram shingles of a string → ARRAY<STRING>.

    Built from sequence+transform+substring (pure SQL, codegen'd);
    the shingle set feeds MinHash / Jaccard dedup.
    """
    n = 3
    c = F.col(text) if isinstance(text, str) else text
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: c.substr(i, F.lit(n)))
    # strings shorter than n yield one truncated gram; drop empties
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) > 0))


def title_year(title: Column | str) -> Column:
    """Extract the trailing ``(YYYY)`` year from a MovieLens title → INT.

    Replaces driver-side string fiddling; the reference never surfaced
    this latent attribute (SURVEY.md §1.2).
    """
    c = F.col(title) if isinstance(title, str) else title
    y = F.regexp_extract(c, r"\((\d{4})\)\s*$", 1)
    return F.when(y == "", None).otherwise(y.cast("int"))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Normalization = trim + whitespace-collapse + lowercase, so two
    documents that differ only in spacing/case collide (exact-dedup key).
    """
    c = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(norm)
