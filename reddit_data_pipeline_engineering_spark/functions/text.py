"""Text-analysis column expressions (LLM-data-pipeline extension).

The reference's only text function is parameter-name normalization
(``extract_api.py:168-179``, F4: lower + strip dots). The engine keeps that
and adds the text operators a large-scale training-data pipeline needs:
tokenization, quality scoring, language-ID heuristics, and document
fingerprinting — all as built-in JVM column expressions (split/regexp/
array functions), never row-at-a-time Python. Each has an exact ANSI-SQL
equivalent so the DuckDB oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker vocabularies for the n-gram/stopword heuristic
# language ID. Deliberately deterministic + SQL-expressible (each marker
# becomes one regexp count).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
    "zh": ("de", "shi", "zai", "he"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "an", "and", "of", "to", "in", "is")


def normalize_token(col: Column | str) -> Column:
    """Reference F4: lower-case and strip dots ('PM2.5' -> 'pm25')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, r"\.", ""))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def shingles_of(toks_col: Column | str, n: int) -> Column:
    """Word n-gram shingle array from a MATERIALIZED token-array column.

    The token column must be a plain attribute (staged in a prior
    projection), not an inline ``tokens(text)`` expression: the slice
    lambda evaluates its input once per shingle index, so an inline
    tokenization degrades to O(tokens^2) string work per row (observed
    10x on the LSH bench before staging).
    """
    t = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    # sequence(0, size-n) yields start indices; guard size<n -> empty array.
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(t, i + 1, n), " ")
    )


def shingles(col: Column | str, n: int) -> Column:
    """Word n-gram shingle array straight from a text column.

    Convenience for small/one-shot expressions; hot paths should stage
    ``tokens()`` into a column first and use :func:`shingles_of` (see the
    O(tokens^2) note there).
    """
    return shingles_of(tokens(col), n)


def full_fingerprint_of(toks_col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the normalized token stream
    (input: a materialized token-array column)."""
    t = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return F.md5(F.array_join(F.transform(t, lambda x: F.lower(x)), " "))


def winnow_fingerprint_of(toks_col: Column | str, window: int = 5) -> Column:
    """Winnowing-lite rolling fingerprint: min md5 over word 5-gram windows
    (input: a materialized token-array column — see shingles_of note).

    A scale-friendly stand-in for rolling-hash winnowing: the minimum
    shingle hash is shift-invariant, so near-identical documents collide.
    """
    hashed = F.transform(shingles_of(toks_col, window), F.md5)
    return F.array_min(hashed)


# --------------------------------------------------------------------------
# PII scrubbing — training corpora must redact contact info before the
# tokenizer sees it. Patterns are deliberately lookaround-free so the same
# regex runs identically under Java regex (Spark) and RE2 (DuckDB oracle).
# --------------------------------------------------------------------------

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\d{3}-\d{3}-\d{4}"


def email_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), F.lit(0)))


def phone_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PHONE_PATTERN), F.lit(0)))


def scrub_pii(col: Column | str) -> Column:
    """Redact emails then phone numbers (order matters: an email must not
    be half-eaten by the phone pattern first)."""
    c = F.col(col) if isinstance(col, str) else col
    scrubbed = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_PATTERN, "<PHONE>")


# --------------------------------------------------------------------------
# Gopher-style quality gates (Rae et al. 2021, public): cheap per-document
# rules that drop boilerplate/garbage before expensive dedup. All pure JVM
# expressions; each rule is SQL-mirrorable for the oracle.
# --------------------------------------------------------------------------

def symbol_count(col: Column | str) -> Column:
    """Characters that are neither word characters nor whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
