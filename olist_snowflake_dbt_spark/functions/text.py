"""Text-column primitives: normalization, tokenization, shingles,
fingerprints. All Catalyst expressions (regexp/array functions) — these
run inside whole-stage codegen, so a 100 TB documents scan tokenizes at
parquet-read speed with zero Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"
WORD_RE = "[a-z0-9]+"


def normalize(text: Column | str) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim —
    the canonical form used by fingerprints and shingles."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokens(text: Column | str) -> Column:
    """Array of whitespace-delimited tokens (raw, case-preserving)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)


def words(text: Column | str) -> Column:
    """Array of normalized alphanumeric words."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles over the normalized word sequence.
    Documents shorter than n words yield a single shingle of all words."""
    ws = words(text)
    k = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.when(k <= 0, F.array()).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, n), " "))
    )


def shingle_hashes_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct xxhash64 values of the n-word shingles over an
    ALREADY-BOUND word-array column — hashed straight from the word
    slots (``xxhash64(w[i], …, w[i+n-1])``), never materializing shingle
    strings. ``ws`` MUST be a column attribute, not a nested expression:
    the lambda references it n+2 times, and interpreted higher-order
    evaluation re-computes a nested expression (e.g. the words regex) on
    every reference — pre-binding it is a >3x difference at corpus
    scale. Out-of-range slots hash as NULL, so short documents still
    collapse to one shingle, matching :func:`word_shingles`'s all-words
    fallback."""
    k = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.array_distinct(
        F.when(k <= 0, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(ws, i + j + 1) for j in range(n)]
                ),
            )
        )
    )


def shingle_strings_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct n-word shingle STRINGS over an ALREADY-BOUND word-array
    column (same binding rule as :func:`shingle_hashes_from_words`).
    The string form exists for engine-portable hashing (md5 of the
    joined shingle — a DuckDB oracle can recompute it exactly), where
    the slot-hash form's xxhash64 cannot be replicated in SQL. Short
    documents (< n words) collapse to one all-words shingle; empty word
    arrays yield an empty array."""
    k = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.array_distinct(
        F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, n), " "))
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize(text))

