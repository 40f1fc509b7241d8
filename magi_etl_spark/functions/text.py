"""Text Column helpers: tokenization, shingling, hashing, fingerprints.

This module is the one home of the engine's token rules and md5 draws;
operators and queries call these builders instead of spelling the
expressions out.  Each mirrors a DuckDB form the SQL oracles state:

- :func:`words`: the ``[a-z]+`` runs of the lower-cased text, oracle
  ``regexp_extract_all(lower(t), '[a-z]+')``.
- :func:`alnum_words`: the non-empty pieces of the lower-cased text
  split on ``[^a-z0-9]+``, i.e. its ``[a-z0-9]+`` runs, oracle
  ``regexp_extract_all(lower(t), '[a-z0-9]+')``.
- :func:`tokens`: the non-empty whitespace-separated pieces of the
  trimmed text (callers lower-case first where the rule needs it),
  oracle ``list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x <> '')``.
- :func:`md5_u32`: the first 8 hex digits of ``md5`` as a number in
  ``[0, 2^32)``, oracle ``CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)``.
- :func:`md5_long`: the first 15 hex digits, a 60-bit number, oracle
  ``CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)``.

All expressions are deterministic and engine-portable: hashes are built
from ``md5`` (identical across Spark / DuckDB / Presto) rather than
engine-private hash functions, so oracle queries can mirror them exactly.
A caller's salt is part of ``s``: it passes its whole ``concat`` /
``concat_ws`` input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token filtering.

    Mirrors the reference's ``split(all_themes, ',')``-style array building
    (reference ``dash_app/tasks.py:779-784``) generalized to whitespace.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def words(text: Column) -> Column:
    """The ``[a-z]+`` runs of ``lower(text)``: letters only, so digits,
    punctuation and non-ASCII letters separate words."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z]+"), 0)


def alnum_words(text: Column) -> Column:
    """``lower(text)`` split on ``[^a-z0-9]+`` with empty pieces dropped
    (a leading or trailing separator leaves an empty piece)."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Contiguous word n-grams as space-joined strings; empty array when the
    document has fewer than ``n`` tokens.

    Guard note: Spark ``sequence(1, 0)`` yields a *descending* sequence, so
    the short-document case must be branched, not clamped.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(text: Column, k: int = 8) -> Column:
    """Character k-grams (for fingerprinting / rolling-hash style dedup)."""
    idx = F.sequence(F.lit(1), F.length(text) - (k - 1))
    return F.when(
        F.length(text) >= k, F.transform(idx, lambda i: F.substring(text, i, k))
    ).otherwise(F.array().cast("array<string>"))


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex digits of md5.

    Portable: DuckDB's ``CAST(CONCAT('0x', SUBSTR(MD5(x),1,15)) AS BIGINT)``
    produces the identical value, so oracles can replicate bucket joins.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_u32(s: Column) -> Column:
    """Deterministic 32-bit draw in ``[0, 2^32)``: first 8 hex digits of
    md5.  Fits BIGINT in every engine an oracle might run in."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def salted_min_hashes(shingle_arr: Column, n_hashes: int) -> list[Column]:
    """MinHash signature: for each salt j, min over shingles of
    ``md5(j || '|' || shingle)``.  String mins over hex digests — exact and
    portable (no engine-specific permutation hashing).
    """
    # NB: the hash lambda must take exactly ONE parameter — PySpark treats a
    # two-parameter lambda as (element, index), which would silently turn
    # the salt into the array index.
    def salted(j: int):
        prefix = F.lit(f"{j}|")
        return lambda x: F.md5(F.concat(prefix, x))

    return [
        F.array_min(F.transform(shingle_arr, salted(j))).alias(f"m{j}")
        for j in range(n_hashes)
    ]
