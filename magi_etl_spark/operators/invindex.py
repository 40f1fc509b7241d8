"""Inverted-index construction and boolean retrieval: the posting-list
view of a corpus (token → documents, with term frequencies and document
frequencies) and the multi-term AND query answered against it.
``operators/ranking.py`` scores a FIXED query against every document in
one scan; the inverted index flips the axis so a query touches only its
own terms' postings — the shape that makes keyword retrieval sub-linear
in corpus size once the postings are written partitioned (or
bucketed/z-ordered) by token.

Scale shape: the postings build is one (doc, token) aggregation (term
frequency) plus one token aggregation (document frequency) — both
map-side combinable.  A boolean AND query filters the postings to its
term set (an ``isin`` literal predicate that pushes down to the
parquet scan at rest), then one groupBy(doc) HAVING count = n_terms;
candidate volume is the sum of the query terms' posting lengths, never
the corpus.  Conjunctive semantics make the smallest posting list the
hard bound — exactly the classic smallest-first intersection, expressed
declaratively so Catalyst plans it.

Determinism: integer counts, case-folded ``[a-z]+`` tokens (the corpus
tokenizer used across the text family), exact SQL replay.

Scope note: the reference app has no retrieval surface — this extends
the ranking family (BM25/TF-IDF/RRF, q40/q98) with the index-side
primitive those scorers assume at production scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def build_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Posting rows ``tok, doc_id, tf`` — one per (token, document),
    with the in-document term frequency.  At rest, write partitioned or
    bucketed by ``tok`` so term lookups become partition pruning."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(F.col(text_col))).alias("tok"),
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def posting_stats(postings: DataFrame) -> DataFrame:
    """Per-token index statistics: ``tok, df, total_tf`` (document
    frequency and summed term frequency) — the dictionary side of the
    index, and the input to smallest-posting-first query planning."""
    return postings.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
    )


def boolean_or_query(
    postings: DataFrame,
    terms: list[str],
) -> DataFrame:
    """Documents containing ANY of ``terms``: ``doc_id, n_terms,
    tf_sum`` (how many distinct query terms matched, and the summed
    term frequency).  Same term-pruned scan shape as the AND query —
    candidates are the union of the terms' posting lists, never the
    corpus; the disjunction is the same single aggregation without the
    HAVING cut."""
    if not terms:
        raise ValueError("boolean_or_query needs at least one term")
    uniq = sorted(set(terms))
    return (
        postings.where(F.col("tok").isin(uniq))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("tf_sum"),
        )
    )


def boolean_and_query(
    postings: DataFrame,
    terms: list[str],
) -> DataFrame:
    """Documents containing ALL ``terms``: ``doc_id, tf_sum`` (the
    summed term frequency over the query terms — the ranking signal a
    conjunctive keyword query reports).  The term filter is a literal
    ``isin`` predicate (pushes to the scan); the intersection is one
    aggregation with an exact HAVING count."""
    if not terms:
        raise ValueError("boolean_and_query needs at least one term")
    uniq = sorted(set(terms))
    return (
        postings.where(F.col("tok").isin(uniq))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_nt"),
            F.sum("tf").alias("tf_sum"),
        )
        .where(F.col("_nt") == len(uniq))
        .select("doc_id", "tf_sum")
    )
