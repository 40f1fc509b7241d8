"""Character-class text diagnostics and deterministic extractive
summarization.

Two curation signals the quality family (operators/text.py) doesn't
cover:

- ``script_profile`` — character-class composition per document (ASCII
  letters / digits / whitespace / punctuation / non-ASCII) plus the
  two classic encoding-damage markers: U+FFFD replacement characters
  (decode failures) and the ``Ã`` mojibake signature (UTF-8 read as
  Latin-1).  High non-ASCII or any replacement chars is a standard
  drop/route signal in web-corpus curation.
- ``extractive_summary`` — position-tie-broken top-N sentences by
  integer TF weight: each sentence scores the sum of its tokens'
  within-document term frequencies, so the "most representative"
  sentences win, and every comparison is on exact integers.

Both are single-pass column programs (one explode + two keyed
aggregations for the summary; pure scalar expressions for the profile)
— no UDFs, no cross-document shuffles beyond the keyed groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import alnum_words


def _count_class(text, pattern: str):
    """Occurrences of a single-char regex class, as length delta."""
    return F.length(text) - F.length(F.regexp_replace(text, pattern, ""))


def script_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per document: total chars, ASCII-letter / digit / whitespace /
    non-ASCII counts, replacement-char and mojibake-marker counts, and
    the rounded non-ASCII ratio."""
    t = F.col(text_col)
    n = F.length(t)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_chars"),
        _count_class(t, "[A-Za-z]").alias("n_ascii_alpha"),
        _count_class(t, "[0-9]").alias("n_digit"),
        _count_class(t, "[ \\t\\n\\r]").alias("n_ws"),
        _count_class(t, "[^\\x00-\\x7F]").alias("n_non_ascii"),
        _count_class(t, "\\uFFFD").alias("n_replacement"),
        _count_class(t, "\\u00C3").alias("n_mojibake_marker"),
        F.round(
            _count_class(t, "[^\\x00-\\x7F]").cast("double")
            / F.greatest(n, F.lit(1)),
            4,
        ).alias("non_ascii_ratio"),
    )


def extractive_summary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
) -> DataFrame:
    """Top-``top_n`` sentences per document by integer TF score.

    Sentences split on ``'. '`` (period-space); tokens are lowercase
    ``[a-z0-9]+`` runs; a sentence's score is the sum over its token
    OCCURRENCES of that token's within-document frequency.  Ranking is
    ``(score DESC, sentence_pos ASC)`` — fully deterministic.  Returns
    ``doc_id, sent_pos, score, sentence``.
    """
    sents = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\\. ")).alias(
            "sent_pos", "sentence"
        ),
    ).where(F.length(F.trim("sentence")) > 0)
    stoks = sents.select(
        "doc_id",
        "sent_pos",
        F.explode(alnum_words(F.col("sentence"))).alias("tok"),
    )
    tf = stoks.groupBy("doc_id", "tok").agg(F.count("*").alias("_tf"))
    scored = (
        stoks.join(tf, ["doc_id", "tok"])
        .groupBy("doc_id", "sent_pos")
        .agg(F.sum("_tf").alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("sent_pos"))
    return (
        scored.join(sents, ["doc_id", "sent_pos"])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= top_n)
        .select("doc_id", "sent_pos", "score", "sentence")
    )
