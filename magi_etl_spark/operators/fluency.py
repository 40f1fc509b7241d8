"""Rare-bigram fluency banding — the integer-arithmetic cousin of
perplexity filtering (CCNet buckets documents by LM perplexity and
keeps a quality band; the decision statistic here is the RATE OF RARE
BIGRAMS, which ranks documents the same way for the gibberish/boiler-
plate extremes while staying exactly replayable: no logarithms, no
float ordering, so no cross-engine last-ulp risk on the banding
decision — the reason q119's mean_logprob is emit-only while this
operator gets to make keep/drop verdicts).

A bigram is "rare" when its corpus occurrence count is at most
``rare_max``; a document's ``rate_permille = 1000 · n_rare ÷ n_bigrams``
(integer division).  High rates flag gibberish/mojibake (every bigram
novel), near-zero rates flag template boilerplate (every bigram
corpus-common); the keep band is the middle.

Scale shape: per-document bigram construction rides a per-doc window
(partitioned, never corpus-wide); the corpus bigram counts are one
keyed aggregation; the rare flag joins back on the bigram key
(vocabulary-sized, keyed).  Nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per in-document bigram occurrence: ``doc_id, bigram``."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "tok"),
    )
    byd = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(byd)).alias("bigram"),
            F.lead("tok", 1).over(byd).isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )


def rare_bigram_band(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 2,
    keep_lo: int = 50,
    keep_hi: int = 800,
) -> DataFrame:
    """Per document (documents with at least one bigram):
    ``doc_id, n_bigrams, n_rare, rate_permille, keep`` where ``keep`` is
    1 iff ``keep_lo <= rate_permille <= keep_hi`` — all integer, so the
    verdict can never flip between engines."""
    bg = doc_bigrams(df, id_col, text_col)
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("_bf"))
    flagged = bg.join(counts, "bigram").select(
        "doc_id", (F.col("_bf") <= rare_max).cast("int").alias("_rare")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_rare").alias("n_rare"),
    )
    rate = F.expr("(1000 * n_rare) DIV n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_rare",
        rate.alias("rate_permille"),
        (
            (rate >= keep_lo) & (rate <= keep_hi)
        ).cast("int").alias("keep"),
    )
