"""Pointwise mutual information over token co-occurrence.

The association family's text member: which vocabulary terms co-occur
in documents more than their marginal frequencies predict — topic
signal for curation dashboards, the same statistic behind co-purchase
lift (q142) but on the document-term matrix.

Scale shape: restricted to the top-``k`` document-frequency terms
(broadcast), so the per-document pair fan-out is bounded by C(k, 2)
regardless of corpus size; one keyed pair-count aggregate; PMI is one
log per surviving PAIR (vocabulary-sized, never corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import alnum_words


def token_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 30,
    min_pairs: int = 5,
    round_dp: int = 4,
) -> DataFrame:
    """PMI between top-``top_k`` df-ranked tokens: ``tok_a < tok_b,
    n_a, n_b, n_ab, pmi`` for pairs co-occurring in at least
    ``min_pairs`` documents, where ``pmi = ln(n_ab * n_docs /
    (n_a * n_b))`` over document counts."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(alnum_words(F.col(text_col))).alias("tok"),
    ).distinct()
    df_tok = toks.groupBy("tok").agg(F.count("*").alias("_df"))
    # global top-k over the vocabulary-sized df frame: orderBy+limit
    # plans as TakeOrderedAndProject (distributed per-partition top-k +
    # driver merge of k rows) — never a single-partition window over
    # the vocabulary
    top = (
        df_tok.orderBy(F.desc("_df"), F.asc("tok"))
        .limit(top_k)
        .select("tok", "_df")
    )
    kept = toks.join(F.broadcast(top), "tok")
    a = kept.select("doc_id", F.col("tok").alias("tok_a"), F.col("_df").alias("_na"))
    b = kept.select("doc_id", F.col("tok").alias("tok_b"), F.col("_df").alias("_nb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "_na", "_nb")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs)
    )
    n_docs = docs.agg(F.count("*").alias("_n"))
    return pairs.join(F.broadcast(n_docs)).select(
        "tok_a",
        "tok_b",
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        "n_ab",
        F.round(
            F.log(
                (F.col("n_ab") * F.col("_n")).cast("double")
                / (F.col("_na") * F.col("_nb")).cast("double")
            ),
            round_dp,
        ).alias("pmi"),
    )
