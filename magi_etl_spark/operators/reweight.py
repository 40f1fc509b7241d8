"""Soft deduplication — duplicate-aware DOWN-WEIGHTING instead of hard
removal (the SoftDeDup idea: common documents carry signal, so scale
their training weight by an inverse power of their duplicate-cluster
size rather than deleting all but one copy).  The output is a
per-document sampling weight and an *effective token count*; a
pipeline either feeds the weights to ``operators/sampling.py``'s
weighted draw or uses the effective counts for token-budget planning
(``operators/prefix.py``).

``beta`` is the softness temperature: ``weight = cluster_size**-beta``
— ``beta=1`` makes every duplicate cluster contribute exactly one
document's worth of mass (the hard-dedup equilibrium), ``beta=0`` is
no dedup, intermediate values interpolate.

Scale shape: identical to exact dedup — one fingerprint aggregate for
cluster sizes, one join back on the fingerprint.  No windows, no
collects; weights are one division (``beta=1``) or one ``pow``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words



def soft_dedup_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    beta: float = 1.0,
) -> DataFrame:
    """``(id_col, cluster_size, n_tokens, weight, eff_tokens)`` —
    ``cluster_size`` is the document's exact-duplicate group size (md5
    text fingerprint), ``weight = cluster_size**-beta``, and
    ``eff_tokens = n_tokens * weight``.  With the default ``beta=1``
    the weight is a plain reciprocal (exactly reproducible in SQL —
    one IEEE division, no ``pow``)."""
    per = df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fp"),
        F.size(words(F.col(text_col))).alias("n_toks"),
    )
    fc = per.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    if beta == 1.0:
        w = F.lit(1.0) / F.col("c")
    else:
        w = F.pow(F.col("c").cast("double"), F.lit(-float(beta)))
    return per.join(fc, "fp").select(
        id_col,
        F.col("c").cast("long").alias("cluster_size"),
        F.col("n_toks").cast("long").alias("n_tokens"),
        w.alias("weight"),
        (F.col("n_toks") * w).alias("eff_tokens"),
    )


def effective_corpus_size(weights: DataFrame) -> DataFrame:
    """One-row rollup of a ``soft_dedup_weights`` frame: raw vs
    effective document and token mass — the numbers a token-budget
    plan is drawn against."""
    return weights.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("weight"), 6).alias("eff_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.sum("eff_tokens"), 6).alias("eff_tokens"),
    )
