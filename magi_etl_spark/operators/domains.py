"""Domain-level corpus curation — the C4 / RefinedWeb host-level pass:
aggregate per-domain health statistics (volume, token mass, exact-dup
share) and decide keep/drop at the DOMAIN granularity before any
per-document filtering runs.  Production pipelines run this first
because a single bad host can contribute millions of templated pages;
dropping it at the domain level is one small-aggregate decision
instead of millions of per-document classifier calls.

Scale shape: one narrow per-document projection (token count + text
fingerprint — no explode; the token COUNT rides ``regexp_extract_all``
+ ``size``), one (domain, fingerprint) aggregate for the dup share,
one per-domain rollup.  The domain-stats frame is tiny (distinct
domains), so the keep/drop verdict broadcasts back onto the corpus
for filtering.  Keep thresholds are integer-arithmetic comparisons
(``sum >= k * count``), never float thresholds — the verdict column
stays exactly reproducible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words



def domain_stats(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain health statistics: ``(domain_col, n_docs, n_tokens,
    mean_tokens, n_dup_docs, dup_frac)`` — ``n_dup_docs`` counts the
    documents whose exact text fingerprint (md5) occurs more than once
    WITHIN the domain (cross-domain copies are near-dup territory, a
    different operator)."""
    per = df.select(
        F.col(domain_col),
        F.size(words(F.col(text_col))).alias("n_toks"),
        F.md5(F.col(text_col)).alias("fp"),
    )
    fpc = per.groupBy(domain_col, "fp").agg(F.count(F.lit(1)).alias("c"))
    j = per.join(fpc, [domain_col, "fp"]).select(
        domain_col, "n_toks", (F.col("c") > 1).alias("is_dup")
    )
    n_docs = F.count(F.lit(1))
    n_dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return j.groupBy(domain_col).agg(
        n_docs.cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.round(F.avg("n_toks"), 6).alias("mean_tokens"),
        n_dup.cast("long").alias("n_dup_docs"),
        F.round(n_dup / n_docs.cast("double"), 6).alias("dup_frac"),
    )


def curate_domains(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    min_docs: int = 10,
    min_mean_tokens: int = 20,
    max_dup_half: bool = True,
) -> DataFrame:
    """``domain_stats`` plus an exact-arithmetic ``kept`` verdict: a
    domain survives when it has at least ``min_docs`` documents, its
    mean token count is at least ``min_mean_tokens`` (compared as
    ``n_tokens >= min_mean_tokens * n_docs`` — no float threshold),
    and (when ``max_dup_half``) at most half its documents are exact
    duplicates (``2 * n_dup_docs <= n_docs``)."""
    s = domain_stats(df, domain_col, text_col)
    kept = (F.col("n_docs") >= min_docs) & (
        F.col("n_tokens") >= F.lit(min_mean_tokens) * F.col("n_docs")
    )
    if max_dup_half:
        kept = kept & (F.lit(2) * F.col("n_dup_docs") <= F.col("n_docs"))
    return s.withColumn("kept", kept)


def filter_to_kept_domains(
    df: DataFrame,
    verdicts: DataFrame,
    domain_col: str = "source",
) -> DataFrame:
    """Apply a ``curate_domains`` verdict frame back to the corpus: a
    broadcast semi-join on the kept domains (the verdict frame is
    distinct-domain-sized by construction)."""
    kept = verdicts.where("kept").select(domain_col)
    return df.join(F.broadcast(kept), domain_col, "semi")
