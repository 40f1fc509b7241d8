"""Token burstiness / dispersion profiling: the variance-to-mean ratio
(index of dispersion) of each token's per-document count — the classic
corpus-linguistics separator between bursty CONTENT words (a token that
appears 40 times in three documents) and evenly-spread FUNCTION words
(one that appears once in most documents).  A curation pipeline reads
this next to document frequency when building stopword lists, keyword
extractors, and repetition filters (``operators/text.py`` scores one
document at a time; this profiles a token across the corpus).

For token t over D documents with per-doc counts c_td (zero for docs
that lack t):

    mean     = tot_t / D
    variance = ssq_t / D - mean^2          (population, zeros included)
    dispersion = variance / mean
             = (D * ssq_t - tot_t^2) / (D * tot_t)

The last form needs no zero cells — they contribute nothing to ``ssq``
— and is evaluated in DOUBLE arithmetic on exactly-ingested integer
aggregates (each factor cast before multiplying): at 100 TB a frequent
token's ``total**2`` overflows int64 (~1e12 occurrences squared), while
the double expression stays finite and, being the identical operand
sequence on any IEEE engine, per-row deterministic.  The ``ssq``
aggregate itself accumulates in decimal(38,0), not bigint — a single
million-count cell squares to 1e12, and a bigint sum of such cells can
wrap silently under non-ANSI Spark while DuckDB promotes to HUGEINT;
decimal summation is exact (and order-free) to 1e38 on both engines.

Scale shape: one (doc, token) aggregation, one token aggregation, one
broadcast scalar (D), and a top-k by total count — no corpus-wide
window, no zero-cell expansion.

Scope note: the reference app has no corpus-profiling surface — this
operator belongs to the training-data-pipeline extension family the
engine adds beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def token_dispersion(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    top_n: int = 200,
) -> DataFrame:
    """``tok, doc_freq, total, dispersion`` for the ``top_n`` tokens by
    total count (ties break to the lexicographically smallest token)
    among tokens appearing in at least ``min_df`` documents.
    ``dispersion`` is the variance-to-mean ratio over ALL documents
    (zeros included analytically, never materialized)."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    td = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_tok = td.groupBy("tok").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("c").alias("total"),
        # ssq accumulates in decimal(38,0): exact AND unwrappable — a
        # BIGINT sum of c*c can wrap silently under non-ANSI Spark at
        # corpus scale while the DuckDB oracle promotes to HUGEINT (the
        # r9 ADVICE defect).  decimal(19,0) x decimal(19,0) → (38,0),
        # matching HUGEINT semantics for every value below 1e38.
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("ssq"),
    )
    d_docs = df.agg(F.count(F.lit(1)).alias("D"))
    return (
        per_tok.where(F.col("doc_freq") >= min_df)
        .join(F.broadcast(d_docs))
        .select(
            "tok",
            "doc_freq",
            "total",
            (
                (
                    F.col("D").cast("double") * F.col("ssq").cast("double")
                    - F.col("total").cast("double")
                    * F.col("total").cast("double")
                )
                / (F.col("D").cast("double") * F.col("total").cast("double"))
            ).alias("dispersion"),
        )
        .orderBy(F.desc("total"), F.asc("tok"))
        .limit(top_n)
    )
