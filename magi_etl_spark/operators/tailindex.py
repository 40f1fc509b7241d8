"""Hill estimator of the power-law tail index over token frequencies —
the standard heavy-tail diagnostic (Hill 1975) for corpus statistics:
token frequency, document length, and degree distributions are all
near-Zipfian, and the fitted tail exponent is the number a sampling /
vocabulary-sizing plan actually consumes (complements
``operators/spectrum.py``: the frequency SPECTRUM describes the rare
end, the Hill index the heavy end).

For the order statistics f_(1) >= f_(2) >= ... of the frequency
distribution and a chosen k:

    H_k   = (1/k) * sum_{i=1..k} ln( f_(i) / f_(k+1) )
    alpha = 1 / H_k            (the Pareto tail exponent)

Scale shape: one token-count aggregation, then for each requested k a
top-(k+1) selection — Spark compiles ``orderBy().limit()`` to
TakeOrderedAndProject (per-partition heaps merged on the driver, never
a global sort shuffle) — and one sum over the k kept rows.  The
(k+1)-th frequency rides the same bounded frame; nothing unbounded
crosses the driver.

Determinism: frequencies are exact BIGINTs and the order statistics a
deterministic multiset (ties inside the top-k contribute identical ln
terms regardless of which tied TOKEN is kept, because only the
frequency VALUES enter the sum); the ln-sum is rounded to the 6-dp
grid well above last-ulp summation wobble (the PSI/entropy precedent).

Scope note: the reference app has no tail-statistics surface — this
operator belongs to the corpus-profiling extension family the engine
adds beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def token_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``tok, f`` exact token counts."""
    return (
        df.select(
            F.explode(words(F.col(text_col))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def hill_tail_index(
    df: DataFrame,
    ks: list[int],
    text_col: str = "text",
) -> DataFrame:
    """``k, f_k1, hill_h, alpha`` — the Hill estimator at each requested
    ``k`` (rows ordered by the caller's k values; ``f_k1`` is the
    (k+1)-th largest frequency, BIGINT).  ``hill_h``/``alpha`` are
    rounded to 6 dp."""
    freq = token_frequencies(df, text_col)
    spark = df.sparkSession
    outs = []
    for k in ks:
        topk1 = freq.orderBy(F.desc("f"), F.asc("tok")).limit(k + 1)
        # the (k+1)-th frequency: smallest of the kept k+1 (min over the
        # bounded frame — ties already resolved by the ordered limit)
        kth = topk1.agg(F.min("f").alias("f_k1"))
        # ln-sum over all k+1 kept rows: the (k+1)-th row contributes
        # ln(f_k1/f_k1) = 0, so the sum equals the top-k sum —
        # arithmetic on frequency VALUES only, so token-level tie
        # resolution cannot change it
        hsum = (
            topk1.join(F.broadcast(kth))
            .select(
                "f",
                "f_k1",
                (F.log(F.col("f").cast("double"))
                 - F.log(F.col("f_k1").cast("double"))).alias("_ln"),
            )
            .agg(
                F.min("f_k1").alias("f_k1"),
                (F.sum("_ln") / F.lit(float(k))).alias("_h"),
            )
            .select(
                F.lit(k).alias("k"),
                "f_k1",
                F.round("_h", 6).alias("hill_h"),
                # try_divide: a degenerate corpus (top k+1 frequencies
                # all equal) has H = 0 — emit NULL alpha instead of an
                # ANSI divide-by-zero error
                F.round(F.try_divide(F.lit(1.0), F.col("_h")), 6).alias(
                    "alpha"
                ),
            )
        )
        outs.append(hsum)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
