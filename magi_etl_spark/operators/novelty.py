"""Source-level distributional novelty: smoothed KL divergence of each
source's token distribution against the pooled corpus distribution —
the "how different is this source's language?" signal a mixture planner
reads next to size (``operators/epochs.py``) and quality
(``operators/text.py``) when weighting corpus slices.

Definition (Laplace/add-one smoothing over the CORPUS vocabulary V):

    q(t)   = (c_t  + 1) / (N   + |V|)      pooled corpus distribution
    p_s(t) = (c_st + 1) / (n_s + |V|)      source distribution
    KL(s)  = sum over t in V of p_s(t) * ln(p_s(t) / q(t))

Scale shape: the naive sum ranges over source x vocabulary — a cross
join at corpus scale.  Tokens ABSENT from a source all share one
probability ``p0 = 1 / (n_s + |V|)``, so their contribution collapses
to a closed form:

    KL(s) = present_sum(s)
          + p0 * [ (|V| - |V_s|) * ln(p0) - (Lq_all - Lq_present(s)) ]

where ``Lq_all = sum over V of ln q(t)`` is ONE corpus aggregate and
``present_sum`` / ``Lq_present`` ride the same per-(source, token)
aggregation — so the whole operator is two keyed aggregations plus one
broadcast of three corpus scalars, never a source x vocab expansion.

Determinism: counts are exact BIGINTs; the log terms are IEEE doubles
summed per group (identical operand sets on both engines; the result is
rounded to the 6-dp grid well above the last-ulp wobble of summation
order — the PSI/entropy precedent, green across q143/q219 driver rows).

Scope note: the reference app has no corpus-novelty surface — this
operator belongs to the training-data-pipeline extension family
(mixing/epochs/curation) the engine adds beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def source_kl_novelty(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source add-one-smoothed KL divergence vs the pooled corpus:
    ``source, n_tokens, vocab_size, kl_nats`` (kl rounded to 6 dp)."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    corpus = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    # three corpus scalars in one aggregate: N, |V|, Lq_all needs q(t)
    # which itself needs N and |V| — two tiny passes over the vocab
    # frame, both pure aggregates
    nv = corpus.agg(
        F.sum("c_t").alias("N"), F.count(F.lit(1)).alias("V")
    )
    corpus_q = corpus.join(F.broadcast(nv)).select(
        "tok",
        "c_t",
        ((F.col("c_t") + F.lit(1)).cast("double")
         / (F.col("N") + F.col("V")).cast("double")).alias("q_t"),
    )
    lq = corpus_q.agg(F.sum(F.log("q_t")).alias("Lq_all"))
    per_src = st.join(corpus_q.select("tok", "q_t"), "tok")
    agg = per_src.groupBy("source").agg(
        F.sum("c_st").alias("n_s"),
        F.count(F.lit(1)).alias("v_s"),
        F.sum(F.log("q_t")).alias("lq_present"),
        # present-token sums that do NOT depend on the denominator:
        # sum (c+1) ln(c+1)  and  sum (c+1) ln q  — the denominator
        # (n_s + V) factors out and is applied after the aggregate
        F.sum(
            (F.col("c_st") + 1).cast("double")
            * F.log((F.col("c_st") + 1).cast("double"))
        ).alias("s_clnc"),
        F.sum((F.col("c_st") + 1).cast("double") * F.log("q_t")).alias(
            "s_clnq"
        ),
    )
    out = (
        agg.join(F.broadcast(nv))
        .join(F.broadcast(lq))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("v_s").alias("vocab_size"),
            F.round(
                (
                    # present terms: sum p [ln(c+1) - ln(n_s+V) - ln q]
                    (
                        F.col("s_clnc")
                        - F.col("s_clnq")
                        - (F.col("n_s") + F.col("v_s")).cast("double")
                        * F.log((F.col("n_s") + F.col("V")).cast("double"))
                    )
                    / (F.col("n_s") + F.col("V")).cast("double")
                    # absent terms: p0 [(V - V_s) ln p0 - (Lq_all - Lq_present)]
                    + (
                        (F.col("V") - F.col("v_s")).cast("double")
                        * -F.log((F.col("n_s") + F.col("V")).cast("double"))
                        - (F.col("Lq_all") - F.col("lq_present"))
                    )
                    / (F.col("n_s") + F.col("V")).cast("double")
                ),
                6,
            ).alias("kl_nats"),
        )
    )
    return out
