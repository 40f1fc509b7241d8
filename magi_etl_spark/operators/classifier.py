"""Seed-trained Naive-Bayes text classifier — the relational form of
the fastText-style quality filter every production pretraining corpus
runs (CCNet's wiki-vs-crawl model, the LLaMA "looks like a reference
page" filter, GPT-3's WebText classifier): label a SEED subset of
documents positive/negative, estimate per-token multinomial
likelihoods with Laplace smoothing, and score every document by the
mean token log-likelihood ratio.  High scores read "looks like the
positive seed domain"; selection is a threshold or a weighted sample
over the scores (the classic Pareto-draw trick composes with
``operators/sampling.py``).

This complements ``operators/importance.py``'s DSIR: DSIR is
*unsupervised* importance reweighting toward a target distribution
over hashed buckets; this is a *supervised* two-class discriminator
over the raw token vocabulary.

Scale shape: one exploded-token aggregate over the SEED subset (the
model rides the seed vocabulary, not the corpus), the two class
totals folded in as a broadcast 1-row aggregate, then the corpus
token stream LEFT-joined to the vocabulary-sized model on the token
key and one per-document mean.  Nothing is collected; per-token LLRs
are pure IEEE arithmetic, so a SQL oracle reproduces them digit by
digit.  At 100 TB the model frame is Heaps'-law bounded (~1e7 rows)
— Catalyst broadcasts it when it fits, and the join stays a keyed
shuffle otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words



def nb_token_model(
    seeds: DataFrame,
    label_col: str = "is_pos",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Train the token model from a boolean-labeled seed frame:
    ``(tok, c_pos, c_neg, llr)`` where ``llr = ln P(tok|pos) -
    ln P(tok|neg)`` under add-``alpha`` multinomial smoothing over the
    seed vocabulary.  The class totals and vocabulary size ride the
    plan as a broadcast 1-row aggregate (the dangling-mass idiom), so
    the model is one aggregate + one narrow projection."""
    toks = seeds.select(
        F.col(label_col).cast("boolean").alias("is_pos"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0)).alias("c_neg"),
    )
    totals = counts.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v_size"),
    )
    a = F.lit(float(alpha))
    llr = (
        F.log((F.col("c_pos") + a) / (F.col("n_pos") + a * F.col("v_size")))
        - F.log((F.col("c_neg") + a) / (F.col("n_neg") + a * F.col("v_size")))
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.col("c_pos").cast("long").alias("c_pos"),
        F.col("c_neg").cast("long").alias("c_neg"),
        llr.alias("llr"),
    )


def nb_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document of ``df`` against a ``nb_token_model``
    frame: ``(id_col, n_tokens, n_scored, mean_llr)`` — ``n_scored``
    counts the tokens present in the seed vocabulary, ``mean_llr`` the
    mean LLR over those (NULL when no token is known, mirroring SQL
    ``AVG`` semantics).  The mean (not the sum) keeps the score
    length-invariant and its magnitude rounding-stable.  Documents
    with no ``[a-z]+`` token at all drop out, as in the oracle."""
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    return (
        toks.join(model.select("tok", "llr"), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("llr").alias("n_scored"),
            F.avg("llr").alias("mean_llr"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: str = "mean_llr",
    label_col: str = "is_pos",
    width: float = 0.5,
) -> DataFrame:
    """Reliability diagram for a scored+labeled frame: bin the score
    (on its 6-decimal ROUNDING, so the bin edges see the same doubles
    in any engine), and report per-bin volume and positive fraction —
    rising ``frac_pos`` across bins is the monotone-calibration check
    a score must pass before its threshold means anything.
    ``(bin, n_docs, n_pos, frac_pos)``; rows with a NULL score (no
    vocabulary overlap) are excluded, as in SQL aggregation."""
    b = F.floor(F.round(F.col(score_col), 6) / F.lit(float(width)))
    n = F.count(F.lit(1))
    n_pos = F.sum(F.when(F.col(label_col), 1).otherwise(0))
    return (
        df.where(F.col(score_col).isNotNull())
        .groupBy(b.cast("long").alias("bin"))
        .agg(
            n.cast("long").alias("n_docs"),
            n_pos.cast("long").alias("n_pos"),
            F.round(n_pos / n.cast("double"), 6).alias("frac_pos"),
        )
    )


def seed_classifier_scores(
    df: DataFrame,
    pos_filter: Column,
    neg_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """End-to-end seed classification: rows matching ``pos_filter`` /
    ``neg_filter`` are the training seeds (deterministic — no sampled
    labels), everything in ``df`` is scored.  One corpus pass for the
    seed model, one for scoring."""
    seeds = df.where(pos_filter | neg_filter).select(
        pos_filter.alias("is_pos"), F.col(text_col)
    )
    model = nb_token_model(seeds, "is_pos", text_col, alpha)
    return nb_score(df, model, id_col, text_col)
