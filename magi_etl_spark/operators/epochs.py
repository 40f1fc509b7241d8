"""Token-budget epoch planning across corpus sources.

Given a token budget for a training run and per-source mixture weights,
answer the question every data-curation run starts with: how many
tokens does each source contribute, and how many EPOCHS (repetitions)
of each source does that imply — the "4 epochs of Wikipedia, 0.3 of
CommonCrawl" arithmetic of LLM data recipes (Hoffmann-style token
accounting; cf. operators/mixing.py, which materializes a mixture at
row level, where this plans the allocation at ledger level).

All arithmetic is integer: targets are a Hamilton largest-remainder
apportionment of the budget over the weights (exact integer remainders,
ties broken by source ascending — the operators/mlprep.py discipline),
epochs are a ceiling division, oversampling is reported per-mille.

Scale shape: one aggregation over the corpus (per-source token counts);
everything after runs on the sources ledger — a bounded, broadcast-tiny
frame (the deliberately bounded single-partition window is pinned via
``pinned_partition``, the same idiom quota_allocate uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions import pinned_partition
from magi_etl_spark.functions.text import words


def source_token_counts(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """``source, available_tokens``: corpus token ledger per source."""
    return df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(
            F.size(words(F.col(text_col))).cast("long")
        ).alias("available_tokens")
    )


def epoch_mixture_plan(
    df: DataFrame,
    weights: DataFrame,
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """``source, weight, available_tokens, target_tokens, epochs,
    oversample_permille``.

    ``weights`` is a ``(source, weight)`` ledger (integer weights).
    ``target_tokens`` apportions ``token_budget`` proportionally to the
    weights with largest-remainder rounding, so targets sum EXACTLY to
    the budget; ``epochs = ceil(target / available)`` is the repetition
    count a sampler needs; ``oversample_permille = 1000 · target ÷
    available`` (integer division) makes sub-epoch sampling rates
    comparable across sources.

    Sources with ZERO available tokens (present in the ledger but all
    texts empty) cannot receive an allocation — dividing a target into
    0 available is undefined on both engines — so they are dropped
    BEFORE apportionment (the budget reapportions over the non-empty
    sources) rather than surfacing as a null/error epoch count."""
    from magi_etl_spark.chkpt import materialize

    counts = source_token_counts(df, source_col, text_col).where(
        F.col("available_tokens") > 0
    )
    # fan-out barrier (r15 scan audit): the weighted per-source ledger
    # feeds the two apportionment aggregates, the remainder re-select,
    # and the ranked readout — left lazy, the corpus-sized token count
    # AND the caller's weights subtree compiled 4x each (8 live corpus
    # scans on q223).  One row per source; materialized ONCE via the
    # chkpt barrier right after the weight join so both subtrees sit
    # behind it.
    j = materialize(
        counts.join(
            F.broadcast(
                weights.select(
                    "source", F.col("weight").cast("long").alias("weight")
                )
            ),
            "source",
        )
    )
    tot = j.agg(F.sum("weight").alias("_W"))
    budget = F.lit(int(token_budget)).cast("long")
    j = (
        j.join(F.broadcast(tot))
        .withColumn("_prod", F.col("weight") * budget)
        .select(
            "source",
            "weight",
            "available_tokens",
            # BIGINT floor-div; the budget rides in as a Column literal,
            # never spliced into the expr string
            F.expr("_prod DIV _W").alias("_floor"),
            (F.col("_prod") % F.col("_W")).alias("_rem"),
        )
    )
    short = j.agg((F.lit(int(token_budget)) - F.sum("_floor")).alias("_short"))
    w = W.partitionBy(pinned_partition(F.col("weight"))).orderBy(
        F.desc("_rem"), F.asc("source")
    )
    planned = (
        j.join(F.broadcast(short))
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "source",
            "weight",
            "available_tokens",
            (
                F.col("_floor")
                + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0)
            ).alias("target_tokens"),
        )
    )
    return planned.select(
        "source",
        "weight",
        "available_tokens",
        "target_tokens",
        F.expr(
            "CAST((target_tokens + available_tokens - 1) DIV available_tokens"
            " AS INT)"
        ).alias("epochs"),
        F.expr(
            "(1000 * target_tokens) DIV available_tokens"
        ).alias("oversample_permille"),
    )
