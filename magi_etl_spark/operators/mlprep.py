"""Feature-engineering operators for model prep: leakage-free K-fold
target encoding, weight-of-evidence / information-value diagnostics, and
largest-remainder stratified quota allocation.

These are the tabular-ML half of the curation toolbox (the text half
lives in ``operators/text.py`` / ``operators/importance.py``): encode a
high-cardinality categorical against a label without leaking each row's
own fold, rank features by their separation of a binary label, and draw
an exactly-N sample whose strata allocation is the canonical
largest-remainder (Hamilton) apportionment.

Scale shapes: every function is one or two keyed aggregations over
bounded-cardinality keys (category × fold, bin, stratum) joined back
broadcast — no corpus-sized windows, no driver loops.  Folds and
selection order come from md5 arithmetic (the repo's standard
derandomization), so every output is deterministic, repartition-stable,
and replayable in a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32


def md5_fold(key: Column, n_folds: int, seed: str = "fold") -> Column:
    """Deterministic fold id in [0, n_folds): 32-bit md5 prefix mod n."""
    h = md5_u32(F.concat(F.lit(f"{seed}|"), key.cast("string")))
    return (h % n_folds).cast("int")


def target_encode_kfold(
    df: DataFrame,
    category_col: str,
    label_col: Column,
    fold_key: Column,
    n_folds: int = 5,
    prior_weight: int = 20,
    round_dp: int = 6,
) -> DataFrame:
    """Leakage-free encoding table: for every ``(category, fold)``, the
    smoothed mean of the integer label over all OTHER folds —
    ``(sum_cat - sum_fold + prior_weight * global_rate) /
    (cnt_cat - cnt_fold + prior_weight)``.

    Rows in fold k look the encoding up from this table (join on
    category + fold), so no row's own label leaks into its feature.
    Integer sums throughout; the global rate and the final division are
    the only float steps, each computed once per (category, fold).
    Returns ``category, fold, n_in, n_out, encoded``.
    """
    base = df.select(
        F.col(category_col).alias("category"),
        label_col.cast("long").alias("_y"),
        md5_fold(fold_key, n_folds).alias("fold"),
    )
    per_cf = base.groupBy("category", "fold").agg(
        F.count("*").alias("_cnt_f"), F.sum("_y").alias("_sum_f")
    )
    per_cat = per_cf.groupBy("category").agg(
        F.sum("_cnt_f").alias("_cnt_c"), F.sum("_sum_f").alias("_sum_c")
    )
    glob = per_cf.agg(
        F.sum("_cnt_f").alias("_cnt_g"), F.sum("_sum_f").alias("_sum_g")
    )
    j = per_cf.join(per_cat, "category").join(F.broadcast(glob))
    rate_g = F.col("_sum_g").cast("double") / F.col("_cnt_g")
    num = (
        (F.col("_sum_c") - F.col("_sum_f")).cast("double")
        + F.lit(float(prior_weight)) * rate_g
    )
    den = (F.col("_cnt_c") - F.col("_cnt_f") + prior_weight).cast("double")
    return j.select(
        "category",
        "fold",
        F.col("_cnt_f").alias("n_in"),
        (F.col("_cnt_c") - F.col("_cnt_f")).alias("n_out"),
        F.round(num / den, round_dp).alias("encoded"),
    )


def woe_iv(
    df: DataFrame,
    bin_col: Column,
    label_col: Column,
    bin_name: str = "bin",
    round_dp: int = 4,
) -> DataFrame:
    """Weight-of-evidence per bin and the feature's information value.

    ``woe = ln((pos_i / pos_tot) / (neg_i / neg_tot))`` with Laplace
    +1 smoothing on both counts (so empty cells never divide by zero),
    ``iv_term = (pos_share - neg_share) * woe``.  Counts are integers;
    shares, the log, and the IV terms are rounded to ``round_dp``.
    Returns one row per bin: ``bin, n_pos, n_neg, woe, iv_term, iv``
    (``iv`` is the feature total, repeated per row for a flat schema).
    """
    base = df.select(
        bin_col.alias(bin_name), label_col.cast("int").alias("_y")
    )
    per_bin = base.groupBy(bin_name).agg(
        F.sum("_y").alias("n_pos"),
        F.sum(1 - F.col("_y")).alias("n_neg"),
    )
    tot = per_bin.agg(
        F.sum("n_pos").alias("_pt"),
        F.sum("n_neg").alias("_nt"),
        F.count("*").alias("_nb"),
    )
    j = per_bin.join(F.broadcast(tot))
    # Laplace smoothing: +1 per cell, +n_bins on the totals
    pos_share = (F.col("n_pos") + 1).cast("double") / (
        F.col("_pt") + F.col("_nb")
    )
    neg_share = (F.col("n_neg") + 1).cast("double") / (
        F.col("_nt") + F.col("_nb")
    )
    woe = F.log(pos_share / neg_share)
    iv_term = (pos_share - neg_share) * woe
    terms = j.select(
        bin_name,
        "n_pos",
        "n_neg",
        F.round(woe, round_dp).alias("woe"),
        F.round(iv_term, round_dp).alias("iv_term"),
        iv_term.alias("_ivt"),
    )
    iv = terms.agg(F.round(F.sum("_ivt"), round_dp).alias("iv"))
    return terms.drop("_ivt").join(F.broadcast(iv))


def ecdf_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Percentile-rank (ECDF) normalization within each group: every
    row gains ``ecdf = rank / n`` where ``rank`` is the MAX rank of the
    row's value (ties share the highest rank, the right-continuous
    empirical CDF convention), computed as one per-group window pass.
    The input id column makes output rows addressable; the ratio is a
    single rounded division of exact integers."""
    w = W.partitionBy(*group_cols).orderBy(value_col)
    # right-continuous ECDF: count of values <= this one = max rank of
    # the tie group = row_number at the tie group's END.  cume_dist is
    # exactly this divided by n.  NULL values are excluded by contract
    # — an ECDF of NULL is undefined, and engines disagree on default
    # null ordering (Spark ASC NULLS FIRST, DuckDB NULLS LAST), so
    # passing them through would be silently engine-dependent.
    df = df.where(F.col(value_col).isNotNull())
    return df.select(
        *group_cols,
        id_col,
        value_col,
        F.round(F.cume_dist().over(w), round_dp).alias("ecdf"),
    )


def quota_allocate(
    df: DataFrame,
    stratum_cols: list[str],
    total_n: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of exactly ``total_n``
    slots across strata, proportional to stratum row counts.

    Every stratum gets ``floor(total_n * n_i / N)``; the remaining
    slots go to the largest fractional remainders, ties broken by the
    stratum key ascending.  All comparisons are on the exact integer
    remainder ``(total_n * n_i) % N`` — no floats anywhere.  Returns
    ``*stratum_cols, n_rows, quota``.  The strata frame is tiny
    (bounded cardinality), so the ordering window is a deliberately
    bounded single-partition frame.
    """
    from magi_etl_spark.functions import pinned_partition

    counts = df.groupBy(*stratum_cols).agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").alias("_N"), F.count("*").alias("_k")
    )
    j = counts.join(F.broadcast(tot))
    j = j.select(
        *stratum_cols,
        "n_rows",
        F.expr(f"(n_rows * {int(total_n)}) DIV _N").alias("_floor"),
        ((F.col("n_rows") * total_n) % F.col("_N")).alias("_rem"),
    )
    short = j.agg((F.lit(total_n) - F.sum("_floor")).alias("_short"))
    w = W.partitionBy(pinned_partition(F.col("n_rows"))).orderBy(
        F.desc("_rem"), *[F.asc(c) for c in stratum_cols]
    )
    return (
        j.join(F.broadcast(short))
        .withColumn("_rk", F.row_number().over(w))
        .select(
            *stratum_cols,
            "n_rows",
            (
                F.col("_floor")
                + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0)
            ).alias("quota"),
        )
    )


def quota_sample(
    df: DataFrame,
    stratum_cols: list[str],
    id_col: str,
    total_n: int,
    seed: str = "quota",
) -> DataFrame:
    """Draw the exactly-``total_n`` sample the Hamilton quotas allocate:
    within each stratum, rows ranked by ``(md5(seed|id), id)`` — a
    deterministic shuffle — and the first ``quota`` kept.  One keyed
    window; the quota table is broadcast back."""
    quotas = quota_allocate(df, stratum_cols, total_n).drop("n_rows")
    h = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    ).alias("_h")
    w = W.partitionBy(*stratum_cols).orderBy("_h", id_col)
    return (
        df.join(F.broadcast(quotas), stratum_cols)
        .withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("quota"))
        .drop("_h", "_rn", "quota")
    )
