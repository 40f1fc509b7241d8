"""Friedman test (Friedman 1937) — the k-treatment rank test for
RANDOMIZED BLOCKS: "do the k treatments differ, once every block
(user, day, site) serves as its own control?".  The repeated-measures
complement to Kruskal–Wallis (``kruskal.py`` q251): ranks are computed
WITHIN each block, so between-block level differences — the thing that
drowns a pooled rank test on heterogeneous panels — cancel by
construction.

Tie-corrected form (Conover 1999 §5.8), with per-block average ranks
r_bj, treatment rank sums R_j = sum_b r_bj over n complete blocks:

    T = (k-1) * sum_j (R_j - n(k+1)/2)^2  /  (A2 - C2)
    A2 = sum_bj r_bj^2          C2 = n k (k+1)^2 / 4

which reduces to the classic 12/(nk(k+1)) * sum R_j^2 - 3n(k+1) when
no ties exist.  Everything rides the DOUBLED within-block rank
``a = 2*avgrank = rank() + (rows with value <= x)``, an exact integer
read from ONE window partitioned by (key, block) and ordered by the
value (``rank()`` plus a ``count`` over the RANGE frame, which takes
in the ties).  With R2_j = sum_b a_bj, and sum_j R2_j = n k (k+1)
(each block's doubled ranks sum to k(k+1)):

    sum_j (R_j - n(k+1)/2)^2 = (sum_j R2_j^2 - n^2 k (k+1)^2) / 4
    A2 - C2 = (sum a^2 - n k (k+1)^2) / 4

so the 4s cancel and T = (k-1) * NUM / DEN with NUM and DEN both
exact decimal(38,0) integers both engines sum identically — ONE double
division at the end, rounded at the 6-dp grid.

Block completeness: the test is defined on complete blocks; blocks
that do not contain exactly one observation of every treatment seen
under the key are DROPPED (listwise deletion, the textbook default) —
n counts the complete blocks only, while k_treat counts treatments
over ALL of the key's rows, so a treatment that only ever appears in
ragged blocks strictly shrinks n rather than silently shrinking k.

Scale shape: one (key, block, treatment) cell scan collapses the
corpus into an eagerly localCheckpointed cell frame (the input is
referenced by several downstream frames — lazy, the compiled plan
re-derived it per reference; the q250 IPF lesson), so the corpus is
scanned exactly ONCE regardless of plan fan-out; the rank window is
partitioned by (key, block) — millions of tiny partitions, never a
funnel; the rest is two stacked keyed aggregations (per treatment,
then per key) left-joined to the treatment counts.
Keys-with-no-complete-blocks still emit their row (n_blocks 0, t
NULL — the mannkendall posture).

Scope note: the reference app has no blocked-design surface — this
completes the rank family (Mann–Whitney q238, Spearman/Kendall q245,
Kruskal–Wallis q251) with its repeated-measures omnibus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magi_etl_spark.chkpt import materialize

_DEC = "decimal(38,0)"


def friedman_test(
    df: DataFrame,
    key_cols: list[str],
    block_col: str,
    treatment_col: str,
    value: Column,
    round_dp: int = 6,
) -> DataFrame:
    """``*key_cols, k_treat, n_blocks, t`` — the tie-corrected Friedman
    statistic per key over integer ``value``, ranking the
    ``treatment_col`` samples within each ``block_col`` block.  Rows
    with a null value, block, or treatment are dropped (a null has no
    rank; engines order nulls differently — the kstest lesson); the
    input must hold at most ONE row per (key, block, treatment) —
    pre-aggregate upstream (a block with duplicates fails the
    completeness count and is dropped).  Keys with fewer than 2
    treatments, no complete blocks, or every block internally tied
    emit t NULL (the mannkendall posture: the row is present, the
    statistic is undefined).

    Eager: the cell frame and the complete-block frame pass
    ``chkpt.materialize`` barriers at call time (the q250 posture), so
    construction runs two bounded barriers."""
    if not key_cols:
        raise ValueError(
            "key_cols must be non-empty (the treatment/tie frames join "
            "on them); for a global test, add a constant key column "
            "upstream"
        )
    reserved = {
        "k_treat", "n_blocks", "t",
        "_b", "_g", "_x", "_a", "_cnt", "_nb", "_r2", "_a2", "_s2",
    } & (set(key_cols) | {block_col, treatment_col})
    if reserved:
        raise ValueError(
            f"key/block/treatment columns collide with working columns: "
            f"{sorted(reserved)}"
        )
    # the cell frame is referenced by several downstream frames
    # (k-count, completeness filter, ranks) — left lazy, the
    # compiled plan re-derives the input per reference (20 corpus scans
    # at audit; the q250 IPF lesson), so it is materialized ONCE via
    # chkpt.materialize (eager localCheckpoint in the sandbox; the
    # chkpt module picks the cluster-safe barrier — never a bare
    # persist(), the dbscan cache-manager lesson).  Bounded by keys x
    # blocks x treatments under the
    # one-row-per-cell contract.
    base = (
        df.select(
            *key_cols,
            F.col(block_col).alias("_b"),
            F.col(treatment_col).alias("_g"),
            value.cast("long").alias("_x"),
        )
        .where(
            F.col("_x").isNotNull()
            & F.col("_b").isNotNull()
            & F.col("_g").isNotNull()
        )
        .transform(materialize)
    )
    # k over ALL the key's rows (see module docstring)
    kt = base.groupBy(*key_cols).agg(
        F.countDistinct("_g").alias("k_treat")
    )
    # complete blocks: exactly one row per treatment, every treatment
    blocks = (
        base.groupBy(*key_cols, "_b")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.countDistinct("_g").alias("_nb"),
        )
        .join(kt, key_cols)
        .where(
            (F.col("_cnt") == F.col("k_treat"))
            & (F.col("_nb") == F.col("k_treat"))
        )
        .select(*key_cols, "_b")
    )
    # the complete-block cell frame is checkpointed for the same reason
    # as base (a strict subset of it, so the same bound)
    cc = base.join(blocks, [*key_cols, "_b"]).transform(materialize)
    w = Window.partitionBy(*key_cols, "_b").orderBy("_x")
    ranked = cc.select(
        *key_cols,
        "_g",
        (
            F.rank().over(w)
            + F.count(F.lit(1)).over(
                w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
        .cast(_DEC)
        .alias("_a"),
    )
    # a complete block holds every treatment exactly once, so each
    # treatment's row count is n
    per_treat = ranked.groupBy(*key_cols, "_g").agg(
        F.sum("_a").alias("_r2"),
        F.sum(F.col("_a") * F.col("_a")).alias("_a2"),
        F.count(F.lit(1)).alias("_nb"),
    )
    per_key = per_treat.groupBy(*key_cols).agg(
        F.max("_nb").alias("n_blocks"),
        F.sum("_a2").alias("_a2"),
        F.sum(F.col("_r2") * F.col("_r2")).alias("_s2"),
    )
    n = F.col("n_blocks").cast(_DEC)
    k = F.col("k_treat").cast(_DEC)
    num = F.col("_s2") - n * n * k * (k + 1) * (k + 1)
    den = F.col("_a2") - n * k * (k + 1) * (k + 1)
    return (
        kt.join(per_key, key_cols, "left")
        .select(
            *key_cols,
            "k_treat",
            F.coalesce(F.col("n_blocks"), F.lit(0)).alias("n_blocks"),
            F.when(
                (F.col("k_treat") >= 2)
                & (F.col("n_blocks") >= 1)
                & (den > 0),
                F.round(
                    (F.col("k_treat") - 1).cast("double")
                    * num.cast("double")
                    / den.cast("double"),
                    round_dp,
                ),
            ).alias("t"),
        )
    )
