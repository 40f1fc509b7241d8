"""Distributed global rank + running total: the two-pass
range-partitioned prefix sum.

A global cumulative sum is the classic "needs one ORDER BY everything"
trap — a single-partition window that serializes the whole frame through
one task.  This operator computes it in parallel instead:

1. Range-partition on the order key (sampled boundaries), materialize
   ONCE (an eager ``chkpt.materialize`` barrier) so every consumer
   reads the same partition assignment — ReusedExchange de-duplication
   is an optimizer feature, not a correctness guarantee, because sampled
   boundaries can differ between independent materializations.
2. Per-partition local rank/cumsum with a window PARTITIONED BY the
   physical partition id (fully parallel).
3. Aggregate one ``(rows, sum)`` pair per partition — a P-row frame —
   take its exclusive prefix, broadcast the offsets back.

Global rank/cum = local + offset.  The order key must be unique per row
so range boundaries can never split a tie and the output is
partitioning-independent.

Shared by the vocabulary-coverage cut (q63) and the token-budget corpus
selection (q94); any "take items in priority order until a budget is
exhausted" pipeline stage reduces to this shape.

``num_partitions`` is a pure parallelism knob — the output is
partitioning-independent (unique order keys), so at cluster scale pass
the session's ``spark.sql.shuffle.partitions`` (or a data-derived
count) rather than relying on the local-testing default; the newer
callers (``operators/fdr.py``) derive it from the session conf.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def ranked_prefix_sum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    num_partitions: int = 32,
    include_total: bool = False,
) -> DataFrame:
    """All input columns + ``rank`` (1-based global position in ``order``)
    and ``cum`` (running total of ``value_col`` through this row);
    ``include_total`` adds a broadcast ``total`` column."""
    from magi_etl_spark.chkpt import materialize
    from magi_etl_spark.functions import pinned_partition

    parts = materialize(
        df.repartitionByRange(num_partitions, *order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    local_w = W.partitionBy("_pid").orderBy(*order)
    local = parts.select(
        "*",
        F.row_number().over(local_w).alias("_lrank"),
        F.sum(value_col)
        .over(local_w.rowsBetween(W.unboundedPreceding, 0))
        .alias("_lcum"),
    )
    ptotals = parts.groupBy("_pid").agg(
        F.count("*").alias("_rows"), F.sum(value_col).alias("_sum")
    )
    off_w = (
        W.partitionBy(pinned_partition("_pid"))
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = ptotals.select(
        "_pid",
        F.coalesce(F.sum("_rows").over(off_w), F.lit(0)).alias("_rank_off"),
        F.coalesce(F.sum("_sum").over(off_w), F.lit(0)).alias("_cum_off"),
    )
    out = local.join(F.broadcast(offsets), "_pid").select(
        *df.columns,
        (F.col("_lrank") + F.col("_rank_off")).alias("rank"),
        (F.col("_lcum") + F.col("_cum_off")).alias("cum"),
    )
    if include_total:
        total = ptotals.agg(F.sum("_sum").alias("total"))
        out = out.join(F.broadcast(total))
    return out
