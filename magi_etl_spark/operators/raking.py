"""Survey raking / iterative proportional fitting (Deming & Stephan
1940) — calibrate cell weights over a two-way contingency table so the
weighted marginals match known target totals, the standard estimator
for re-weighting a biased observation window (a half-period sample, an
instrumented subset) back to known population margins.

The fit alternates row and column scalings for a BOUNDED number of
rounds (the caller's knob — IPF converges geometrically, and an
unrolled fixed-round trace is exactly reproducible by a SQL oracle,
the maxcover q230 pattern):

    w <- round(w * T_row / S_row)   then   w <- round(w * T_col / S_col)

Engine parity (the repo's integer-grid posture): weights live on an
integer MICRO grid (``unit`` = 1e6 per source row), every marginal sum
is an exact decimal(38,0) integer, and each scaling is ONE double
ratio (target*unit / marginal-sum, fixed operand order) applied per
cell and rounded straight back to the integer grid — so the only
float arithmetic is a per-cell multiply both engines evaluate
identically, never an order-dependent float sum.  A zero or missing
marginal leaves the cell weights unchanged (nothing to calibrate to).

Scale shape: each half-round is one keyed aggregation over the cells
plus one keyed join back — work rides the CELL table (category
cardinality x category cardinality), never the corpus; the corpus is
scanned exactly three times (cells + the two marginal builds),
REGARDLESS of rounds: the cell frame is materialized by an eager
``chkpt`` barrier before the loop and after every half-round (the
lsh_index/components pattern — blocks are ContextCleaner-released,
nothing registers in the cache manager).  Without the checkpoints the
scaling recurrence doubles the lazy plan per half-round — the first
draft compiled 3 rounds into a 1,916-line physical plan with 446
exchanges re-deriving the corpus scan per marginal, caught by this
round's staged plan audit.

Scope note: the reference app has no calibration-weighting surface —
this extends the exact-statistics family (CMH q242, CUPED q232) with
the survey-weighting estimator a biased-window readout needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize

_DEC = "decimal(38,0)"


def _scale(cur: DataFrame, cat: str, tgt: str, unit: int) -> DataFrame:
    """One IPF half-round: scale ``w`` so the ``cat`` marginals hit
    ``tgt`` (a per-cell target column riding since the input join)."""
    s = cur.groupBy(cat).agg(F.sum(F.col("w").cast(_DEC)).alias("_s"))
    ratio = (F.col(tgt).cast("double") * F.lit(float(unit))) / F.col(
        "_s"
    ).cast("double")
    return (
        cur.join(s, cat)
        .withColumn(
            "w",
            F.when(
                (F.col("_s") > 0) & (F.col(tgt) > 0),
                F.round(F.col("w").cast("double") * ratio).cast("long"),
            ).otherwise(F.col("w")),
        )
        .drop("_s")
    )


def rake_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: DataFrame,
    col_targets: DataFrame,
    rounds: int = 3,
    unit: int = 1_000_000,
) -> DataFrame:
    """``row_col, col_col, n, w_micro`` — the raked weight (micro-units
    of rows, ``unit`` per observed row) for every observed cell of the
    ``row_col`` x ``col_col`` table after ``rounds`` alternating
    row/column scalings.  ``row_targets`` / ``col_targets`` carry
    columns ``(row_col|col_col, target)`` with target ROW counts;
    cells whose category has no target row are dropped up front (no
    margin to calibrate to — the IPF contract), and a zero target or
    zero marginal leaves that scaling as a no-op.  Null categories are
    dropped (engines order/group nulls differently, the kstest
    lesson)."""
    if int(rounds) < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds!r}")
    if int(unit) < 1:
        raise ValueError(f"unit must be >= 1, got {unit!r}")
    reserved = {"n", "w", "w_micro", "_tr", "_tc", "_s"} & {row_col, col_col}
    if reserved:
        raise ValueError(
            f"category columns collide with working columns: {sorted(reserved)}"
        )
    cells = (
        df.where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(row_col, col_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.col("n") * F.lit(int(unit)))
    )
    rt = row_targets.select(
        row_col, F.col("target").cast("long").alias("_tr")
    ).where(F.col("_tr").isNotNull())
    ct = col_targets.select(
        col_col, F.col("target").cast("long").alias("_tc")
    ).where(F.col("_tc").isNotNull())
    # eager checkpoint per half-round: the frame is cell-table-sized
    # (category cross, the documented contract), so materializing it is
    # O(categories²) while keeping the plan linear in rounds and the
    # corpus scan count at three
    cur = materialize(cells.join(rt, row_col).join(ct, col_col))
    for _ in range(int(rounds)):
        cur = materialize(_scale(cur, row_col, "_tr", int(unit)))
        cur = materialize(_scale(cur, col_col, "_tc", int(unit)))
    return cur.select(
        row_col, col_col, "n", F.col("w").alias("w_micro")
    )
