"""Round-15 ADVICE regression tests (the 13-for-13 habit).

r14 ADVICE items, each pinned here:
1. (low) ``cucconi_test`` documented that rows with a NULL
   ``in_first`` indicator are dropped (the kstest posture) but
   ``F.when(in_first, 1).otherwise(0)`` mapped NULL to 0, silently
   assigning null-indicator rows to sample 2 and making the
   ``_s.isNotNull()`` filter vacuous.  The indicator now uses
   ``.when(in_first, 1).when(~in_first, 0)`` (NULL stays NULL) so the
   filter genuinely drops those rows; pinned by asserting the result
   with null-indicator rows present equals the result with them
   pre-filtered.
2. (low) ``calibration_error``'s reserved-name guard checked ``_d6`` (an
   expression alias never materialized as a column) but missed the
   real working aggregate columns ``_num`` and ``_mx`` — a group
   column named either failed with a confusing duplicate-column
   AnalysisException instead of the family's loud ValueError.
3. (low) the eager-``localCheckpoint`` construction contract is now
   (a) documented at the operator API level (``funnel_stages``
   docstring) and (b) escapable via the new process-wide
   ``magi_etl_spark.chkpt`` knob — ``local`` (sandbox default),
   ``reliable`` (cluster checkpoint dir), ``off`` (plan-only tooling).
   The r14-wave operators route through ``chkpt.materialize``;
   exercised here in local and off modes on ``friedman_test`` (the r14
   VERDICT item-4 "one test exercising both modes"); ``reliable`` runs
   against the oracles in ``tests/test_chkpt_single_path.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

_CUCCONI_ROWS = [
    ("a", 1, 4),
    ("a", 1, 7),
    ("a", 1, 9),
    ("a", 0, 5),
    ("a", 0, 5),
    ("a", 0, 12),
    ("a", 0, 2),
]


# --- 1: cucconi NULL indicators are dropped, not assigned to sample 2 ------


def test_cucconi_null_indicator_rows_are_dropped(spark):
    from magi_etl_spark.operators.cucconi import cucconi_test

    clean = spark.createDataFrame(_CUCCONI_ROWS, "key string, s int, x int")
    noisy = spark.createDataFrame(
        _CUCCONI_ROWS + [("a", None, 6), ("a", None, 100)],
        "key string, s int, x int",
    )
    want = cucconi_test(clean, ["key"], F.col("s") == 1, F.col("x")).collect()
    got = cucconi_test(noisy, ["key"], F.col("s") == 1, F.col("x")).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want], (
        "rows with a NULL in_first indicator must be dropped (the "
        "documented contract), not silently counted in sample 2"
    )
    # and the drop really removed them from n2 (the old bug inflated n2)
    assert got[0]["n2"] == 4


# --- 2: ece reserved-name guard covers the real working columns ------------


@pytest.mark.parametrize("bad", ["_num", "_mx"])
def test_ece_rejects_working_column_collisions(spark, bad):
    from magi_etl_spark.operators.ece import calibration_error

    bins = spark.createDataFrame(
        [("a", 0, 10, 0.1, 0.2)],
        f"{bad} string, bin int, n long, mean_p double, event_rate double",
    )
    with pytest.raises(ValueError, match="collide"):
        calibration_error(bins, [bad])


# --- 3: the checkpoint-mode knob -------------------------------------------

_FRIEDMAN_ROWS = [
    ("k", b, g, v)
    for b, vals in enumerate([(3, 1, 2), (5, 4, 6), (2, 2, 2), (9, 7, 8)])
    for g, v in zip("xyz", vals)
]


def _friedman(spark):
    from magi_etl_spark.operators.friedman import friedman_test

    df = spark.createDataFrame(
        _FRIEDMAN_ROWS, "key string, b int, g string, v int"
    )
    return friedman_test(df, ["key"], "b", "g", F.col("v")).collect()


def test_checkpoint_modes_agree_on_a_checkpointing_operator(spark, checkpoint_mode):
    base = _friedman(spark)
    assert base and base[0]["n_blocks"] == 4
    checkpoint_mode("off")
    assert _friedman(spark) == base, "mode off changed results"


def test_checkpoint_mode_off_constructs_plan_only(spark, jobs_run, checkpoint_mode):
    """off-mode is the plan-only opt-out: constructing a routed
    operator's DataFrame must run ZERO Spark jobs."""
    from fractions import Fraction

    from magi_etl_spark.operators.behavior import funnel_stages
    from magi_etl_spark.operators.friedman import friedman_test
    from magi_etl_spark.operators.prefix import ranked_prefix_sum
    from magi_etl_spark.operators.setjoin import (
        longest_common_runs,
        similarity_join,
    )

    df = spark.createDataFrame(
        _FRIEDMAN_ROWS, "key string, b int, g string, v int"
    )
    events = spark.createDataFrame(
        [(1, "2025-01-01 00:00:00", "view"), (1, "2025-01-01 00:05:00", "buy")],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sets = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "doc_id long, tok string"
    )
    positions = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "a")], "doc_id long, pos int, tok string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")

    def construct():
        friedman_test(df, ["key"], "b", "g", F.col("v"))
        funnel_stages(events, ["view", "buy"])
        similarity_join(sets, Fraction(1, 2))
        longest_common_runs(pairs, positions)
        ranked_prefix_sum(sets, [F.col("doc_id"), F.col("tok")], "doc_id")

    checkpoint_mode("off")
    _, jobs = jobs_run("r15fix-chkpt-off-construct", construct)
    assert jobs == 0, f"off-mode construction ran {jobs} eager job(s)"


def test_checkpoint_mode_validates_names():
    from magi_etl_spark import chkpt

    for name in ("banana", "persist"):
        with pytest.raises(ValueError, match="not one of"):
            chkpt.set_checkpoint_mode(name)
    assert chkpt.checkpoint_mode() in ("local", "reliable", "off")
