"""Round-13 ADVICE regression tests (the 8-for-8 habit).

r12 ADVICE items + the r12 verdict nit, each pinned here:
1. (low) mannkendall.py promised that series with n < 2 emit z NULL,
   but the inner join ``ties.join(s, series_cols)`` dropped
   single-observation series entirely (no pair row in ``s``, so the
   n >= 2 guard was dead code).  The pair aggregate is now LEFT-joined
   with S coalescing to the empty-sum value 0.
2. (low) q246's DuckDB oracle counted null-day rows into n and the tie
   terms while ``mann_kendall_trend`` drops null-order rows — latent
   (the committed test data has no null ts) but a hash-parity break on
   any future data with null timestamps.  The oracle's daily CTE now
   filters ``ts IS NOT NULL``; parity is pinned here on a fixture that
   HAS null timestamps and an n=1 series.
3. (low) dbscan.py persisted ``pairs``/``cores`` without ever
   unpersisting, leaking cache-manager entries per call in a
   long-lived session.  Both frames now ride eager localCheckpoint
   (the lsh_index.py r5 lesson): blocks are released by the
   ContextCleaner when the result goes out of scope and the SQL cache
   manager stays empty.
4. (verdict nit) rankcorr.py's Kendall cells^2 stage was bound by a
   documented contract with nothing guarding it; ``kendall_tau_b`` now
   takes ``max_cells`` (default 10k) and fails loudly when any group
   exceeds it, with ``None`` to skip the validation pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_harness import compare


# --- 1: n = 1 series emit a (s=0, z NULL) row instead of vanishing ----------


def test_mann_kendall_single_observation_series_emits_znull_row(spark):
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 15), ("b", 1, 7)],
        "series string, t int, x int",
    )
    rows = {
        r.series: r
        for r in mann_kendall_trend(df, ["series"], "t", F.col("x")).collect()
    }
    assert set(rows) == {"a", "b"}  # the n=1 series is present
    b = rows["b"]
    assert (b.n, b.s, b.var_s18, b.z) == (1, 0, 0, None)
    # the multi-point series is untouched by the left-join change
    a = rows["a"]
    assert (a.n, a.s) == (3, 1)  # pairs: 10<20 +1, 10<15 +1, 20>15 -1


def test_mann_kendall_all_values_tied_emits_znull_not_drop(spark):
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 5), ("a", 3, 5)], "series string, t int, x int"
    )
    row = mann_kendall_trend(df, ["series"], "t", F.col("x")).collect()[0]
    assert (row.n, row.s, row.var_s18, row.z) == (3, 0, 0, None)


# --- 2: the q246 oracle drops null-day rows and keeps n=1 series ------------


def test_q246_oracle_parity_on_null_ts_and_singleton_series(spark):
    """Replays the q246 pipeline (daily count series -> mann_kendall)
    against the q246 ORACLE SQL on a fixture with (a) null timestamps
    and (b) an event type whose only rows are null-ts — the two shapes
    the r12 ADVICE flagged as hash-parity breaks."""
    import duckdb

    from magi_etl_spark.operators.mannkendall import mann_kendall_trend
    from magi_etl_spark.queries import ORACLE

    rows = [
        # 'view': 3 real days (counts 2, 1, 1) plus one null-ts row that
        # must NOT count toward n or the ties
        ("view", "2024-01-01 12:00:00"),
        ("view", "2024-01-01 13:00:00"),
        ("view", "2024-01-02 12:00:00"),
        ("view", "2024-01-03 12:00:00"),
        ("view", None),
        # 'click': one real day -> an n=1 series (s=0, z NULL)
        ("click", "2024-01-05 12:00:00"),
        # 'ghost': ONLY null-ts rows -> no series at all on either side
        ("ghost", None),
        ("ghost", None),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts string").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    got = mann_kendall_trend(daily, ["event_type"], "day", F.col("x"))
    by_type = {r.event_type: r for r in got.collect()}
    assert set(by_type) == {"view", "click"}  # ghost gone, click kept
    assert by_type["view"].n == 3  # the null-ts row did not inflate n
    assert (by_type["click"].n, by_type["click"].s) == (1, 0)
    assert by_type["click"].z is None

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{t}', " + (f"TIMESTAMP '{ts}'" if ts else "NULL::TIMESTAMP") + ")"
            for t, ts in rows
        )
        + ") AS v(event_type, ts)"
    )
    ok, msg = compare(got, con, ORACLE["q246_mann_kendall_trend"])
    assert ok, msg


# --- 3: grid_dbscan leaves no cache-manager entries behind ------------------


def test_grid_dbscan_leaves_sql_cache_manager_empty(spark):
    from magi_etl_spark.operators.dbscan import grid_dbscan

    spark.catalog.clearCache()
    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 0), (3, 2, 0), (4, 100, 100), (5, 101, 100)],
        "id long, x long, y long",
    )
    out = grid_dbscan(pts, eps=2, min_pts=3).collect()
    assert len(out) == 5
    # the old persist() registered pairs+cores in the SQL cache manager
    # and never released them; localCheckpoint must not register at all
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --- 4: kendall_tau_b enforces its cells^2 contract --------------------------


def test_kendall_tau_b_rejects_cell_blowup(spark):
    from magi_etl_spark.operators.rankcorr import kendall_tau_b

    df = spark.createDataFrame(
        [("g", i, i * 7 % 13) for i in range(30)], "g string, x int, y int"
    )
    with pytest.raises(ValueError, match="max_cells"):
        kendall_tau_b(df, ["g"], F.col("x"), F.col("y"), max_cells=10)
    # None skips the validation pass; the join itself still works
    row = kendall_tau_b(
        df, ["g"], F.col("x"), F.col("y"), max_cells=None
    ).collect()[0]
    assert row.n == 30 and row.tau_b is not None
    # within contract -> no error, identical result
    row2 = kendall_tau_b(
        df, ["g"], F.col("x"), F.col("y"), max_cells=30
    ).collect()[0]
    assert (row2.n, row2.tau_b) == (row.n, row.tau_b)


# --- sibling sweep: acf short-series lags are OMITTED (doc now says so) ------


def test_acf_short_series_lags_are_omitted_not_null(spark):
    """The r13 sibling sweep of the mannkendall docstring-drift class:
    acf's docstring promised r_k = NULL for k >= n while the code (and
    the green q240 oracle) OMIT those rows.  Behavior is the contract
    the gate verified, so the docstring was fixed to match — this pins
    the omission so the two can't drift apart again."""
    from pyspark.sql import functions as F

    from magi_etl_spark.operators.acf import autocorrelation

    df = spark.createDataFrame(
        [("s", 1, 4), ("s", 2, 9)], "g string, t int, x int"
    )
    rows = autocorrelation(df, ["g"], "t", F.col("x"), 3).collect()
    assert [r.k for r in rows] == [1]  # k=2,3 have no pairs -> no rows
