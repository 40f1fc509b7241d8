"""Round-14 ADVICE regression tests (the 11-for-11 habit).

r13 ADVICE items, each pinned here:
1. (low) rankcorr's new ``max_cells`` guard runs an eager collect (a
   full scan + two aggregations) on every ``kendall_tau_b`` call, and
   q245 kept the default — so the guard job executed INSIDE the
   bench's timed region for a headline query, a wall regression with
   zero plan-fingerprint change.  q245 now passes ``max_cells=None``
   (its cells are day-bounded by construction and were validated when
   the query was authored); pinned by asserting the q245 DataFrame is
   constructed with ZERO Spark jobs.
2. (low) ``kruskal_wallis`` accepted an empty ``key_cols`` list but
   ``terms.join(ties, [])`` degenerates into a cross join / analysis
   error; it now raises the same loud 'must be non-empty' ValueError
   ``pagehinkley.py`` uses.  ``weighted_kappa`` (the other site the
   ADVICE named — ``obs.join(exp, [])`` / ``rm.join(cm, [])``) grows
   the same guard.
3. (low) ``wkappa``'s reserved-name collision check missed the later
   working columns ``_rowc/_colc/_vo/_ve`` — a group column named
   ``_rowc`` silently collided in the marginal-cross join instead of
   failing loudly.  The reserved set now covers every working column,
   matching the raking/pagehinkley convention; the same sweep closed
   the sibling gaps in ``kruskal`` (``_ng/_r2/_t6/_t/_tie3``),
   ``brier`` (``_sp/_sy/_sse``) and ``pagehinkley``
   (``_ni/_admax/_cpt``) — all still-staged modules, zero rule-2 cost.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- 1: q245 builds its plan with zero eager jobs ---------------------------


def test_q245_constructs_lazily_no_guard_job(spark, sf_dir, jobs_run):
    from magi_etl_spark.queries.extensions_r12 import q245_rank_correlation

    # warm the memoized parquet catalog first: in a fresh session the
    # FIRST load_table runs one file-listing/schema job that is not the
    # guard pass this test pins
    q245_rank_correlation(spark, sf_dir)
    df, jobs = jobs_run(
        "r14fix-q245-construct", lambda: q245_rank_correlation(spark, sf_dir)
    )
    assert jobs == 0, (
        f"constructing q245 ran {jobs} eager job(s) — the "
        "max_cells guard pass is back inside the bench's timed region"
    )
    # and the plan still computes (the guard skip changed no semantics)
    assert {"event_type", "n", "rho", "tau_b"} <= set(df.columns)


def test_kendall_max_cells_none_skips_guard_but_default_still_bites(spark, jobs_run):
    from magi_etl_spark.operators.rankcorr import kendall_tau_b

    df = spark.range(40).select(
        F.lit("g").alias("g"),
        F.col("id").alias("x"),
        (F.col("id") * 7 % 40).alias("y"),
    )
    # default guard fires on 40 distinct cells with a tiny bound
    with pytest.raises(ValueError, match="max_cells"):
        kendall_tau_b(df, ["g"], F.col("x"), F.col("y"), max_cells=10)
    # None skips the validation pass entirely: construction is lazy
    out, jobs = jobs_run(
        "r14fix-kendall-none",
        lambda: kendall_tau_b(df, ["g"], F.col("x"), F.col("y"), max_cells=None),
    )
    assert jobs == 0
    assert out.collect()[0].n == 40


# --- 2: empty key lists fail loudly, not as degenerate joins ----------------


def test_kruskal_empty_key_cols_raises(spark):
    from magi_etl_spark.operators.kruskal import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "grp string, x int"
    )
    with pytest.raises(ValueError, match="non-empty"):
        kruskal_wallis(df, [], "grp", F.col("x"))


def test_weighted_kappa_empty_group_cols_raises(spark):
    from magi_etl_spark.operators.wkappa import weighted_kappa

    df = spark.createDataFrame([(1, 1), (2, 3)], "r1 int, r2 int")
    with pytest.raises(ValueError, match="non-empty"):
        weighted_kappa(df, [], F.col("r1"), F.col("r2"))


# --- 3: reserved sets cover EVERY working column ----------------------------


def test_wkappa_reserved_set_covers_working_columns(spark):
    from magi_etl_spark.operators.wkappa import weighted_kappa

    df = spark.createDataFrame(
        [("g", 1, 1)], "_rowc string, r1 int, r2 int"
    )
    with pytest.raises(ValueError, match="_rowc"):
        weighted_kappa(df, ["_rowc"], F.col("r1"), F.col("r2"))


def test_sibling_reserved_sets_cover_working_columns(spark):
    from magi_etl_spark.operators.brier import reliability_brier_bins
    from magi_etl_spark.operators.kruskal import kruskal_wallis
    from magi_etl_spark.operators.pagehinkley import cusum_change_point

    kdf = spark.createDataFrame(
        [("k", "a", 1)], "_tie3 string, grp string, x int"
    )
    with pytest.raises(ValueError, match="_tie3"):
        kruskal_wallis(kdf, ["_tie3"], "grp", F.col("x"))

    bdf = spark.createDataFrame([("g", 500_000, 1)], "_sse string, p long, y int")
    with pytest.raises(ValueError, match="_sse"):
        reliability_brier_bins(bdf, ["_sse"], F.col("p"), F.col("y"))

    pdf = spark.createDataFrame([("s", 1, 1)], "_admax string, t int, x int")
    with pytest.raises(ValueError, match="_admax"):
        cusum_change_point(pdf, ["_admax"], "t", F.col("x"))
