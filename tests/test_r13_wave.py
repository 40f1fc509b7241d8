"""Hand-fixture semantics for the round-13 operator wave (q250-q255,
queries/extensions_r13.py).  Every operator is
cross-checked against a small pure-Python reference where the math is
nontrivial; edge guards (n=1 series, constant inputs, null drops,
reserved names) are pinned individually.  The driver-shaped hash
comparison for the queries lives in tests/test_queries_oracle.py.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _half_up(x: float) -> int:
    # Spark F.round / DuckDB ROUND use half-up on positives; Python's
    # built-in round is banker's — fixtures avoid exact .5 products,
    # so floor(x + 0.5) is the faithful positive-domain replica
    return math.floor(x + 0.5)


# --- raking / IPF -------------------------------------------------------------


def _ref_rake(cells, rt, ct, rounds, unit=1_000_000):
    w = {k: n * unit for k, n in cells.items()}
    for _ in range(rounds):
        for cat, t in rt.items():
            s = sum(v for (r, _), v in w.items() if r == cat)
            if s > 0 and t > 0:
                ratio = float(t) * float(unit) / float(s)
                for k in list(w):
                    if k[0] == cat:
                        w[k] = _half_up(w[k] * ratio)
        for cat, t in ct.items():
            s = sum(v for (_, c), v in w.items() if c == cat)
            if s > 0 and t > 0:
                ratio = float(t) * float(unit) / float(s)
                for k in list(w):
                    if k[1] == cat:
                        w[k] = _half_up(w[k] * ratio)
    return w


def test_rake_weights_matches_pure_python(spark):
    from magi_etl_spark.operators.raking import rake_weights

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 5 + [("b", "y")] * 25
    )
    df = spark.createDataFrame(rows, "r string, c string")
    rt = spark.createDataFrame([("a", 60), ("b", 40)], "r string, target long")
    ct = spark.createDataFrame([("x", 55), ("y", 45)], "c string, target long")
    got = {
        (row.r, row.c): row.w_micro
        for row in rake_weights(df, "r", "c", rt, ct, rounds=3).collect()
    }
    want = _ref_rake(
        {("a", "x"): 30, ("a", "y"): 10, ("b", "x"): 5, ("b", "y"): 25},
        {"a": 60, "b": 40},
        {"x": 55, "y": 45},
        rounds=3,
    )
    assert got == want
    # after 3 rounds the column marginals (the last scaling) are exact
    # and the row marginals are within rounding slack of their targets
    col_x = sum(v for (r, c), v in got.items() if c == "x")
    assert abs(col_x - 55_000_000) <= 2  # integer-grid rounding slack


def test_rake_weights_zero_target_is_a_noop_and_nulls_drop(spark):
    from magi_etl_spark.operators.raking import rake_weights

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", None), (None, "x")],
        "r string, c string",
    )
    rt = spark.createDataFrame([("a", 0)], "r string, target long")
    ct = spark.createDataFrame([("x", 0)], "c string, target long")
    rows = rake_weights(df, "r", "c", rt, ct, rounds=2).collect()
    # null-category rows dropped; zero targets leave base weights
    assert len(rows) == 1
    assert (rows[0].r, rows[0].c, rows[0].n, rows[0].w_micro) == (
        "a", "x", 2, 2_000_000,
    )


def test_rake_weights_rejects_bad_params(spark):
    from magi_etl_spark.operators.raking import rake_weights

    df = spark.createDataFrame([("a", "x")], "r string, c string")
    t = spark.createDataFrame([("a", 1)], "r string, target long")
    with pytest.raises(ValueError, match="rounds"):
        rake_weights(df, "r", "c", t, t, rounds=0)
    with pytest.raises(ValueError, match="collide"):
        rake_weights(
            df.withColumnRenamed("r", "w"), "w", "c", t, t
        )


# --- Kruskal-Wallis -------------------------------------------------------------


def _ref_kruskal(groups):
    from collections import Counter

    vals = [v for g in groups.values() for v in g]
    cnt = Counter(vals)
    avg, acc = {}, 0
    for v in sorted(cnt):
        avg[v] = acc + (cnt[v] + 1) / 2
        acc += cnt[v]
    n = len(vals)
    h = (
        12.0 / (n * (n + 1))
        * sum(sum(avg[v] for v in g) ** 2 / len(g) for g in groups.values())
        - 3.0 * (n + 1)
    )
    c = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    return h / c


def test_kruskal_matches_pure_python(spark):
    from magi_etl_spark.operators.kruskal import kruskal_wallis

    groups = {
        "g1": [7, 3, 3, 9, 12],
        "g2": [5, 5, 8, 1],
        "g3": [14, 3, 10, 10, 2, 6],
    }
    rows = [("k", g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "key string, g string, x int")
    row = kruskal_wallis(df, ["key"], "g", F.col("x")).collect()[0]
    assert (row.k_groups, row.n) == (3, 15)
    assert row.h == pytest.approx(_ref_kruskal(groups), abs=1e-4)


def test_kruskal_degenerate_keys_emit_null(spark):
    from magi_etl_spark.operators.kruskal import kruskal_wallis

    rows = (
        # one group only -> NULL
        [("k1", "a", v) for v in (1, 2, 3)]
        # all values tied across two groups -> NULL (corr = 0)
        + [("k2", "a", 5), ("k2", "a", 5), ("k2", "b", 5)]
        # n = 1 -> NULL
        + [("k3", "a", 9)]
        # nulls drop (value and group)
        + [("k4", "a", 1), ("k4", "b", 2), ("k4", None, 3), ("k4", "b", None)]
    )
    df = spark.createDataFrame(rows, "key string, g string, x int")
    got = {r.key: r for r in kruskal_wallis(df, ["key"], "g", F.col("x")).collect()}
    assert got["k1"].h is None and got["k1"].k_groups == 1
    assert got["k2"].h is None
    assert got["k3"].h is None and got["k3"].n == 1
    assert got["k4"].n == 2 and got["k4"].h is not None


def test_kruskal_two_groups_squares_the_mannwhitney_z(spark):
    # with k = 2 and no ties, H equals the squared standardized
    # Mann-Whitney U — an independent closed form
    from magi_etl_spark.operators.kruskal import kruskal_wallis

    g1, g2 = [1, 4, 6, 10], [2, 3, 8, 12, 15]
    rows = [("k", "a", v) for v in g1] + [("k", "b", v) for v in g2]
    df = spark.createDataFrame(rows, "key string, g string, x int")
    row = kruskal_wallis(df, ["key"], "g", F.col("x")).collect()[0]
    n1, n2 = len(g1), len(g2)
    u = sum(1 for a in g1 for b in g2 if a > b)
    z = (u - n1 * n2 / 2) / math.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0)
    assert row.h == pytest.approx(z * z, abs=1e-4)


# --- CUSUM localization ---------------------------------------------------------


def test_cusum_change_point_finds_the_shift(spark):
    from magi_etl_spark.operators.pagehinkley import cusum_change_point

    rows = [("s", i, 0 if i <= 3 else 10) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "series string, t int, x int")
    row = cusum_change_point(df, ["series"], "t", F.col("x")).collect()[0]
    # D_t = 6*C_t - t*30 peaks (in |.|) at t=3: |0-90| = 90
    assert (row.n, row.cp) == (6, 3)
    assert row.dmax == pytest.approx(90 / 6, abs=1e-9)


def test_cusum_change_point_tie_breaks_earliest(spark):
    from magi_etl_spark.operators.pagehinkley import cusum_change_point

    # symmetric bump: |D| ties at t=1 and t=2 -> earliest wins
    rows = [("s", 1, 0), ("s", 2, 3), ("s", 3, 0)]
    df = spark.createDataFrame(rows, "series string, t int, x int")
    row = cusum_change_point(df, ["series"], "t", F.col("x")).collect()[0]
    assert row.cp == 1 and row.dmax == pytest.approx(3 / 3, abs=1e-9)


def test_cusum_change_point_edges(spark):
    from magi_etl_spark.operators.pagehinkley import cusum_change_point

    rows = (
        [("const", i, 7) for i in range(1, 5)]
        + [("single", 1, 3)]
        + [("nullish", 1, 1), ("nullish", 2, None), ("nullish", None, 5)]
    )
    df = spark.createDataFrame(rows, "series string, t int, x int")
    got = {
        r.series: r
        for r in cusum_change_point(df, ["series"], "t", F.col("x")).collect()
    }
    assert got["const"].cp is None and got["const"].dmax == 0.0
    assert got["single"].cp is None and got["single"].dmax is None
    assert got["nullish"].n == 1  # both null rows dropped
    with pytest.raises(ValueError, match="non-empty"):
        cusum_change_point(df, [], "t", F.col("x"))


# --- Brier / reliability ---------------------------------------------------------


def test_brier_bins_exact_hand_values(spark):
    from magi_etl_spark.operators.brier import reliability_brier_bins

    rows = [
        ("g", 0, 0),          # bin 0, err 0
        ("g", 100_000, 1),    # bin 1, err -900000
        ("g", 150_000, 0),    # bin 1, err 150000
        ("g", 1_000_000, 1),  # p = unit clamps into bin 9, err 0
        ("g", None, 1),       # dropped
        ("g", 500_000, None),  # dropped
    ]
    df = spark.createDataFrame(rows, "g string, p long, y int")
    got = {
        r.bin: r
        for r in reliability_brier_bins(
            df, ["g"], F.col("p"), F.col("y"), n_bins=10
        ).collect()
    }
    assert set(got) == {0, 1, 9}
    assert (got[0].n, got[0].mean_p, got[0].event_rate, got[0].brier) == (
        1, 0.0, 0.0, 0.0,
    )
    b1 = got[1]
    assert b1.n == 2
    assert b1.mean_p == pytest.approx(0.125, abs=1e-9)
    assert b1.event_rate == pytest.approx(0.5, abs=1e-9)
    assert b1.brier == pytest.approx(
        (0.9**2 + 0.15**2) / 2, abs=1e-6
    )
    assert (got[9].n, got[9].brier) == (1, 0.0)


def test_brier_bins_drop_off_grid_and_reject_bad_params(spark):
    from magi_etl_spark.operators.brier import reliability_brier_bins

    df = spark.createDataFrame(
        [("g", -5, 1), ("g", 2_000_000, 0), ("g", 400_000, 1)],
        "g string, p long, y int",
    )
    rows = reliability_brier_bins(df, ["g"], F.col("p"), F.col("y")).collect()
    assert len(rows) == 1 and rows[0].n == 1 and rows[0].bin == 4
    with pytest.raises(ValueError, match="n_bins"):
        reliability_brier_bins(df, ["g"], F.col("p"), F.col("y"), n_bins=0)


# --- weighted kappa ---------------------------------------------------------------


def _ref_wkappa(pairs, quad):
    from collections import Counter

    o = Counter(pairs)
    n = len(pairs)
    row = Counter(i for i, _ in pairs)
    col = Counter(j for _, j in pairs)

    def v(i, j):
        return (i - j) ** 2 if quad else abs(i - j)

    vo = sum(v(i, j) * c for (i, j), c in o.items())
    ve = sum(v(i, j) * row[i] * col[j] for i in row for j in col)
    return 1.0 - n * vo / ve


@pytest.mark.parametrize("weighting", ["linear", "quadratic"])
def test_weighted_kappa_matches_pure_python(spark, weighting):
    from magi_etl_spark.operators.wkappa import weighted_kappa

    pairs = (
        [(0, 0)] * 8 + [(1, 1)] * 6 + [(2, 2)] * 4 + [(3, 3)] * 2
        + [(0, 1)] * 3 + [(1, 0)] * 2 + [(1, 2)] * 2 + [(3, 0)] * 1
    )
    df = spark.createDataFrame(
        [("g", i, j) for i, j in pairs], "g string, r1 int, r2 int"
    )
    row = weighted_kappa(
        df, ["g"], F.col("r1"), F.col("r2"), weighting
    ).collect()[0]
    want = _ref_wkappa(pairs, weighting == "quadratic")
    assert row.n_items == len(pairs)
    assert row.kappa_w == pytest.approx(want, abs=1e-6)


def test_weighted_kappa_edges(spark):
    from magi_etl_spark.operators.wkappa import weighted_kappa

    rows = (
        # perfect agreement -> kappa_w = 1 (vo = 0)
        [("perfect", i % 3, i % 3) for i in range(9)]
        # both raters constant -> ve = 0 -> NULL
        + [("flat", 2, 2)] * 4
        # null ratings drop
        + [("nulls", 0, 0), ("nulls", 1, None), ("nulls", None, 1),
           ("nulls", 2, 0)]
    )
    df = spark.createDataFrame(rows, "g string, r1 int, r2 int")
    got = {
        r.g: r
        for r in weighted_kappa(
            df, ["g"], F.col("r1"), F.col("r2")
        ).collect()
    }
    assert got["perfect"].kappa_w == pytest.approx(1.0)
    assert got["flat"].kappa_w is None
    assert got["nulls"].n_items == 2
    with pytest.raises(ValueError, match="weighting"):
        weighted_kappa(df, ["g"], F.col("r1"), F.col("r2"), "cubic")


# --- DBSCAN stability profile -------------------------------------------------------


def test_dbscan_cluster_profile_counts(spark):
    from magi_etl_spark.operators.dbscan import grid_dbscan
    from magi_etl_spark.operators.dbstability import dbscan_cluster_profile

    # chain 1-2-3-4 with eps=2,min_pts=3: 2,3 core; 1,4 border;
    # 10 isolated noise
    pts = [(1, 0, 0), (2, 2, 0), (3, 4, 0), (4, 6, 0), (10, 100, 100)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    labels = grid_dbscan(df, eps=2, min_pts=3)
    prof = dbscan_cluster_profile(labels).collect()
    assert len(prof) == 1
    p = prof[0]
    assert (p.cluster, p.n_points, p.n_core, p.n_border) == (2, 4, 2, 2)
    assert p.border_ratio == pytest.approx(0.5)
