"""Hand-fixture unit tests for the round-10 operator wave.  The registry
oracle sweep (tests/test_queries_oracle.py) proves engine parity; these
pin the SEMANTICS on corpora small enough to verify by hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- cuped -------------------------------------------------------------------


def test_cuped_matches_hand_computation(spark):
    from magi_etl_spark.operators.cuped import cuped_adjust

    rows = [
        ("A", 200, 100),
        ("A", 300, 200),
        ("A", 430, 300),
        ("B", 210, 100),
        ("B", 330, 200),
    ]
    df = spark.createDataFrame(rows, "arm string, y long, x long")
    out = {
        r.arm: r
        for r in cuped_adjust(df, "arm", F.col("y"), F.col("x")).collect()
    }
    # pooled moments by hand
    xs = [100, 200, 300, 100, 200]
    ys = [200, 300, 430, 210, 330]
    n = len(xs)
    mxp = sum(xs) / n
    vxp = sum(v * v for v in xs) / n - mxp * mxp
    cxyp = sum(a * b for a, b in zip(xs, ys)) / n - mxp * (sum(ys) / n)
    theta = cxyp / vxp
    for arm, ax, ay in [("A", xs[:3], ys[:3]), ("B", xs[3:], ys[3:])]:
        na = len(ax)
        my, mx = sum(ay) / na, sum(ax) / na
        vy = sum(v * v for v in ay) / na - my * my
        vx = sum(v * v for v in ax) / na - mx * mx
        cxy = sum(a * b for a, b in zip(ax, ay)) / na - mx * my
        vy_adj = vy - 2 * theta * cxy + theta * theta * vx
        assert out[arm].n == na
        assert out[arm].mean_y == pytest.approx(my, abs=1e-6)
        assert out[arm].mean_y_adj == pytest.approx(
            my - theta * (mx - mxp), abs=1e-6
        )
        assert out[arm].var_reduction == pytest.approx(
            1 - vy_adj / vy, abs=1e-6
        )
        # CUPED must REDUCE variance on a correlated covariate
        assert out[arm].var_reduction > 0.5


def test_cuped_degenerate_constant_covariate(spark):
    from magi_etl_spark.operators.cuped import cuped_adjust

    df = spark.createDataFrame(
        [("A", 10, 7), ("A", 20, 7), ("B", 30, 7)],
        "arm string, y long, x long",
    )
    out = {
        r.arm: r
        for r in cuped_adjust(df, "arm", F.col("y"), F.col("x")).collect()
    }
    # var(x) = 0 -> theta = 0 -> no adjustment, zero reduction
    assert out["A"].mean_y_adj == out["A"].mean_y == 15.0
    assert out["A"].var_reduction == 0.0


# --- selection ----------------------------------------------------------------


def test_kth_smallest_matches_sorted_order(spark):
    from magi_etl_spark.operators.selection import kth_smallest

    vals = [7, -3, 0, 7, 7, 12, 999_999_937, -3, 5, 2]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    ordered = sorted(vals)
    for k in (1, 2, 3, 5, len(vals)):
        assert kth_smallest(df, "v", k) == ordered[k - 1], k


def test_kth_smallest_validates_k(spark):
    from magi_etl_spark.operators.selection import kth_smallest

    df = spark.createDataFrame([(1,), (2,)], "v long")
    with pytest.raises(ValueError):
        kth_smallest(df, "v", 0)
    with pytest.raises(ValueError):
        kth_smallest(df, "v", 3)


def test_exact_quantiles_lower_empirical_convention(spark):
    from magi_etl_spark.operators.selection import exact_quantiles

    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v long")
    out = {
        (r.q_num, r.q_den): r
        for r in exact_quantiles(df, "v", [(1, 2), (9, 10), (1, 10)]).collect()
    }
    assert out[(1, 2)].k == 5 and out[(1, 2)].value == 5
    assert out[(9, 10)].k == 9 and out[(9, 10)].value == 9
    assert out[(1, 10)].k == 1 and out[(1, 10)].value == 1


# --- inverted index -------------------------------------------------------------


def test_inverted_index_and_query(spark):
    from magi_etl_spark.operators.invindex import (
        boolean_and_query,
        build_postings,
        posting_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast scan beats slow scan"),
            (2, "merge sort then scan"),
            (3, "merge only"),
        ],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    stats = {r.tok: r for r in posting_stats(postings).collect()}
    assert stats["scan"].df == 2 and stats["scan"].total_tf == 3
    assert stats["merge"].df == 2 and stats["merge"].total_tf == 2
    hits = {
        r.doc_id: r.tf_sum
        for r in boolean_and_query(postings, ["merge", "scan"]).collect()
    }
    assert hits == {2: 2}  # only doc 2 has both; tf 1 + 1
    # single term
    one = {
        r.doc_id: r.tf_sum
        for r in boolean_and_query(postings, ["scan"]).collect()
    }
    assert one == {1: 2, 2: 1}
    with pytest.raises(ValueError):
        boolean_and_query(postings, [])


def test_inverted_index_or_query(spark):
    from magi_etl_spark.operators.invindex import (
        boolean_or_query,
        build_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast scan beats slow scan"),
            (2, "merge sort then scan"),
            (3, "merge only"),
        ],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    hits = {
        r.doc_id: (r.n_terms, r.tf_sum)
        for r in boolean_or_query(postings, ["merge", "scan"]).collect()
    }
    # doc 1: scan only (tf 2); doc 2: both (tf 1+1); doc 3: merge only
    assert hits == {1: (1, 2), 2: (2, 2), 3: (1, 1)}
    import pytest as _pt

    with _pt.raises(ValueError):
        boolean_or_query(postings, [])


# --- KS two-sample ---------------------------------------------------------------


def test_ks_hand_values(spark):
    from magi_etl_spark.operators.kstest import ks_two_sample

    rows = (
        [("s", "a", v) for v in (1, 2, 3)]
        + [("s", "b", v) for v in (4, 5, 6)]
        + [("t", "a", v) for v in (1, 3)]
        + [("t", "b", v) for v in (2, 3)]
    )
    df = spark.createDataFrame(rows, "g string, s string, v long")
    out = {
        r.g: r for r in ks_two_sample(df, ["g"], "s", "v", "a", "b").collect()
    }
    # disjoint supports -> D = 1
    assert out["s"].d_stat == pytest.approx(1.0)
    assert out["s"].n_a == 3 and out["s"].n_b == 3
    # interleaved: Fa-Fb = .5 at v=1, 0 at v=2... max .5
    assert out["t"].d_stat == pytest.approx(0.5)


def test_ks_identical_samples_is_zero(spark):
    from magi_etl_spark.operators.kstest import ks_two_sample

    rows = [("s", s, v) for s in ("a", "b") for v in (1, 2, 2, 5)]
    df = spark.createDataFrame(rows, "g string, s string, v long")
    (r,) = ks_two_sample(df, ["g"], "s", "v", "a", "b").collect()
    assert r.d_stat == 0.0


# --- log-rank ---------------------------------------------------------------------


def test_logrank_identical_groups_is_zero(spark):
    from magi_etl_spark.operators.logrank import logrank_test

    rows = []
    for g in ("p", "np"):
        rows += [("w1", g, 2, 1), ("w1", g, 5, 1), ("w1", g, 8, 0)]
    df = spark.createDataFrame(rows, "wk string, grp string, t long, e int")
    (r,) = logrank_test(df, ["wk"], "grp", "t", "e", "p", "np").collect()
    assert r.n_a == 3 and r.n_b == 3
    assert r.observed_a == 2
    assert r.expected_a == pytest.approx(2.0)
    assert r.chi2 == pytest.approx(0.0)


def test_logrank_separated_groups_is_large(spark):
    from magi_etl_spark.operators.logrank import logrank_test

    rows = [("w1", "p", t, 1) for t in (1, 2, 3)] + [
        ("w1", "np", t, 1) for t in (10, 11, 12)
    ]
    df = spark.createDataFrame(rows, "wk string, grp string, t long, e int")
    (r,) = logrank_test(df, ["wk"], "grp", "t", "e", "p", "np").collect()
    # A churns strictly earlier: observed 3 events vs expected
    # 3/6 + 2/5 + 1/4 = 1.15 under H0
    assert r.observed_a == 3
    assert r.expected_a == pytest.approx(1.15, abs=1e-6)
    assert r.chi2 > 3.84  # significant at 5%


def test_logrank_drops_null_durations(spark):
    """A null duration has no place on the time axis and must not enter
    the time-ordered at-risk window (Spark and DuckDB disagree on where
    nulls sort — the ks_two_sample null class): the identical-groups
    fixture plus one null-duration row per group must report the SAME
    statistics as without them, with the null subjects excluded from
    n_a/n_b too."""
    from magi_etl_spark.operators.logrank import logrank_test

    rows = []
    for g in ("p", "np"):
        rows += [("w1", g, 2, 1), ("w1", g, 5, 1), ("w1", g, 8, 0),
                 ("w1", g, None, 1)]
    df = spark.createDataFrame(rows, "wk string, grp string, t long, e int")
    (r,) = logrank_test(df, ["wk"], "grp", "t", "e", "p", "np").collect()
    assert r.n_a == 3 and r.n_b == 3
    assert r.observed_a == 2
    assert r.expected_a == pytest.approx(2.0)
    assert r.chi2 == pytest.approx(0.0)


# --- delta method -----------------------------------------------------------------


def test_delta_method_matches_hand_computation(spark):
    from magi_etl_spark.operators.deltamethod import ratio_metric_ci

    # unit sums: (y, x) per user
    units = {"u1": (100, 2), "u2": (300, 4), "u3": (200, 3)}
    rows = []
    for u, (y, x) in units.items():
        # split each unit across two event rows to exercise the
        # unit-grain pre-aggregation
        rows.append(("m", u, y - 40, x - 1))
        rows.append(("m", u, 40, 1))
    df = spark.createDataFrame(rows, "g string, u string, y long, x long")
    (r,) = ratio_metric_ci(
        df, ["g"], "u", F.col("y"), F.col("x")
    ).collect()
    ys = [y for y, _ in units.values()]
    xs = [x for _, x in units.values()]
    n = len(units)
    ratio = sum(ys) / sum(xs)
    mx = sum(xs) / n
    vyy = (sum(v * v for v in ys) - n * (sum(ys) / n) ** 2) / (n - 1)
    vxx = (sum(v * v for v in xs) - n * mx * mx) / (n - 1)
    vxy = (sum(a * b for a, b in zip(xs, ys)) - n * mx * (sum(ys) / n)) / (
        n - 1
    )
    se = (
        max(0.0, (vyy - 2 * ratio * vxy + ratio * ratio * vxx) / (n * mx * mx))
        ** 0.5
    )
    assert r.n_units == 3
    assert r.ratio == pytest.approx(ratio, abs=1e-6)
    assert r.se == pytest.approx(se, abs=1e-6)
    assert r.ci_lo == pytest.approx(ratio - 1.96 * se, abs=1e-6)
    assert r.ci_hi == pytest.approx(ratio + 1.96 * se, abs=1e-6)


def test_delta_method_single_unit_has_null_se(spark):
    from magi_etl_spark.operators.deltamethod import ratio_metric_ci

    df = spark.createDataFrame(
        [("g", "u1", 10, 2)], "g string, u string, y long, x long"
    )
    (r,) = ratio_metric_ci(df, ["g"], "u", F.col("y"), F.col("x")).collect()
    assert r.ratio == pytest.approx(5.0)
    assert r.se is None and r.ci_lo is None and r.ci_hi is None
