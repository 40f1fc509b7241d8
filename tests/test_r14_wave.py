"""Round-14 wave operator semantics, pinned on hand fixtures against
pure-Python reference implementations (the same brute-force-replica
discipline as tests/test_r13_wave.py): Friedman blocked ranks,
Jonckheere–Terpstra ordered trend, Cliff's delta, the Cucconi
location-scale statistic, fixed-round quantile regression, and the
ECE/MCE calibration summary."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# --- Friedman ---------------------------------------------------------------


def _py_friedman(vals: dict, nb: int, k: int) -> float:
    R = [0.0] * k
    a2 = 0.0
    for b in range(nb):
        xs = [(vals[(b, g)], g) for g in range(k)]
        svals = sorted(v for v, _ in xs)
        for v, g in xs:
            lo = sum(1 for u in svals if u < v)
            t = sum(1 for u in svals if u == v)
            r = lo + (t + 1) / 2
            R[g] += r
            a2 += r * r
    c2 = nb * k * (k + 1) ** 2 / 4
    num = sum((R[g] - nb * (k + 1) / 2) ** 2 for g in range(k))
    return (k - 1) * num / (a2 - c2)


def test_friedman_matches_reference_with_ties(spark):
    from magi_etl_spark.operators.friedman import friedman_test

    random.seed(7)
    rows, vals = [], {}
    for b in range(6):
        for g in range(3):
            v = random.randint(0, 5) + (2 if g == 2 else 0)
            rows.append(("k1", b, g, v))
            vals[(b, g)] = v
    df = spark.createDataFrame(rows, "key string, b int, g int, x int")
    out = friedman_test(df, ["key"], "b", "g", F.col("x")).collect()[0]
    exp = _py_friedman(vals, 6, 3)
    assert (out.k_treat, out.n_blocks) == (3, 6)
    assert abs(out.t - round(exp, 6)) < 1e-9


def test_friedman_ranks_in_one_window_without_a_join_on_the_value(spark):
    """The doubled average rank comes from ONE window over (key, block)
    ordered by the value (``rank()`` plus a RANGE-frame count), not from
    a per-value count aggregate joined back on ``_x``."""
    from magi_etl_spark.operators.friedman import friedman_test

    rows = [("k", b, g, (b * g) % 3) for b in range(4) for g in range(3)]
    df = spark.createDataFrame(rows, "key string, b int, g int, x int")
    out = friedman_test(df, ["key"], "b", "g", F.col("x"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    assert sum(" Window [" in ln for ln in lines) == 1, plan
    assert not [ln for ln in lines if "Join" in ln and "_x#" in ln], plan


def test_friedman_drops_incomplete_blocks_and_keeps_degenerate_keys(spark):
    from magi_etl_spark.operators.friedman import friedman_test

    random.seed(7)
    rows, vals = [], {}
    for b in range(6):
        for g in range(3):
            v = random.randint(0, 5) + (2 if g == 2 else 0)
            rows.append(("k1", b, g, v))
            vals[(b, g)] = v
    # block 99 misses treatments 1 and 2 -> dropped; k2 has a single
    # treatment -> t NULL but the row is present (mannkendall posture)
    rows += [("k1", 99, 0, 1), ("k2", 0, 0, 1)]
    df = spark.createDataFrame(rows, "key string, b int, g int, x int")
    got = {
        r.key: r
        for r in friedman_test(df, ["key"], "b", "g", F.col("x")).collect()
    }
    assert got["k1"].n_blocks == 6
    assert abs(got["k1"].t - round(_py_friedman(vals, 6, 3), 6)) < 1e-9
    assert got["k2"].k_treat == 1 and got["k2"].t is None


def test_friedman_all_tied_blocks_emit_null(spark):
    from magi_etl_spark.operators.friedman import friedman_test

    rows = [("k", b, g, 5) for b in range(3) for g in range(3)]
    df = spark.createDataFrame(rows, "key string, b int, g int, x int")
    out = friedman_test(df, ["key"], "b", "g", F.col("x")).collect()[0]
    assert out.n_blocks == 3 and out.t is None  # den = 0


def test_friedman_guards(spark):
    from magi_etl_spark.operators.friedman import friedman_test

    df = spark.createDataFrame([("k", 0, 0, 1)], "key string, b int, g int, x int")
    with pytest.raises(ValueError, match="non-empty"):
        friedman_test(df, [], "b", "g", F.col("x"))
    df2 = spark.createDataFrame(
        [("k", 0, 0, 1)], "_r2 string, b int, g int, x int"
    )
    with pytest.raises(ValueError, match="_r2"):
        friedman_test(df2, ["_r2"], "b", "g", F.col("x"))


# --- Jonckheere-Terpstra ------------------------------------------------------


def test_jonckheere_matches_brute_force(spark):
    from magi_etl_spark.operators.jonckheere import jonckheere_terpstra

    random.seed(11)
    data = [
        ("k", g, random.randint(0, 6) + g) for g in range(3) for _ in range(8)
    ]
    df = spark.createDataFrame(data, "key string, g int, x int")
    out = jonckheere_terpstra(
        df, ["key"], "g", F.col("x"), max_cells=None
    ).collect()[0]
    j2 = sum(
        (2 if x1 < x2 else (1 if x1 == x2 else 0))
        for (_, g1, x1) in data
        for (_, g2, x2) in data
        if g1 < g2
    )
    pairs = sum(1 for (_, g1, _x) in data for (_, g2, _y) in data if g1 < g2)
    assert out.j2 == j2 and out.k_groups == 3 and out.n == 24
    assert abs(out.jt - round(j2 / (2 * pairs), 6)) < 1e-9


def test_jonckheere_single_group_and_guards(spark):
    from magi_etl_spark.operators.jonckheere import jonckheere_terpstra

    df = spark.createDataFrame(
        [("k", 0, 1), ("k", 0, 2)], "key string, g int, x int"
    )
    out = jonckheere_terpstra(df, ["key"], "g", F.col("x")).collect()[0]
    assert (out.k_groups, out.j2, out.jt) == (1, 0, None)
    with pytest.raises(ValueError, match="non-empty"):
        jonckheere_terpstra(df, [], "g", F.col("x"))
    with pytest.raises(ValueError, match="max_cells"):
        big = spark.range(40).select(
            F.lit("k").alias("key"),
            (F.col("id") % 2).alias("g"),
            F.col("id").alias("x"),
        )
        jonckheere_terpstra(big, ["key"], "g", F.col("x"), max_cells=10)


# --- Cliff's delta --------------------------------------------------------------


def test_cliffs_delta_matches_brute_force(spark):
    from magi_etl_spark.operators.cliffsdelta import cliffs_delta

    random.seed(3)
    data = [("k", random.randint(0, 10), i % 2) for i in range(30)]
    df = spark.createDataFrame(data, "key string, s int, lab int")
    out = cliffs_delta(df, ["key"], F.col("s"), F.col("lab")).collect()[0]
    pos = [s for _, s, l in data if l == 1]
    neg = [s for _, s, l in data if l == 0]
    dn = sum(1 for p in pos for q in neg if p > q) - sum(
        1 for p in pos for q in neg if p < q
    )
    assert out.d_num == dn
    assert abs(out.delta - round(dn / (len(pos) * len(neg)), 6)) < 1e-9


def test_cliffs_delta_dominance_extremes(spark):
    from magi_etl_spark.operators.cliffsdelta import cliffs_delta

    # complete dominance both ways, and a one-class group drops out
    data = (
        [("hi", v, 1) for v in (10, 11)]
        + [("hi", v, 0) for v in (1, 2)]
        + [("lo", v, 1) for v in (1, 2)]
        + [("lo", v, 0) for v in (10, 11)]
        + [("one", 5, 1)]
    )
    df = spark.createDataFrame(data, "key string, s int, lab int")
    got = {
        r.key: r
        for r in cliffs_delta(df, ["key"], F.col("s"), F.col("lab")).collect()
    }
    assert got["hi"].delta == 1.0 and got["lo"].delta == -1.0
    assert "one" not in got


# --- Cucconi --------------------------------------------------------------------


def _py_cucconi(data):
    xs = sorted(v for _, _, v in data)
    n_all = len(xs)

    def avgrank(v):
        lo = sum(1 for u in xs if u < v)
        t = sum(1 for u in xs if u == v)
        return lo + (t + 1) / 2

    r1 = [avgrank(v) for _, s, v in data if s == 1]
    n1, n2 = len(r1), n_all - len(r1)
    sr2 = sum(r * r for r in r1)
    sc2 = sum((n_all + 1 - r) ** 2 for r in r1)
    den = math.sqrt(
        n1 * n2 * (n_all + 1) * (2 * n_all + 1) * (8 * n_all + 11) / 5
    )
    u = (6 * sr2 - n1 * (n_all + 1) * (2 * n_all + 1)) / den
    v = (6 * sc2 - n1 * (n_all + 1) * (2 * n_all + 1)) / den
    rho = 2 * (n_all * n_all - 4) / ((2 * n_all + 1) * (8 * n_all + 11)) - 1
    c = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    return u, v, c


def test_cucconi_matches_reference_with_ties(spark):
    from magi_etl_spark.operators.cucconi import cucconi_test

    random.seed(5)
    data = [("k", 1, random.randint(0, 20)) for _ in range(12)] + [
        ("k", 0, random.randint(5, 40)) for _ in range(15)
    ]
    df = spark.createDataFrame(data, "key string, s int, x int")
    out = cucconi_test(df, ["key"], F.col("s") == 1, F.col("x")).collect()[0]
    u, v, c = _py_cucconi(data)
    assert (out.n1, out.n2) == (12, 15)
    assert abs(out.u - u) < 1e-5 and abs(out.v - v) < 1e-5
    assert abs(out.c - c) < 1e-5


def test_cucconi_degenerate_keys_emit_null(spark):
    from magi_etl_spark.operators.cucconi import cucconi_test

    data = [("solo", 1, 3), ("solo", 1, 7), ("tiny", 1, 3), ("tiny", 0, 7)]
    df = spark.createDataFrame(data, "key string, s int, x int")
    got = {
        r.key: r
        for r in cucconi_test(
            df, ["key"], F.col("s") == 1, F.col("x")
        ).collect()
    }
    assert got["solo"].n2 == 0 and got["solo"].c is None
    # pooled N = 2 -> rho = -1, statistic undefined
    assert got["tiny"].c is None
    with pytest.raises(ValueError, match="non-empty"):
        cucconi_test(df, [], F.col("s") == 1, F.col("x"))


# --- quantile regression ---------------------------------------------------------


def _py_quantile_line(pts, tn, td, rounds):
    n = len(pts)

    def wq(cands, thresh, den):
        agg = {}
        for v, w in cands:
            agg[v] = agg.get(v, 0) + w
        cum = 0
        for v in sorted(agg):
            cum += agg[v] * den
            if cum >= thresh:
                return v
        raise AssertionError("no crossing")

    m = wq([(x, 2) for x, _ in pts], n, 1)
    cpts = [(x - m, y) for x, y in pts]
    P = sum(x for x, _ in cpts if x > 0)
    M = sum(-x for x, _ in cpts if x < 0)

    def istep(b):
        b = b or 0
        return wq([(1000000 * y - b * x, 1) for x, y in cpts], tn * n, td)

    def sstep(a):
        c = [(round((1000000 * y - a) / x), abs(x)) for x, y in cpts if x != 0]
        return wq(c, tn * P + (td - tn) * M, td) if c else None

    a = istep(None)
    b = None
    for _ in range(rounds):
        b = sstep(a)
        a = istep(b)
    return a - (b or 0) * m, b


def test_quantile_line_matches_reference_replica(spark):
    from magi_etl_spark.operators.quantreg import quantile_line

    random.seed(7)
    data = []
    for _ in range(40):
        xx = random.randint(1, 30)
        data.append(("k", xx, 3 * xx + random.randint(0, 20)))
    data += [("z", 5, v) for v in (5, 1, 9, 3)]  # constant x
    data += [
        ("m", -random.randint(1, 15), random.randint(-40, 10))
        for _ in range(20)
    ] + [("m", random.randint(1, 30), random.randint(0, 50)) for _ in range(10)]
    df = spark.createDataFrame(data, "key string, x int, y int")
    res = {
        r.key: r
        for r in quantile_line(
            df, ["key"], F.col("x"), F.col("y"), 3, 4, rounds=4
        ).collect()
    }
    for k in ("k", "z", "m"):
        pts = [(x, y) for kk, x, y in data if kk == k]
        a6, b6 = _py_quantile_line(pts, 3, 4, 4)
        r = res[k]
        assert abs(r.intercept - round(a6 / 1e6, 6)) < 1e-9, k
        if b6 is None:
            assert r.slope is None
        else:
            assert abs(r.slope - round(b6 / 1e6, 6)) < 1e-9, k


def test_quantile_line_recovers_a_clean_upper_quantile_slope(spark):
    from magi_etl_spark.operators.quantreg import quantile_line

    # exact synthetic: y = 10x + e with e in {0..4}; the 3/4-quantile
    # line has slope 10 (x carries no noise), intercept near q75(e)=3.
    # A smooth polyhedral valley, the slow case for coordinate descent
    # (~halving per round) — the default 8 rounds must land within 0.1%
    data = [
        ("k", x, 10 * x + e) for x in range(1, 21) for e in (0, 1, 2, 3, 4)
    ]
    df = spark.createDataFrame(data, "key string, x int, y int")
    out = quantile_line(df, ["key"], F.col("x"), F.col("y"), 3, 4).collect()[0]
    assert out.n == 100
    assert abs(out.slope - 10.0) < 0.01, out.slope
    assert 2.5 <= out.intercept <= 3.5, out.intercept


def test_quantile_line_guards(spark):
    from magi_etl_spark.operators.quantreg import quantile_line

    df = spark.createDataFrame([("k", 1, 1)], "key string, x int, y int")
    with pytest.raises(ValueError, match="non-empty"):
        quantile_line(df, [], F.col("x"), F.col("y"))
    with pytest.raises(ValueError, match="proper fraction"):
        quantile_line(df, ["key"], F.col("x"), F.col("y"), 4, 4)
    with pytest.raises(ValueError, match="rounds"):
        quantile_line(df, ["key"], F.col("x"), F.col("y"), rounds=0)


def test_quantile_line_leaves_no_cache_entries(spark):
    """localCheckpoint, never persist(): the SQL cache manager stays
    empty after a full collect (the dbscan r12 ADVICE lesson)."""
    from magi_etl_spark.operators.quantreg import quantile_line

    data = [("k", x, 2 * x + 1) for x in range(1, 15)]
    df = spark.createDataFrame(data, "key string, x int, y int")
    quantile_line(df, ["key"], F.col("x"), F.col("y"), rounds=2).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "quantile_line left entries in the cache manager"


# --- ECE / MCE -------------------------------------------------------------------


def test_calibration_error_matches_bins_recomputation(spark):
    from magi_etl_spark.operators.brier import reliability_brier_bins
    from magi_etl_spark.operators.ece import calibration_error

    random.seed(13)
    data = [
        ("g", random.randint(0, 1_000_000), random.random() < 0.5)
        for _ in range(200)
    ]
    df = spark.createDataFrame(data, "g string, p long, y boolean")
    bins = reliability_brier_bins(df, ["g"], F.col("p"), F.col("y"))
    out = calibration_error(bins, ["g"]).collect()[0]
    brows = bins.collect()
    d6 = [
        abs(round(r.mean_p * 1e6) - round(r.event_rate * 1e6)) for r in brows
    ]
    n_tot = sum(r.n for r in brows)
    ece = sum(r.n * d for r, d in zip(brows, d6)) / (n_tot * 1e6)
    assert out.n == n_tot and out.n_bins_used == len(brows)
    assert abs(out.ece - round(ece, 6)) < 1e-9
    assert abs(out.mce - round(max(d6) / 1e6, 6)) < 1e-9


def test_calibration_error_perfect_calibration_is_zero(spark):
    from magi_etl_spark.operators.brier import reliability_brier_bins
    from magi_etl_spark.operators.ece import calibration_error

    # every prediction exactly matches its bin's event rate: in bin 2
    # (p = 250000), 1 of 4 outcomes is true
    data = [("g", 250_000, i % 4 == 0) for i in range(40)]
    df = spark.createDataFrame(data, "g string, p long, y boolean")
    out = calibration_error(
        reliability_brier_bins(df, ["g"], F.col("p"), F.col("y")), ["g"]
    ).collect()[0]
    assert out.ece == 0.0 and out.mce == 0.0 and out.n_bins_used == 1


def test_calibration_error_guards(spark):
    from magi_etl_spark.operators.ece import calibration_error

    df = spark.createDataFrame(
        [("g", 0, 1, 0.5, 0.5)], "g string, bin int, n long, mean_p double, event_rate double"
    )
    with pytest.raises(ValueError, match="non-empty"):
        calibration_error(df, [])
