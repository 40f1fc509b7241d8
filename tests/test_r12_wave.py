"""Hand-fixture unit tests for the round-12 operator wave.  The registry
oracle sweep (tests/test_queries_oracle.py) proves engine parity; these
pin the SEMANTICS on corpora small enough to verify by hand."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F


# --- rmst --------------------------------------------------------------------


def test_rmst_matches_hand_sum(spark):
    from magi_etl_spark.operators.rmst import restricted_mean_survival

    # users: lifespans 0, 2, 9 days in arm A; 0, 0 in arm B; tau = 5
    rows = []
    for u, arm, days in [
        (1, "A", [1]),          # life 0
        (2, "A", [3, 5]),       # life 2
        (3, "A", [10, 19]),     # life 9 -> clamped to tau
        (4, "B", [7]),          # life 0
        (5, "B", [8]),          # life 0
    ]:
        for d in days:
            rows.append((u, arm, f"2024-01-{d:02d} 12:00:00"))
    df = spark.createDataFrame(rows, "user_id long, arm string, ts string").select(
        "user_id", "arm", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        r.arm: (r.n_users, r.alive_days, float(r.rmst_days))
        for r in restricted_mean_survival(df, ["arm"], "user_id", "ts", 5).collect()
    }
    # A: min(1,5) + min(3,5) + min(10,5) = 1 + 3 + 5 = 9 -> 3.0
    # B: 1 + 1 = 2 -> 1.0
    assert got == {"A": (3, 9, 3.0), "B": (2, 2, 1.0)}


def test_rmst_drops_all_null_timestamp_users(spark):
    from magi_etl_spark.operators.rmst import restricted_mean_survival

    # user 2's timestamps are all null: no observed lifespan -> the
    # user drops from BOTH n_users and alive_days (not just the sum)
    df = spark.createDataFrame(
        [(1, "A", "2024-01-01 08:00:00"), (1, "A", "2024-01-03 08:00:00"),
         (2, "A", None)],
        "user_id long, arm string, ts string",
    ).select("user_id", "arm", F.col("ts").cast("timestamp").alias("ts"))
    row = restricted_mean_survival(df, ["arm"], "user_id", "ts", 5).collect()[0]
    assert (row.n_users, row.alive_days, float(row.rmst_days)) == (1, 3, 3.0)


def test_rmst_rejects_nonpositive_tau(spark):
    import pytest

    from magi_etl_spark.operators.rmst import restricted_mean_survival

    df = spark.createDataFrame([(1, "A", "2024-01-01")], "u long, a string, ts string")
    with pytest.raises(ValueError):
        restricted_mean_survival(df, ["a"], "u", "ts", 0)


# --- mcnemar -----------------------------------------------------------------


def test_mcnemar_hand_counts(spark):
    from magi_etl_spark.operators.mcnemar import mcnemar_test

    # g1: b=n10=3, c=n01=1 -> chi2_cc = (|3-1|-1)^2/4 = 0.25
    # g2: all concordant -> chi2 NULL
    rows = (
        [("g1", 1, 0)] * 3
        + [("g1", 0, 1)] * 1
        + [("g1", 1, 1)] * 2
        + [("g2", 1, 1)] * 2
        + [("g2", 0, 0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, x1 int, x2 int")
    got = {
        r.g: (r.n_subjects, r.n10, r.n01, r.chi2_cc)
        for r in mcnemar_test(df, ["g"], F.col("x1"), F.col("x2")).collect()
    }
    assert got["g1"] == (6, 3, 1, 0.25)
    assert got["g2"] == (5, 0, 0, None)


def test_mcnemar_continuity_clamps_at_zero(spark):
    from magi_etl_spark.operators.mcnemar import mcnemar_test

    # b=1, c=1 -> |b-c|-1 = -1 clamps to 0, chi2 = 0 (not 0.5)
    df = spark.createDataFrame(
        [("g", 1, 0), ("g", 0, 1)], "g string, x1 int, x2 int"
    )
    row = mcnemar_test(df, ["g"], F.col("x1"), F.col("x2")).collect()[0]
    assert row.chi2_cc == 0.0


def test_mcnemar_drops_null_pairs(spark):
    from magi_etl_spark.operators.mcnemar import mcnemar_test

    df = spark.createDataFrame(
        [("g", 1, 0), ("g", None, 1), ("g", 0, None)],
        "g string, x1 int, x2 int",
    )
    row = mcnemar_test(df, ["g"], F.col("x1"), F.col("x2")).collect()[0]
    assert (row.n_subjects, row.n10, row.n01) == (1, 1, 0)


# --- kappa -------------------------------------------------------------------


def test_kappa_hand_confusion(spark):
    from magi_etl_spark.operators.kappa import cohens_kappa

    # classic 2x2: n=100, agree=70 (45 yes-yes + 25 no-no),
    # row marg r1: yes 60, no 40; col marg r2: yes 60, no 40
    # pe_num = 60*60 + 40*40 = 5200; kappa = (100*70-5200)/(10000-5200)
    rows = (
        [("g", "y", "y")] * 45
        + [("g", "y", "n")] * 15
        + [("g", "n", "y")] * 15
        + [("g", "n", "n")] * 25
    )
    df = spark.createDataFrame(rows, "g string, r1 string, r2 string")
    row = cohens_kappa(df, ["g"], F.col("r1"), F.col("r2")).collect()[0]
    assert (row.n_items, row.n_agree) == (100, 70)
    assert row.kappa == round((100 * 70 - 5200) / (10000 - 5200), 6) == 0.375


def test_kappa_constant_raters_null(spark):
    from magi_etl_spark.operators.kappa import cohens_kappa

    df = spark.createDataFrame(
        [("g", "y", "y")] * 4, "g string, r1 string, r2 string"
    )
    row = cohens_kappa(df, ["g"], F.col("r1"), F.col("r2")).collect()[0]
    assert row.kappa is None and row.n_agree == 4


def test_kappa_disjoint_label_sets(spark):
    from magi_etl_spark.operators.kappa import cohens_kappa

    # raters never use the same label: agree=0, pe_num=0, kappa = 0/n^2...
    # pe_num = sum over SHARED labels only -> 0; kappa = (n*0 - 0)/(n^2 - 0) = 0
    df = spark.createDataFrame(
        [("g", "a", "b"), ("g", "a", "c")], "g string, r1 string, r2 string"
    )
    row = cohens_kappa(df, ["g"], F.col("r1"), F.col("r2")).collect()[0]
    assert (row.n_agree, row.kappa) == (0, 0.0)


# --- mann-kendall ------------------------------------------------------------


def _mk_reference(xs):
    n = len(xs)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (xs[j] > xs[i]) - (xs[j] < xs[i])
    from collections import Counter

    ties = Counter(xs)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    var = var18 / 18.0
    if var18 <= 0 or n < 2:
        z = None
    elif s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return s, var18, None if z is None else round(z, 6)


def test_mann_kendall_matches_pure_python(spark):
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    rng = random.Random(12)
    series = {
        "up": [i + rng.randint(0, 3) for i in range(12)],
        "flat": [5] * 8,
        "down": [20 - 2 * i + rng.randint(0, 1) for i in range(10)],
        "tied": [1, 2, 2, 2, 3, 1, 3, 3],
    }
    rows = [
        (name, t, v) for name, xs in series.items() for t, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "series string, t long, x long")
    got = {
        r.series: (r.n, r.s, r.var_s18, r.z)
        for r in mann_kendall_trend(df, ["series"], "t", F.col("x")).collect()
    }
    for name, xs in series.items():
        s, var18, z = _mk_reference(xs)
        assert got[name] == (len(xs), s, var18, z), name


def test_mann_kendall_drops_nulls(spark):
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    df = spark.createDataFrame(
        [("a", 0, 1), ("a", 1, None), ("a", 2, 3)],
        "series string, t long, x long",
    )
    row = mann_kendall_trend(df, ["series"], "t", F.col("x")).collect()[0]
    assert (row.n, row.s) == (2, 1)


def test_mann_kendall_drops_null_order_rows(spark):
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    # a null-ordered row must not count toward n/ties while joining no
    # pair (S would be inconsistent with its own n)
    df = spark.createDataFrame(
        [("a", 0, 1), ("a", None, 100), ("a", 2, 3)],
        "series string, t long, x long",
    )
    row = mann_kendall_trend(df, ["series"], "t", F.col("x")).collect()[0]
    assert (row.n, row.s) == (2, 1)


def test_mann_kendall_rejects_reserved_series_names(spark):
    import pytest

    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    df = spark.createDataFrame([("a", 0, 1)], "s string, t long, x long")
    with pytest.raises(ValueError, match="collide"):
        mann_kendall_trend(df, ["s"], "t", F.col("x"))


def test_wave_operators_reject_reserved_group_names(spark):
    """The mannkendall collision rule applied family-wide: every r12
    operator fails loudly when a group column shadows an output
    statistic instead of producing an ambiguous-reference crash (or a
    silently wrong select) deep in the plan."""
    import pytest

    from magi_etl_spark.operators.dbscan import grid_dbscan
    from magi_etl_spark.operators.kappa import cohens_kappa
    from magi_etl_spark.operators.mcnemar import mcnemar_test
    from magi_etl_spark.operators.rankcorr import kendall_tau_b, spearman_rho
    from magi_etl_spark.operators.rmst import restricted_mean_survival

    two = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    with pytest.raises(ValueError, match="collide"):
        spearman_rho(two, ["rho"], F.col("a"), F.col("b"))
    with pytest.raises(ValueError, match="collide"):
        kendall_tau_b(two, ["tau_b"], F.col("a"), F.col("b"))
    with pytest.raises(ValueError, match="collide"):
        mcnemar_test(two, ["n10"], F.col("a"), F.col("b"))
    with pytest.raises(ValueError, match="collide"):
        cohens_kappa(two, ["kappa"], F.col("a"), F.col("b"))
    with pytest.raises(ValueError, match="collide"):
        restricted_mean_survival(two, ["n_users"], "a", "b", 5)
    with pytest.raises(ValueError, match="distinct names"):
        grid_dbscan(two, 5, 1, id_col="a", x_col="id", y_col="c")


# --- rank correlation --------------------------------------------------------


def _spearman_reference(xs, ys):
    def avg_ranks(vs):
        order = sorted(range(len(vs)), key=lambda i: vs[i])
        ranks = [0.0] * len(vs)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vs[order[j]] == vs[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    ra, rb = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    ma, mb = sum(ra) / n, sum(rb) / n
    cov = sum((a - ma) * (b - mb) for a, b in zip(ra, rb))
    va = sum((a - ma) ** 2 for a in ra)
    vb = sum((b - mb) ** 2 for b in rb)
    if va <= 0 or vb <= 0:
        return None
    return round(cov / math.sqrt(va * vb), 6)


def _kendall_reference(xs, ys):
    n = len(xs)
    c = d = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            sy = (ys[j] > ys[i]) - (ys[j] < ys[i])
            if sx == 0 and sy == 0:
                tx += 1
                ty += 1
            elif sx == 0:
                tx += 1
            elif sy == 0:
                ty += 1
            elif sx == sy:
                c += 1
            else:
                d += 1
    n0 = n * (n - 1) // 2
    denom = math.sqrt((n0 - tx) * (n0 - ty))
    if denom <= 0:
        return None
    return round((c - d) / denom, 6)


def test_spearman_and_kendall_match_pure_python(spark):
    from magi_etl_spark.operators.rankcorr import kendall_tau_b, spearman_rho

    rng = random.Random(7)
    groups = {
        "mono": ([1, 2, 3, 4, 5, 6], [10, 20, 30, 40, 50, 60]),
        "anti": ([1, 2, 3, 4], [9, 7, 5, 3]),
        "ties": ([1, 1, 2, 2, 3, 3, 4], [5, 5, 5, 7, 7, 9, 9]),
        "noisy": (
            [rng.randint(0, 20) for _ in range(30)],
            [rng.randint(0, 20) for _ in range(30)],
        ),
        "const": ([3, 3, 3, 3], [1, 2, 3, 4]),
    }
    rows = [
        (g, x, y) for g, (xs, ys) in groups.items() for x, y in zip(xs, ys)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    rho = {
        r.g: (r.n, r.rho)
        for r in spearman_rho(df, ["g"], F.col("x"), F.col("y")).collect()
    }
    tau = {
        r.g: (r.n, r.tau_b)
        for r in kendall_tau_b(df, ["g"], F.col("x"), F.col("y")).collect()
    }
    for g, (xs, ys) in groups.items():
        assert rho[g] == (len(xs), _spearman_reference(xs, ys)), ("rho", g)
        assert tau[g] == (len(xs), _kendall_reference(xs, ys)), ("tau", g)
    assert rho["mono"][1] == 1.0 and tau["mono"][1] == 1.0
    assert rho["anti"][1] == -1.0 and tau["anti"][1] == -1.0


def test_spearman_global_uses_prefix_rank(spark):
    from magi_etl_spark.operators.rankcorr import spearman_rho

    rng = random.Random(3)
    xs = [rng.randint(0, 50) for _ in range(40)]
    ys = [x * 2 + rng.randint(0, 10) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    out = spearman_rho(df, [], F.col("x"), F.col("y"))
    row = out.collect()[0]
    assert (row.n, row.rho) == (40, _spearman_reference(xs, ys))
    # the global path must pass the scale linter (no single-partition
    # window — ranks ride the range-partitioned prefix rank)
    from magi_etl_spark.plans import assert_scalable

    assert_scalable(out)


# --- grid dbscan -------------------------------------------------------------


def _dbscan_reference(pts, eps, min_pts):
    import itertools

    ids = [i for i, _, _ in pts]
    loc = {i: (x, y) for i, x, y in pts}

    def near(a, b):
        (x1, y1), (x2, y2) = loc[a], loc[b]
        return (x1 - x2) ** 2 + (y1 - y2) ** 2 <= eps * eps

    neigh = {a: [b for b in ids if near(a, b)] for a in ids}
    cores = {a for a in ids if len(neigh[a]) >= min_pts}
    # components over core-core edges (min-id label)
    cluster = {}
    for a in sorted(cores):
        if a in cluster:
            continue
        stack, seen = [a], {a}
        while stack:
            v = stack.pop()
            for w in neigh[v]:
                if w in cores and w not in seen:
                    seen.add(w)
                    stack.append(w)
        label = min(seen)
        for v in seen:
            cluster[v] = label
    out = {}
    for a in ids:
        if a in cores:
            out[a] = ("core", cluster[a])
        else:
            nb = [cluster[b] for b in neigh[a] if b in cores]
            out[a] = ("border", min(nb)) if nb else ("noise", None)
    return out


def test_grid_dbscan_matches_naive_reference(spark):
    from magi_etl_spark.operators.dbscan import grid_dbscan

    rng = random.Random(99)
    # two dense blobs + scattered noise, negative coords included
    pts = []
    next_id = 0
    for cx, cy, k in [(0, 0, 8), (1000, -900, 6)]:
        for _ in range(k):
            pts.append(
                (next_id, cx + rng.randint(-40, 40), cy + rng.randint(-40, 40))
            )
            next_id += 1
    for _ in range(10):
        pts.append(
            (next_id, rng.randint(-5000, 5000), rng.randint(-5000, 5000))
        )
        next_id += 1
    eps, min_pts = 100, 4
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r.id: (r.role, r.cluster)
        for r in grid_dbscan(df, eps, min_pts).collect()
    }
    want = _dbscan_reference(pts, eps, min_pts)
    assert got == want
    roles = [v[0] for v in want.values()]
    assert "core" in roles and "noise" in roles  # the fixture exercises both


def test_grid_dbscan_isolated_core_is_own_cluster(spark):
    from magi_etl_spark.operators.dbscan import grid_dbscan

    # min_pts=1: every point is a core; the far point forms its own
    # singleton cluster (no core-core edge -> absent from components)
    df = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 0), (9, 10_000, 10_000)], "id long, x long, y long"
    )
    got = {
        r.id: (r.role, r.cluster) for r in grid_dbscan(df, 5, 1).collect()
    }
    assert got == {1: ("core", 1), 2: ("core", 1), 9: ("core", 9)}


def test_grid_dbscan_border_takes_min_neighbor_cluster(spark):
    from magi_etl_spark.operators.dbscan import grid_dbscan

    # two 4-point cliques (every member sees all 4 incl itself, so all
    # are cores at min_pts=4); point 9 sits within eps of exactly one
    # core from EACH clique (3 neighbors incl self < min_pts -> border)
    # and takes the MINIMUM of the two adjacent cluster labels
    df = spark.createDataFrame(
        [
            (1, 0, 0),
            (2, 4, 0),
            (3, 2, 3),
            (4, 0, 3),
            (5, 16, 0),
            (6, 20, 0),
            (7, 18, 3),
            (8, 16, 3),
            (9, 10, 0),
        ],
        "id long, x long, y long",
    )
    got = {
        r.id: (r.role, r.cluster) for r in grid_dbscan(df, 6, 4).collect()
    }
    assert got[9] == ("border", 1)
    assert got[1] == ("core", 1) and got[5] == ("core", 5)
    assert got[8] == ("core", 5) and got[4] == ("core", 1)
