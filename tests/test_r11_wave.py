"""Round-11 operator wave: hand-value fixtures for each new operator
plus the staged-registry discipline (per-entry DuckDB hash comparison,
plan lint, no-HUGEINT output lint) every prior staged wave carried."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from oracle_harness import compare, duckdb_connection


def _ext8():
    """The queries ``queries/extensions_r11.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions_r11"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


# --- staged-registry discipline ----------------------------------------------


def test_r11_extension_registry_is_fully_merged():
    """r12 rotation rule 1: every EXT8 entry is registered (same function
    object — merged, not shadowed) and its oracle rode along; the
    all-query oracle sweep therefore covers them every run.  (Until the
    r12 merge this test asserted the OPPOSITE — staged disjointness.)"""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext8()
    assert len(ext_q) == 6 and set(ext_q) == set(ext_o)
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
        assert ORACLE.get(name) == ext_o[name], f"{name} oracle not merged"


def test_staged_oracles_emit_no_hugeint(sf_dir):
    _, ext_o = _ext8()
    con = duckdb_connection(sf_dir)
    offenders = {}
    for name, sql in ext_o.items():
        rel = con.sql(sql)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def _names():
    ext_q, _ = _ext8()
    return sorted(ext_q)


@pytest.mark.parametrize("name", _names())
def test_staged_query_matches_oracle(spark, sf_dir, con, name):
    ext_q, ext_o = _ext8()
    ok, msg = compare(ext_q[name](spark, sf_dir), con, ext_o[name])
    assert ok, f"{name}: {msg}"


def test_staged_queries_are_lint_clean(spark, sf_dir):
    """Every r11 staged entry passes the plan linter BEFORE it enters
    the gate.  q241's prefix-rank stage localCheckpoints a bounded
    intermediate at build time; the returned plan is keyed joins and
    scalar-merge aggregates only."""
    from magi_etl_spark.plans import lint

    ext_q, _ = _ext8()
    errors = {}
    for name, fn in ext_q.items():
        errs = [f for f in lint(fn(spark, sf_dir)) if f.severity == "error"]
        if errs:
            errors[name] = [f.rule for f in errs]
    assert not errors, errors


# --- auc: hand values with ties ----------------------------------------------


def test_group_auc_hand_values_with_ties(spark):
    from magi_etl_spark.operators.auc import group_auc

    rows = [("g", 1, 1), ("g", 3, 1), ("g", 3, 1),
            ("g", 1, 0), ("g", 2, 0), ("g", 3, 0)]
    df = spark.createDataFrame(rows, "g string, s int, y int")
    got = group_auc(df, ["g"], F.col("s"), F.col("y")).collect()
    assert len(got) == 1
    r = got[0]
    # pos {1,3,3} vs neg {1,2,3}: U = 0.5 + 2*(2 + 0.5) = 5.5 over 9
    # pairs -> 2U = 11, AUC = 11/18 = 0.611111
    assert (r.n_pos, r.n_neg, r.u2, r.auc) == (3, 3, 11, 0.611111)


def test_group_auc_perfect_and_reverse_separation(spark):
    from magi_etl_spark.operators.auc import group_auc

    rows = [("a", 10, 1), ("a", 11, 1), ("a", 1, 0), ("a", 2, 0),
            ("b", 1, 1), ("b", 2, 1), ("b", 10, 0), ("b", 11, 0),
            ("c", 5, 1), ("c", 6, 1)]  # no negatives -> drops out
    df = spark.createDataFrame(rows, "g string, s int, y int")
    got = {r.g: r.auc for r in group_auc(df, ["g"], F.col("s"), F.col("y")).collect()}
    assert got == {"a": 1.0, "b": 0.0}


# --- spatial: blocked join is complete (vs naive) and floor-exact -------------


def test_grid_blocked_eps_join_matches_naive_pairs(spark):
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    rng = random.Random(42)
    pts = [(i, rng.randint(-1000, 1000), rng.randint(-1000, 1000))
           for i in range(120)]
    eps = 150
    naive = {
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a in pts
        for b in pts
        if a[0] < b[0]
        and (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps * eps
    }
    df = spark.createDataFrame(pts, "pid long, x long, y long")
    got = {
        (r.c1, r.c2, r.dist2)
        for r in grid_blocked_eps_join(
            df.select(F.col("pid").alias("c1"), "x", "y"),
            df.select(F.col("pid").alias("c2"), "x", "y"),
            eps,
            ["c1"],
            ["c2"],
        )
        .where(F.col("c1") < F.col("c2"))
        .collect()
    }
    assert naive, "fixture produced no pairs — raise density"
    assert got == naive


def test_grid_cells_floor_correctly_for_negative_coords(spark):
    """Boundary pair straddling zero: floor (not truncate-toward-zero)
    cell ids put (-1, 0) and (1, 0) in ADJACENT cells at eps=10, so the
    neighbor probe still finds the pair."""
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    df = spark.createDataFrame(
        [(1, -1, 0), (2, 1, 0)], "pid long, x long, y long"
    )
    got = grid_blocked_eps_join(
        df.select(F.col("pid").alias("c1"), "x", "y"),
        df.select(F.col("pid").alias("c2"), "x", "y"),
        10,
        ["c1"],
        ["c2"],
    ).where(F.col("c1") < F.col("c2")).collect()
    assert [(r.c1, r.c2, r.dist2) for r in got] == [(1, 2, 4)]


def test_grid_cells_survive_long_min_coords(spark):
    """Full-int64-range coordinates: the cell id is the remainder-
    adjusted ``DIV`` (never ``x - pmod(x, e)``, which leaves BIGINT just
    below LONG_MIN + e and raises under ANSI Spark — the selection.py
    span class), so a pair at the very bottom of the coordinate space
    still blocks and matches."""
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    lo = -(2**63)
    df = spark.createDataFrame(
        [(1, lo, 0), (2, lo + 3, 0)], "pid long, x long, y long"
    )
    got = grid_blocked_eps_join(
        df.select(F.col("pid").alias("c1"), "x", "y"),
        df.select(F.col("pid").alias("c2"), "x", "y"),
        10,
        ["c1"],
        ["c2"],
    ).where(F.col("c1") < F.col("c2")).collect()
    assert [(r.c1, r.c2, r.dist2) for r in got] == [(1, 2, 9)]


def test_grid_blocked_eps_join_rejects_nonpositive_eps(spark):
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    df = spark.createDataFrame([(1, 0, 0)], "pid long, x long, y long")
    with pytest.raises(ValueError, match="eps"):
        grid_blocked_eps_join(df, df, 0, ["pid"], ["pid"])


def test_nearest_in_radius_picks_min_dist_with_tie_break(spark):
    from magi_etl_spark.operators.spatial import nearest_in_radius

    left = spark.createDataFrame([(1, 0, 0)], "lid long, x long, y long")
    right = spark.createDataFrame(
        [(10, 3, 0), (11, 0, 3), (12, 5, 0)], "rid long, x long, y long"
    )
    got = nearest_in_radius(left, right, 10, ["lid"], ["rid"]).collect()
    # 10 and 11 tie at dist2=9; the rid-ascending tie-break picks 10
    assert [(r.lid, r.rid, r.dist2) for r in got] == [(1, 10, 9)]


# --- acf: hand series ----------------------------------------------------------


def test_autocorrelation_hand_series(spark):
    from magi_etl_spark.operators.acf import autocorrelation

    df = spark.createDataFrame(
        [("s", t, x) for t, x in enumerate([1, 2, 3, 4])],
        "g string, t int, x int",
    )
    got = {
        r.k: r.r_k
        for r in autocorrelation(df, ["g"], "t", F.col("x"), 3).collect()
    }
    # mean 2.5, variance-sum 5: r1 = 1.25/5, r2 = -1.5/5, r3 = -2.25/5
    assert got == {1: 0.25, 2: -0.3, 3: -0.45}


def test_autocorrelation_constant_series_is_null(spark):
    from magi_etl_spark.operators.acf import autocorrelation

    df = spark.createDataFrame(
        [("s", t, 7) for t in range(5)], "g string, t int, x int"
    )
    got = autocorrelation(df, ["g"], "t", F.col("x"), 2).collect()
    assert len(got) == 2 and all(r.r_k is None for r in got)


def test_autocorrelation_huge_values_do_not_wrap(spark):
    """Near-2**62 values: EVERY sufficient statistic (the linear sums S,
    H_k, T_k included, not just the squares) accumulates in
    decimal(38,0) — a BIGINT sum of three 2**62 values raises under
    ANSI Spark (the q227 ssq class applied to the first moment)."""
    from magi_etl_spark.operators.acf import autocorrelation

    df = spark.createDataFrame(
        [("s", t, 2**62) for t in range(3)], "g string, t int, x long"
    )
    got = autocorrelation(df, ["g"], "t", F.col("x"), 1).collect()
    # constant series: NULL r_k — but the sums must survive the scale
    assert [(r.k, r.n, r.r_k) for r in got] == [(1, 3, None)]


# --- fdr: hand p-values ---------------------------------------------------------


def test_bh_hand_values(spark):
    from magi_etl_spark.operators.fdr import bh_reject, bh_summary

    # m=10, alpha=1/20: threshold at rank i is 5000*i micro.
    # p=[4000, 9000, 16000, 7 x 900000]: i=1 ok, i=2 ok, i=3 (16000 >
    # 15000) no, tail no -> k*=2, p*=9000, 2 rejections.
    ps = [4000, 9000, 16000] + [900_000] * 7
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "hid int, p long"
    )
    s = bh_summary(df, "p", ["hid"], 1, 20).collect()[0]
    assert (s.m, s.k_star, s.p_star_micro, s.n_rejected) == (10, 2, 9000, 2)
    verdicts = {
        r.hid: r.rejected for r in bh_reject(df, "p", ["hid"], 1, 20).collect()
    }
    assert verdicts == {i: (i < 2) for i in range(10)}


def test_bh_default_partitions_derive_from_session_conf(spark):
    """num_partitions=None rides the session's shuffle.partitions (the
    parallelism analogue of the q211 derived defaults — a fixed 32
    would cap a 1000-executor global rank at 32 tasks); the rank is
    partitioning-independent, so the derived and explicit calls agree
    row for row."""
    from magi_etl_spark.operators.fdr import bh_reject

    ps = [4000, 9000, 16000] + [900_000] * 7
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "hid int, p long"
    )
    derived = {(r.hid, r.p_rank, r.rejected)
               for r in bh_reject(df, "p", ["hid"], 1, 20).collect()}
    explicit = {(r.hid, r.p_rank, r.rejected)
                for r in bh_reject(df, "p", ["hid"], 1, 20,
                                   num_partitions=5).collect()}
    assert derived == explicit and len(derived) == 10


def test_bh_nothing_clears(spark):
    from magi_etl_spark.operators.fdr import bh_summary

    df = spark.createDataFrame(
        [(i, 900_000 + i) for i in range(5)], "hid int, p long"
    )
    s = bh_summary(df, "p", ["hid"], 1, 20).collect()[0]
    assert (s.m, s.k_star, s.p_star_micro, s.n_rejected) == (5, None, None, 0)


def test_bh_tie_at_threshold_rejects_all_ties(spark):
    from magi_etl_spark.operators.fdr import bh_summary

    # m=4, alpha=1/2: threshold at rank i is 125000*i.  p = [100000 x 3,
    # 990000]: ranks 1..3 all satisfy (100000 <= 125000*1) -> k*=3,
    # all three ties rejected together.
    df = spark.createDataFrame(
        [(0, 100_000), (1, 100_000), (2, 100_000), (3, 990_000)],
        "hid int, p long",
    )
    s = bh_summary(df, "p", ["hid"], 1, 2).collect()[0]
    assert (s.k_star, s.n_rejected) == (3, 3)


# --- cmh: hand strata -----------------------------------------------------------


def test_cmh_hand_values(spark):
    from magi_etl_spark.operators.cmh import cmh_test

    # stratum 1: a=4 b=1 c=2 d=3 (n=10); stratum 2: a=3 b=2 c=1 d=4
    rows = []
    for st, (a, b, c, d) in [(1, (4, 1, 2, 3)), (2, (3, 2, 1, 4))]:
        rows += [(st, "A", 1)] * a + [(st, "A", 0)] * b
        rows += [(st, "B", 1)] * c + [(st, "B", 0)] * d
    df = spark.createDataFrame(rows, "st int, g string, y int")
    got = cmh_test(
        df, ["st"], F.col("g"), F.col("y"), "A", "B"
    ).collect()[0]
    # per stratum: E = 5*6/10 = 3 and 5*4/10 = 2; V = 5*5*6*4/(100*9)
    # = 600/900 and 5*5*4*6/(100*9); sum_a=7, sum_e=5, sum_v=4/3
    # chi2 = 4 / (4/3) = 3; OR_MH = (12/10 + 12/10)/(2/10 + 2/10) = 6
    assert (got.n_strata, got.sum_a, got.expected_a) == (2, 7, 5.0)
    assert got.chi2 == 3.0
    assert got.or_mh == 6.0


def test_cmh_skips_degenerate_strata(spark):
    from magi_etl_spark.operators.cmh import cmh_test

    rows = [(1, "A", 1), (1, "B", 0), (1, "A", 0), (1, "B", 1),
            (2, "A", 1)]  # stratum 2: n=1, no B margin -> excluded
    df = spark.createDataFrame(rows, "st int, g string, y int")
    got = cmh_test(df, ["st"], F.col("g"), F.col("y"), "A", "B").collect()[0]
    assert got.n_strata == 1


# --- ndcg: hand rankings ---------------------------------------------------------


def test_ndcg_perfect_and_reversed(spark):
    from magi_etl_spark.operators.ndcg import ndcg_at_k

    rows = [("q", i, rel) for i, rel in enumerate([3, 2, 1, 0])]
    df = spark.createDataFrame(rows, "q string, pos int, rel int")
    perfect = ndcg_at_k(
        df, ["q"], [F.asc("pos")], F.col("rel"), 10
    ).collect()[0]
    assert perfect.ndcg == 1.0 and perfect.dcg == perfect.idcg
    reversed_ = ndcg_at_k(
        df, ["q"], [F.desc("pos")], F.col("rel"), 10
    ).collect()[0]
    # DCG(rev): gains (2^rel - 1) = [0, 1, 3, 7] at positions 1..4 ->
    # 0/1 + 1/log2(3) + 3/2 + 7/log2(5); IDCG = 7 + 3/log2(3) + 1/2
    import math

    dcg = 1 / math.log2(3) + 1.5 + 7 / math.log2(5)
    idcg = 7 + 3 / math.log2(3) + 0.5
    assert reversed_.ndcg == round(dcg / idcg, 6)


def test_ndcg_no_relevant_candidates_is_null(spark):
    from magi_etl_spark.operators.ndcg import ndcg_at_k

    df = spark.createDataFrame(
        [("q", 1, 0), ("q", 2, 0)], "q string, pos int, rel int"
    )
    got = ndcg_at_k(df, ["q"], [F.asc("pos")], F.col("rel"), 10).collect()[0]
    assert got.ndcg is None and got.idcg == 0.0
