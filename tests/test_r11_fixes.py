"""Round-11 ADVICE regression tests (the 8-for-8 habit).

r10 ADVICE items, each pinned here:
1. (medium) selection.py bin ids overflowed BIGINT when the column
   spans more than the signed-64 range — ANSI Spark (the 4.x default)
   raises ARITHMETIC_OVERFLOW, non-ANSI wraps to negative bins the
   driver walk never visits (infinite loop).  Now decimal(38,0).
2. (low) skipping.py crashed on offset-style session zone ids
   ("+08:00", "GMT+8") that the JVM accepts but zoneinfo rejects.
3. (low) kstest.py kept NULL values as a CDF point, whose sort
   position differs between Spark (NULLS FIRST) and DuckDB (NULLS
   LAST); the KS statistic is undefined at a null value anyway.
4. (low) plan_fingerprint v2 stripped ALL digits, so plans differing
   only in a plan-level numeric parameter (GlobalLimit, bucket count,
   numPartitions) collided; v3 neutralizes only the compile-order-flaky
   constructs (gid labels + unordered list order) and keeps the rest.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

LONG_MIN = -(2**63)
LONG_MAX = 2**63 - 1


# --- ADVICE 1 (medium): selection survives the full int64 range -------------


def test_kth_smallest_full_int64_range(spark):
    """lo near LONG_MIN with positive values: the first round's span
    exceeds LONG_MAX, where the old BIGINT subtraction raised under
    ANSI Spark (observed: ARITHMETIC_OVERFLOW) — the module docstring
    promises full 64-bit keys."""
    from magi_etl_spark.operators.selection import kth_smallest

    vals = [LONG_MIN, -5, 0, 7, LONG_MAX]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for k, want in enumerate(sorted(vals), start=1):
        assert kth_smallest(df, "v", k) == want


def test_exact_quantiles_full_int64_range(spark):
    from magi_etl_spark.operators.selection import exact_quantiles

    vals = [LONG_MIN, -1, 0, 1, LONG_MAX]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        (r.q_num, r.q_den): r.value
        for r in exact_quantiles(df, "v", [(1, 2), (1, 5), (99, 100)]).collect()
    }
    # lower empirical quantile k = ceil(q*n): median k=3 -> 0,
    # p20 k=1 -> LONG_MIN, p99 k=5 -> LONG_MAX
    assert got == {(1, 2): 0, (1, 5): LONG_MIN, (99, 100): LONG_MAX}


# --- ADVICE 2 (low): offset-style session zone ids ---------------------------


def test_session_zone_parses_offset_ids(spark):
    from magi_etl_spark.operators.skipping import _session_zone

    old = spark.conf.get("spark.sql.session.timeZone")
    probe = dt.datetime(2023, 6, 1)
    try:
        for zid, minutes in [
            ("+08:00", 480),
            ("-0530", -330),
            ("GMT+8", 480),
            ("UTC+2", 120),
            ("America/New_York", -240),  # region ids keep working (EDT)
        ]:
            spark.conf.set("spark.sql.session.timeZone", zid)
            tz = _session_zone(spark)
            off = tz.utcoffset(probe)
            assert off == dt.timedelta(minutes=minutes), (zid, off)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_pruned_read_aware_bounds_in_offset_zone_session(spark, tmp_path):
    """End-to-end: the exact r10 ADVICE scenario — aware bounds in a
    session whose zone id zoneinfo rejects.  Old code raised
    ZoneInfoNotFoundError; now the +08:00 walls come back."""
    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "+08:00")
    try:
        df = spark.range(0, 48).select(
            (
                F.to_timestamp(F.lit("2023-01-06 00:00:00"))
                + F.make_interval(hours=F.col("id"))
            ).alias("ts")
        )
        path = str(tmp_path / "ts_skip_off8")
        write_with_stats(df, path, "ts", n_files=6)
        # +08:00 walls 10:00..22:00 on 2023-01-06 are the UTC instants
        # 02:00..14:00 — aware bounds must select exactly those 13 walls
        lo = dt.datetime(2023, 1, 6, 2, tzinfo=dt.timezone.utc)
        hi = dt.datetime(2023, 1, 6, 14, tzinfo=dt.timezone.utc)
        got, n_read, n_total = pruned_read(spark, path, lo, hi)
        rows = sorted(
            r.s
            for r in got.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
            ).collect()
        )
        assert rows == [f"2023-01-06 {h:02d}:00:00" for h in range(10, 23)]
        assert 0 < n_read < n_total
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# --- ADVICE 3 (low): KS drops null values ------------------------------------


def test_ks_two_sample_drops_null_values(spark):
    from magi_etl_spark.operators.kstest import ks_two_sample

    rows = [
        ("s", "a", 1), ("s", "a", 2), ("s", "b", 1), ("s", "b", 3),
        ("s", "a", None), ("s", "b", None),  # must not become CDF points
    ]
    df = spark.createDataFrame(rows, "g string, smp string, v int")
    got = ks_two_sample(df, ["g"], "smp", "v", "a", "b").collect()
    assert len(got) == 1
    r = got[0]
    # a=[1,2], b=[1,3]: argmax at v=2 -> |2*2 - 1*2| / (2*2) = 0.5;
    # null rows excluded from n_a/n_b and from the CDF alike
    assert (r.n_a, r.n_b, r.d_stat) == (2, 2, 0.5)


# --- ADVICE 4 (low): fingerprint keeps numeric plan parameters ---------------


def test_plan_fingerprint_distinguishes_numeric_plan_params(spark, sf_dir):
    from magi_etl_spark.plans import plan_fingerprint
    from magi_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # GlobalLimit value
    assert plan_fingerprint(ev.orderBy("ts").limit(10)) != plan_fingerprint(
        ev.orderBy("ts").limit(20)
    )
    # a derived bucket-count literal (the q211 class the gate must see)
    bucket = lambda n: ev.groupBy(  # noqa: E731
        (F.crc32(F.col("user_id").cast("string")) % n).alias("b")
    ).count()
    assert plan_fingerprint(bucket(16)) != plan_fingerprint(bucket(64))
    # explicit shuffle partition counts
    assert plan_fingerprint(ev.repartition(4, "user_id")) != plan_fingerprint(
        ev.repartition(16, "user_id")
    )


# --- proactive hardening: the same two defect classes latent in wquantile ----


def test_weighted_quantiles_drop_null_values(spark):
    """The kstest null-ordering class, found by the r11 hardening sweep:
    a null value made a NULLS-FIRST cumulative-weight row on Spark but
    NULLS-LAST on DuckDB, shifting every cumulative weight in the
    group.  Nulls now drop before the CDF."""
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    rows = [("g", 10, 3), ("g", 20, 3), ("g", 30, 3), ("g", None, 100)]
    df = spark.createDataFrame(rows, "g string, v int, w int")
    got = {
        r.q: r.wq
        for r in weighted_quantiles(df, ["g"], "v", "w", [0.5, 0.9]).collect()
    }
    # weights 3/3/3 over values 10/20/30: p50 -> 20, p90 -> 30; the
    # weight-100 null row must not absorb the thresholds
    assert got == {0.5: 20, 0.9: 30}


def test_weighted_quantiles_threshold_survives_huge_weights(spark):
    """The q227 ssq class: cum_weight * den passed 2**63 at corpus-scale
    weights, raising under ANSI Spark.  The compare now runs in
    decimal."""
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    big = 2**62
    df = spark.createDataFrame(
        [("g", 1, big), ("g", 2, big), ("g", 3, big)],
        "g string, v int, w long",
    )
    got = {
        r.q: r.wq
        for r in weighted_quantiles(df, ["g"], "v", "w", [0.5]).collect()
    }
    assert got == {0.5: 2}


def _one_digit_wider(plan: str) -> str:
    """``plan`` as Spark renders it once every expression id has one more
    digit, as later in a long session: Spark keeps the first 97
    characters of a long ``DataFilters`` list and appends "...", so a
    cut list is cut again at the same length."""
    wide = re.sub(r"#(\d)", r"#1\1", plan)
    return re.sub(
        r"(DataFilters: )(\[[^\n]*?)\.\.\.(?=, Format: )",
        lambda m: m.group(1) + m.group(2)[:97] + "...",
        wide,
    )


def test_plan_fingerprint_still_stable_on_distinct_rewrite_queries(spark, sf_dir):
    """The two queries whose v1 hashes were compile-order coin flips
    (r10 finding: q184 4-of-4 distinct, q208 2-of-6) must stay stable
    under v3, which no longer strips digits globally.  q40 names its
    lambda variables from a JVM-wide counter and has a cut DataFilters
    list, so every build renders both anew; q02's cut list must hash
    alike at a wider expression-id width."""
    from magi_etl_spark.plans import _physical, plan_fingerprint
    from magi_etl_spark.queries import QUERIES

    for qn in ["q184_active_user_stickiness", "q208_chi_square", "q40_corpus_pipeline"]:
        fps = {plan_fingerprint(QUERIES[qn](spark, sf_dir)) for _ in range(6)}
        assert len(fps) == 1, f"{qn} fingerprint flaky under v3: {fps}"
    plan = _physical(QUERIES["q02_filter_project"](spark, sf_dir))
    assert "..., Format: " in plan, "q02's DataFilters list is no longer cut"
    assert plan_fingerprint(None, plan) == plan_fingerprint(None, _one_digit_wider(plan))
