"""Invariant tests for the later r7 families: Theil-Sen robustness,
ANN recall metrics, candidate confusion counts, Lorenz monotonicity,
data-skipping exactness, and DPP plan injection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_theil_sen_matches_python_and_resists_outlier(spark):
    from magi_etl_spark.operators.robustfit import theil_sen_trend

    # clean line y = 7x + noise, one wild outlier at x=9
    pts = [(0, 0), (1, 7), (2, 14), (3, 22), (4, 28), (5, 35), (6, 41),
           (7, 49), (8, 56), (9, 1000)]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x int, y long"
    )
    got = theil_sen_trend(df, ["g"], "x", "y").collect()[0]
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for x2, y2 in pts[i + 1 :]
    )
    n = len(slopes)
    want = (slopes[(n + 1) // 2 - 1] + slopes[(n + 2) // 2 - 1]) / 2
    assert got.n_points == 10 and got.n_pairs == n
    assert got.sen_slope == pytest.approx(round(want, 6), abs=1e-9)
    # robustness: the median slope stays near 7 despite the outlier
    assert 6.0 < got.sen_slope < 8.5


def test_topk_recall_hand_fixture(spark):
    from magi_etl_spark.operators.retrieval_eval import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, vec_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 77)],
        "query_id long, vec_id long",
    )
    got = {r.query_id: (r.n_exact, r.n_hits, r.recall)
           for r in topk_recall(approx, exact).collect()}
    assert got == {1: (3, 2, pytest.approx(2 / 3, abs=1e-6)),
                   2: (2, 0, 0.0)}


def test_candidate_metrics_confusion_counts(spark):
    from magi_etl_spark.operators.retrieval_eval import candidate_metrics

    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "doc_a long, doc_b long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (4, 5), (6, 7)], "doc_a long, doc_b long"
    )
    r = candidate_metrics(cand, truth).collect()[0]
    assert (r.tp, r.fp, r.fn) == (2, 1, 1)
    assert r.precision == pytest.approx(2 / 3, abs=1e-6)
    assert r.recall == pytest.approx(2 / 3, abs=1e-6)


def test_lorenz_points_monotone_and_complete(spark, sf_dir):
    from magi_etl_spark.operators.inequality import lorenz_points
    from magi_etl_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == cust.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("m"),
    )
    out = lorenz_points(j, ["segment"], "o_custkey", F.col("m")).collect()
    by_seg: dict[str, list] = {}
    for r in out:
        by_seg.setdefault(r.segment, []).append((r.decile, r.mass_share))
    for seg, rows in by_seg.items():
        rows.sort()
        shares = [s for _, s in rows]
        assert shares == sorted(shares), seg  # Lorenz curve is monotone
        assert rows[-1] == (10, 1.0), seg  # last decile carries all mass
        # Lorenz curve lies under the diagonal
        for d, s in rows:
            assert s <= d / 10 + 1e-9, (seg, d, s)


def test_pruned_read_is_exact_and_prunes(spark, sf_dir, tmp_path):
    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats
    from magi_etl_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "od", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    path = str(tmp_path / "orders_skip")
    write_with_stats(orders, path, "od", n_files=8)
    df, n_read, n_total = pruned_read(spark, path, "1996-01-01", "1996-12-31")
    assert 0 < n_read < n_total
    want = orders.where(
        (F.col("od") >= "1996-01-01") & (F.col("od") <= "1996-12-31")
    ).count()
    assert df.count() == want
    # empty range: zero files, zero rows, still a valid frame
    df0, n0, _ = pruned_read(spark, path, "2050-01-01", "2050-12-31")
    assert n0 == 0 and df0.count() == 0


def test_pruned_read_numeric_key_is_numeric_not_lexicographic(spark, tmp_path):
    """r7 ADVICE regression: bounds compared as str()-ified values gave
    numeric keys string-range semantics ('10' < '9') in both the file
    cut and the returned rows.  The manifest now records the key kind
    and compares natively; [9, 30] over a 1..200 long key must return
    exactly the 22 numeric matches — the lexicographic read would both
    drop (100..200 sort before '9') and keep ('3' ranges) wrong rows."""
    import pytest

    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    df = spark.range(1, 201).withColumn("k", F.col("id"))
    path = str(tmp_path / "numeric_skip")
    m = write_with_stats(df, path, "k", n_files=6)
    assert m["kind"] == "numeric"
    got, n_read, n_total = pruned_read(spark, path, 9, 30)
    rows = sorted(r.k for r in got.collect())
    assert rows == list(range(9, 31)), rows
    assert 0 < n_read < n_total
    # string-typed bound inputs parse, same result
    got2, _, _ = pruned_read(spark, path, "9", "30")
    assert sorted(r.k for r in got2.collect()) == rows
    # unsupported key types are rejected at write time, not mis-pruned
    arr = df.withColumn("a", F.array("id"))
    with pytest.raises(TypeError, match="unsupported type"):
        write_with_stats(arr, str(tmp_path / "bad"), "a")


def test_pruned_read_decimal_key_keeps_fractional_bounds(spark, tmp_path):
    """r8 ADVICE regression (high): decimal bounds were serialized with
    int(v), truncating Decimal('123.45') to 123 in the manifest — a file
    whose true range was [123.10, 123.45] recorded hi=123 and was
    dropped for pruned_read(123.2, 123.4), silently losing matching
    rows (the exact predicate only re-runs on KEPT files).  Bounds now
    serialize as str(v) and compare via decimal.Decimal."""
    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    df = (
        spark.range(0, 60)
        .withColumn("k", (F.lit(123) + F.col("id") / 100).cast("decimal(10,2)"))
    )
    path = str(tmp_path / "decimal_skip")
    m = write_with_stats(df, path, "k", n_files=6)
    assert m["kind"] == "numeric"
    # every stored bound keeps its fractional digits
    assert any("." in str(e["hi"]) for e in m["files"]), m["files"]
    got, n_read, n_total = pruned_read(spark, path, "123.20", "123.40")
    rows = sorted(float(r.k) for r in got.collect())
    assert rows == [round(123.20 + i / 100, 2) for i in range(21)], rows
    assert 0 < n_read < n_total


def test_pruned_read_timestamp_key_separator_insensitive(spark, tmp_path):
    """r8 ADVICE regression (medium): manifest bounds were written with
    isoformat() ('T' separator) but compared against str(lo) (space
    separator); since 'T' > ' ' lexicographically, an in-range file was
    wrongly skipped.  Both sides now canonicalize through fromisoformat,
    so datetime objects, 'T'-strings and SQL-style space-strings all
    compare in timestamp order.

    r9 hardening (caught by this test's NY leg): bounds and predicate
    are SESSION-frame (UTC) wall times end to end — the manifest is
    rendered by Spark's cast(string), never Python's OS-local
    fromtimestamp, and the predicate literal is the canonical ISO
    string, never F.lit(datetime) (OS-local embedding).  The assertions
    below compare session-frame date_format strings so the expected
    values are OS-timezone-independent."""
    import datetime as dt

    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    df = spark.range(0, 48).select(
        (F.to_timestamp(F.lit("2023-01-06 00:00:00"))
         + F.make_interval(hours=F.col("id"))).alias("ts")
    )
    path = str(tmp_path / "ts_skip")
    m = write_with_stats(df, path, "ts", n_files=6)
    assert m["kind"] == "iso" and m["base"] == "timestamp"
    # manifest bounds are Spark-rendered session-frame walls: the global
    # min is the seed value regardless of the OS zone
    assert min(e["lo"] for e in m["files"]).startswith("2023-01-06 00:00")
    want = [
        f"2023-01-06 {h:02d}:00:00" for h in range(10, 23)
    ]
    for lo, hi in [
        (dt.datetime(2023, 1, 6, 10), dt.datetime(2023, 1, 6, 22)),
        ("2023-01-06 10:00:00", "2023-01-06 22:00:00"),
        ("2023-01-06T10:00:00", "2023-01-06T22:00:00"),
        (  # aware datetimes convert to the session zone: 05:00-17:00
           # at UTC-5 are the same instants as 10:00-22:00 UTC
            dt.datetime(2023, 1, 6, 5,
                        tzinfo=dt.timezone(dt.timedelta(hours=-5))),
            dt.datetime(2023, 1, 6, 17,
                        tzinfo=dt.timezone(dt.timedelta(hours=-5))),
        ),
    ]:
        got, n_read, n_total = pruned_read(spark, path, lo, hi)
        rows = sorted(
            r.s
            for r in got.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
            ).collect()
        )
        assert rows == want, (lo, hi)
        assert 0 < n_read < n_total, (lo, hi)


def test_dpp_plan_injection(spark, sf_dir, tmp_path):
    from magi_etl_spark.operators.skipping import (
        dpp_join,
        dpp_plan,
        write_partitioned_fact,
    )
    from magi_etl_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    path = str(tmp_path / "events_dpp")
    write_partitioned_fact(events, path, "day")
    daily = events.groupBy("day").agg(F.count("*").alias("n"))
    tot, nd = daily.agg(F.sum("n").cast("long"), F.count("*")).first()
    dim = daily.where(F.col("n") > int(tot) // int(nd)).select("day")
    joined = dpp_join(spark, path, dim, "day")
    assert "dynamicpruning" in dpp_plan(joined).lower()
    # semantics unchanged by the pruning
    want = events.join(dim, "day").count()
    assert joined.count() == want


def test_cooccurrence_edges_equals_self_join(spark, sf_dir):
    """The map-side combination explode produces exactly the edge set
    of the keyed self-join it replaces."""
    from magi_etl_spark.operators.kcore import (
        cooccurrence_edges,
        undirected_edges,
    )
    from magi_etl_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    got = {
        (r.a, r.b) for r in cooccurrence_edges(li, "l_orderkey", "l_suppkey").collect()
    }
    base = li.select("l_orderkey", "l_suppkey").distinct()
    a = base.alias("x")
    b = base.alias("y")
    pairs = a.join(
        b,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
    ).select(F.col("x.l_suppkey").alias("s1"), F.col("y.l_suppkey").alias("s2"))
    want = {
        (r.a, r.b) for r in undirected_edges(pairs, "s1", "s2").collect()
    }
    assert got == want and got


def test_langid_confusion_shares_sum_to_one(spark, sf_dir):
    from magi_etl_spark.queries import QUERIES

    out = QUERIES["q206_langid_confusion"](spark, sf_dir).collect()
    by_lang: dict[str, float] = {}
    for r in out:
        by_lang[r.lang] = by_lang.get(r.lang, 0.0) + r.share
    for lang, total in by_lang.items():
        assert total == pytest.approx(1.0, abs=1e-4), lang
