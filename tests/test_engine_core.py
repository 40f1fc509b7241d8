"""Unit tests for the engine core: filter-tree compiler, config hashing,
AnchorCalendar, result cache."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from magi_etl_spark.calendar import AnchorCalendar
from magi_etl_spark.cache import ResultCache
from magi_etl_spark.config import FilterGroup, MetricQueryConfig
from magi_etl_spark.filters import compile_filter_tree
from magi_etl_spark.metrics import AttributeSpec


ATTRS = {
    "color": AttributeSpec("color", lambda: F.col("color")),
    "tags": AttributeSpec("tags", lambda: F.col("tags"), unnest=True),
}


def _rows(spark, groups):
    df = spark.createDataFrame(
        [
            (1, "Red", ["a", "b"]),
            (2, "blue", ["b", "c"]),
            (3, "green", []),
            (4, "RED", ["c"]),
        ],
        "id int, color string, tags array<string>",
    )
    out = df.where(compile_filter_tree(groups, ATTRS)).select("id").collect()
    return sorted(r.id for r in out)


def test_scalar_leaf_case_insensitive(spark):
    assert _rows(spark, [FilterGroup(attribute="color", values=["red"])]) == [1, 4]


def test_or_and_exclude(spark):
    assert _rows(
        spark,
        [FilterGroup(attribute="color", values=["red", "blue"], logical_operator="or")],
    ) == [1, 2, 4]
    assert _rows(
        spark, [FilterGroup(attribute="color", values=["red"], exclude=True)]
    ) == [2, 3]


def test_array_membership_leaf(spark):
    # filter value lowercased; column values compared as-is (reference parity)
    assert _rows(spark, [FilterGroup(attribute="tags", values=["B"])]) == [1, 2]


def test_nested_subgroups_and_semantics(spark):
    # (color in red/blue) AND (NOT tags contains c)
    g = FilterGroup(
        attribute="color",
        values=["red", "blue"],
        logical_operator="or",
        subgroups=[FilterGroup(attribute="tags", values=["c"], exclude=True)],
    )
    assert _rows(spark, [g]) == [1]


def test_empty_groups_skipped(spark):
    assert _rows(spark, [FilterGroup()]) == [1, 2, 3, 4]


def test_config_cache_key_stable_and_canonical():
    a = MetricQueryConfig(dimensions=["x"], metrics=["m"])
    b = MetricQueryConfig(metrics=["m"], dimensions=["x"])
    assert a.cache_key() == b.cache_key()
    c = MetricQueryConfig(dimensions=["y"], metrics=["m"])
    assert a.cache_key() != c.cache_key()
    rt = MetricQueryConfig.from_dict(a.to_dict())
    assert rt.cache_key() == a.cache_key()


def test_anchor_calendar_fields():
    cal = AnchorCalendar("2025-02-28")  # a Friday
    assert cal.latest_date == dt.date(2025, 2, 27)
    assert cal.current_quarter == 1 and cal.last_quarter == 4
    assert cal.latest_complete_month_start == dt.date(2025, 1, 1)
    assert cal.latest_complete_month_end == dt.date(2025, 1, 31)
    assert cal.current_month_start == dt.date(2025, 2, 1)
    assert cal.current_month_end == dt.date(2025, 2, 28)
    # ISO week: 2025-02-28 is Friday; current week starts Monday 02-24
    assert cal.current_week_start == dt.date(2025, 2, 24)
    assert cal.latest_complete_week_start == dt.date(2025, 2, 17)
    assert cal.latest_complete_week_end == dt.date(2025, 2, 23)
    assert cal.mom == dt.date(2025, 1, 28)
    assert cal.yoy == dt.date(2024, 2, 28)
    # month-end clamping (Mar 31 -> Feb 28)
    assert AnchorCalendar("2025-03-31").mom == dt.date(2025, 2, 28)
    assert cal.rolling_window(30) == (dt.date(2025, 1, 29), dt.date(2025, 2, 27))
    assert cal.benchmark_days() == [
        dt.date(2025, 2, 20),
        dt.date(2025, 2, 13),
        dt.date(2025, 2, 6),
        dt.date(2025, 1, 30),
    ]


def test_result_cache_ttl_and_singleflight(spark, tmp_path):
    now = [1000.0]
    cache = ResultCache(str(tmp_path), ttl_seconds=100, clock=lambda: now[0])
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3)

    df1 = cache.get_or_compute(spark, "k1", compute)
    assert df1.count() == 3 and len(calls) == 1
    # hit: no recompute
    df2 = cache.get_or_compute(spark, "k1", compute)
    assert df2.count() == 3 and len(calls) == 1
    # expired: recompute
    now[0] += 200
    cache.get_or_compute(spark, "k1", compute)
    assert len(calls) == 2
    # force refresh
    cache.get_or_compute(spark, "k1", compute, force_refresh=True)
    assert len(calls) == 3
    # stale lock is broken (lock TTL semantics): held since t=0, now far
    # past the 1h lock TTL -> the new caller takes over and computes
    now[0] = 10_000.0
    lock = tmp_path / "k2.lock"
    lock.write_text("0")
    cache.get_or_compute(spark, "k2", compute)
    assert len(calls) == 4
    # TTL housekeeping: k1 (created ~1200) is expired at t=10000, k2 fresh
    evicted = cache.evict_expired()
    assert "k1" in evicted and "k2" not in evicted
    assert cache.lookup(spark, "k1") is None
    assert cache.lookup(spark, "k2") is not None


def test_result_cache_hit_runs_one_job(spark, tmp_path, jobs_run):
    cache = ResultCache(str(tmp_path))
    cache.get_or_compute(spark, "k", lambda: spark.range(5))
    rows, jobs = jobs_run(
        "cache-hit-one-job",
        lambda: cache.get_or_compute(spark, "k", lambda: spark.range(5)).collect(),
    )
    assert sorted(r.id for r in rows) == list(range(5))
    # the collect only: the schema comes from the sidecar, not a footer job
    assert jobs == 1


def test_result_cache_lock_always_holds_its_timestamp(spark, tmp_path):
    # whenever the holder reads the clock while the lock exists, a
    # contender tries the lock: it must find it held, not empty and stale
    lock, seen = str(tmp_path / "k.lock"), []
    contender = ResultCache(str(tmp_path), clock=lambda: 1e9)

    def clock():
        if os.path.exists(lock):
            seen.append(contender._acquire_lock(lock))
        return 1e9

    cache = ResultCache(str(tmp_path), clock=clock)
    assert cache.get_or_compute(spark, "k", lambda: spark.range(3)).count() == 3
    assert seen and not any(seen), seen


def test_result_cache_fill_reads_without_inference(spark, tmp_path, jobs_run):
    cache = ResultCache(str(tmp_path))

    def compute():
        return spark.range(5).selectExpr("id", "id * 2 AS twice")

    _, write_jobs = jobs_run(
        "cache-plain-write", lambda: compute().write.parquet(str(tmp_path / "plain"))
    )
    df, fill_jobs = jobs_run(
        "cache-fill", lambda: cache.get_or_compute(spark, "k", compute)
    )
    # the fill runs the write's jobs and nothing else
    assert fill_jobs == write_jobs
    rows, read_jobs = jobs_run("cache-fill-read", df.collect)
    assert read_jobs == 1
    assert sorted((r.id, r.twice) for r in rows) == [(i, 2 * i) for i in range(5)]


def test_result_cache_schema_matches_inference(spark, tmp_path):
    import decimal

    cache = ResultCache(str(tmp_path))

    def compute():
        df = spark.createDataFrame(
            [
                (
                    1,
                    ["a", None],
                    (2, "x"),
                    {"k": 1.5},
                    decimal.Decimal("12.34"),
                    dt.datetime(2025, 2, 20, 12, 30),
                )
            ],
            "id long not null, tags array<string>, "
            "s struct<n: int not null, t: string>, m map<string, double>, "
            "amount decimal(12, 2), ts timestamp",
        )
        return df.withColumn("nn", F.lit(7))  # a non-null literal column

    assert not compute().schema["id"].nullable
    cache.get_or_compute(spark, "k", compute)
    hit = cache.lookup(spark, "k")
    inferred = spark.read.parquet(str(tmp_path / "k"))
    assert hit.schema == inferred.schema
    assert hit.collect() == inferred.collect()


def test_result_cache_sidecar_without_schema_is_a_miss(spark, tmp_path):
    import json

    cache = ResultCache(str(tmp_path))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3)

    cache.get_or_compute(spark, "k", compute)
    meta = tmp_path / "k.meta.json"
    old = json.loads(meta.read_text())
    del old["schema"]
    meta.write_text(json.dumps(old))
    assert cache.lookup(spark, "k") is None
    df = cache.get_or_compute(spark, "k", compute)
    assert len(calls) == 2 and df.count() == 3
    assert json.loads(meta.read_text())["schema"] == spark.range(3).schema.jsonValue()
    assert [p.name for p in tmp_path.iterdir() if p.suffix == ".tmp"] == []
