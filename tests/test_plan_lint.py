"""Plan linter: the cluster-killer shapes are detected, clean plans
pass, and the repo's own registered queries are lint-clean."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _rules(findings):
    return {f.rule for f in findings}


def test_detects_unpartitioned_window(spark):
    from magi_etl_spark.plans import assert_scalable, lint

    df = spark.range(100).withColumn(
        "rn", F.row_number().over(W.orderBy("id"))
    )
    assert "single-partition-exchange" in _rules(lint(df))
    with pytest.raises(ValueError, match="single-partition"):
        assert_scalable(df)
    # the allowance exists for deliberately-bounded frames
    assert_scalable(df, allow_single_partition=True)


def test_detects_cartesian_product(spark):
    from magi_etl_spark.plans import lint

    a = spark.range(10_000_000).withColumn("x", F.col("id") * 2)
    b = spark.range(10_000_000).withColumn("y", F.col("id") * 3)
    # both sides above broadcast threshold, no join key -> CartesianProduct
    df = a.crossJoin(b)
    assert "cartesian-product" in _rules(lint(df))


def test_broadcast_nested_loop_is_warning_not_error(spark):
    from magi_etl_spark.plans import assert_scalable

    big = spark.range(1000).withColumn("x", F.col("id") * 2)
    scalar = spark.range(1).select(F.lit(5).alias("threshold"))
    findings = assert_scalable(big.crossJoin(F.broadcast(scalar)))
    assert any(f.rule == "broadcast-nested-loop" for f in findings)


def test_shuffle_budget(spark):
    from magi_etl_spark.plans import lint

    df = (
        spark.range(1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .count()
    )
    over = lint(df, max_shuffles=0)
    assert "shuffle-budget" in _rules(over)
    ok = lint(df, max_shuffles=5)
    assert "shuffle-budget" not in _rules(ok)
    assert any(f.rule == "shuffle-count" for f in ok)


def test_clean_keyed_agg_passes(spark, sf_dir):
    from magi_etl_spark.plans import assert_scalable
    from magi_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(F.count("*").alias("n"))
    findings = assert_scalable(agg, max_shuffles=1)
    assert all(f.severity != "error" for f in findings)


def test_every_registered_query_is_lint_clean(built_query):
    """The engine's own surface obeys its own linter: ALL registered
    queries compile with zero error-severity findings — no cartesian
    products and no unsafe single-partition exchanges anywhere,
    including the queries specifically REWORKED to eliminate these
    shapes (q63/q94 prefix sum, q78 distributed top-k, q90 per-column
    union).  The only warnings in the tree are broadcast-nested-loop
    joins against provably-tiny frames (scalar configs, centroid
    tables, 1-row corpus stats)."""
    from magi_etl_spark.plans import lint
    from magi_etl_spark.queries import QUERIES

    errors = {}
    for name, fn in QUERIES.items():
        findings = lint(built_query(name, fn))
        errs = [f for f in findings if f.severity == "error"]
        if errs:
            errors[name] = [f.rule for f in errs]
    assert not errors, errors
