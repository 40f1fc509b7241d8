"""Physical-plan regression tests: lock in the scan/join properties the
engine is designed around (pushdown, broadcast, no accidental cartesian
products) so a refactor can't silently regress them."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from magi_etl_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_filters_and_projection_push_into_scan(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q02_filter_project")
    assert "PushedFilters:" in p and "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(l_quantity,45" in p
    # projection pruning: unneeded columns don't reach the scan
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema and "l_suppkey" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q05_region_revenue")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_semi_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "q06_semi_join")
    assert "LeftAnti" in plan_of(spark, sf_dir, "q07_anti_join")


def test_agg_is_partial_then_single_exchange(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "partial_sum" in p  # map-side partial aggregation present
    assert p.count("+- Exchange") == 1  # one shuffle for the whole rollup
    # the to_date() range filter still reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p


def test_topk_uses_window_group_limit(spark, sf_dir):
    # Spark 4 pushes rank()<=k into WindowGroupLimit before the full sort
    p = plan_of(spark, sf_dir, "q10_topk_per_group")
    assert "WindowGroupLimit" in p


def test_blocked_neardup_spreads_join_input(spark, sf_dir, checkpoint_mode):
    """Regression lock for the r4 fan_out fix: blocked_neardup_pairs
    feeds a bucket-JOIN output whose row count AQE coalesces to a few
    partitions, while the downstream cost is O(pairs-per-bucket).  The
    explicit width hint must force a round-robin spread to
    defaultParallelism — without it the pair scan pins to one core and
    the whole embedding-dedup family runs ~8x slower (observed at
    sf0.1 when the hint was missing).  Built under ``off`` mode, so the
    exchange is not hidden inside the operator's ``chkpt`` barrier."""
    from magi_etl_spark.operators.similarity import (
        blocked_neardup_pairs,
        srp_lsh_buckets,
    )
    from magi_etl_spark.queries.similarity import _dedup_planes
    from magi_etl_spark.tables import load_table

    em = load_table(spark, sf_dir, "embeddings")
    buckets = srp_lsh_buckets(em, seed_planes=_dedup_planes())
    blocked = em.join(buckets, "vec_id")
    checkpoint_mode("off")
    out = blocked_neardup_pairs(blocked, "bucket", threshold=0.95)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in p, p[:2000]


def test_sorted_neighborhood_has_no_unpartitioned_window(spark, sf_dir):
    """The SNM global rank must come from the range-partitioned two-pass
    operator: a RangePartitioning exchange feeds per-partition windows
    keyed on the physical partition id — never one global window."""
    import pyspark.sql.functions as F

    from magi_etl_spark.operators.joins import sorted_neighborhood_pairs
    from magi_etl_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    out = sorted_neighborhood_pairs(d, "doc_id", F.substring("text", 1, 16), window=4)
    p = out._jdf.queryExecution().executedPlan().toString()
    # the range exchange itself sits behind the rank operator's eager
    # localCheckpoint (lineage truncation is the point of that
    # materialization), so the downstream plan shows the checkpointed
    # scan; what must hold HERE is that no later stage re-sorts globally
    assert "Scan ExistingRDD" in p
    assert p.lower().count("rangepartitioning") == 0  # no re-sort downstream
    for line in p.splitlines():
        if "windowspecdefinition(" in line:
            # every window spec carries a partition key (the pinned-partition
            # offset frame included) — a spec starting at the ORDER BY
            # fields only would be the single-partition trap
            head = line.split("windowspecdefinition(", 1)[1]
            assert "_pid" in head or "_w" in head, line


def test_salted_join_spreads_the_hot_key(spark, sf_dir):
    """5 event types over the whole events table is the textbook hot-key
    join; the salted form must keep a hash join keyed on (key, salt) —
    no broadcast needed for correctness, but the JOIN KEY must widen."""
    import pyspark.sql.functions as F

    from magi_etl_spark.operators.joins import salted_join
    from magi_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    dim = e.select("event_type").distinct().withColumn("w", F.lit(1.0))
    out = salted_join(e, dim, ["event_type"], salt_buckets=8)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in p  # the widened key survives into the physical join
    assert "CartesianProduct" not in p


def test_exact_profile_has_no_expand(spark, sf_dir):
    """Exact profiling must use per-column union passes, not the Expand
    that multiplies input (k+1)x before the partial aggregate (bench q90
    went 12.7s -> 1.8s at sf0.1 on this rewrite); the approx path stays
    single-pass HLL (no Expand either — sketches merge map-side)."""
    from magi_etl_spark.operators.profile import profile_table
    from magi_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    for approx in (False, True):
        p = (
            profile_table(o, approx=approx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Expand" not in p, f"approx={approx}: {p[:1500]}"


def test_plan_fingerprint_hashes_the_canonical_plan(spark, sf_dir):
    import hashlib

    from magi_etl_spark.plans import canonical_plan, plan_fingerprint

    for name in ("q01_pricing_summary", "q184_active_user_stickiness"):
        df = QUERIES[name](spark, sf_dir)
        physical = df._jdf.queryExecution().executedPlan().toString()
        canon = canonical_plan(physical).encode()
        assert plan_fingerprint(df) == hashlib.md5(canon).hexdigest()[:12]
