"""Engine-layer query inventory: MetricQuery (dynamic dims/metrics/filter
trees) demonstrated over the generic tables.  The oracle SQL is the
hand-expanded equivalent of what the filter-tree compiler + registry
produce — exactly the shape the reference's ``build_query`` emits as a
Presto string (``dash_app/dash_app.py:1140-1258``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from magi_etl_spark.config import FilterGroup, MetricQueryConfig
from magi_etl_spark.queries import query
from magi_etl_spark.query import metric_query


@query(
    "q30_metric_query_events",
    oracle="""
    SELECT * FROM (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               COUNT(DISTINCT user_id) AS users,
               COUNT(*) AS events_cnt,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        FROM events
        WHERE ((lower(event_type) = lower('purchase')
                OR lower(event_type) = lower('view')
                OR lower(event_type) = lower('click'))
               AND (NOT (lower(event_type) = lower('click'))))
        GROUP BY event_type, day
    ) WHERE users >= 5
    """,
)
def q30_metric_query_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetricQuery over events: nested include/exclude filter tree, two
    dims, three metrics, min-metric cutoff (reference Q4/Q5/P7/P8)."""
    cfg = MetricQueryConfig(
        dataset="events",
        dimensions=["event_type", "day"],
        metrics=["users", "events_cnt", "value_c"],
        filter_groups=[
            FilterGroup(
                attribute="event_type",
                values=["purchase", "view", "click"],
                logical_operator="or",
                subgroups=[
                    FilterGroup(
                        attribute="event_type", values=["click"], exclude=True
                    )
                ],
            )
        ],
        min_metric="users",
        min_count=5,
    )
    return metric_query(spark, sf_dir, cfg)


@query(
    "q31_metric_query_unnest",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, n_chars,
               list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        FROM documents
        WHERE (lower(lang) = lower('en') OR lower(lang) = lower('de'))
          AND len(list_intersect(toks, ['the', 'data'])) > 0
    ),
    exploded AS (
        SELECT doc_id, n_chars, trim(unnest(toks)) AS token
        FROM base WHERE len(toks) > 0
    )
    SELECT * FROM (
        SELECT token,
               COUNT(DISTINCT doc_id) AS docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM exploded GROUP BY token
    ) WHERE docs >= 10
    """,
)
def q31_metric_query_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetricQuery with an unnest dimension: array-containment filter leaf
    (reference P9), pre-explode cardinality guard (P10), cross-join-unnest
    grouping (J6/Q4) — over the documents token array."""
    cfg = MetricQueryConfig(
        dataset="documents",
        dimensions=["token"],
        metrics=["docs", "total_chars"],
        filter_groups=[
            FilterGroup(attribute="lang", values=["en", "de"], logical_operator="or"),
            FilterGroup(attribute="token", values=["the", "data"], logical_operator="or"),
        ],
        min_metric="docs",
        min_count=10,
    )
    return metric_query(spark, sf_dir, cfg)


@query(
    "q54_helix_generic",
    oracle="""
    WITH ev AS (
        SELECT user_id % 20 AS wid,
               CAST(event_id % 500 AS VARCHAR) AS article,
               CASE user_id % 3 WHEN 0 THEN 'US' WHEN 1 THEN 'DE' ELSE 'JP' END
                   AS country,
               CAST(user_id AS VARCHAR) AS amplitude_id
        FROM events
        WHERE CAST(year(ts) AS VARCHAR) = '2024'
          AND CAST(month(ts) AS VARCHAR) = '1'
    ),
    tax AS (
        SELECT CAST(p_partkey % 500 AS VARCHAR) AS article,
               CAST(p_partkey % 20 AS VARCHAR) AS twid,
               CASE WHEN (p_partkey % 6) / 10.0 + 0.4 >= 0.6
                    THEN lower(p_type) END AS genre
        FROM part
    ),
    joined AS (
        SELECT e.amplitude_id, e.country, t.genre
        FROM ev e JOIN tax t
          ON CAST(e.wid AS VARCHAR) = t.twid AND e.article = t.article
        WHERE t.genre IS NOT NULL
    ),
    cm AS (SELECT * FROM (VALUES ('US', 'north america'), ('DE', 'emea'),
                                 ('JP', 'apac')) AS v(country, region))
    SELECT j.genre, cm.region,
           COUNT(DISTINCT j.amplitude_id) AS users,
           CAST(COUNT(*) AS BIGINT) AS pageviews
    FROM joined j LEFT JOIN cm ON j.country = cm.country
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT j.amplitude_id) >= 3
    """,
)
def q54_helix_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's top-level surface — ``helix_metric_dataset`` →
    ``metric_query`` — driver-gated over the GENERIC tables via a
    deterministic adapter: events become the amplitude-shaped stream
    (float-polluted wiki_id exercising the floor-normalized join keys),
    part becomes the taxonomy (confidence ramp exercising the >= 0.6
    filter), and a 3-row country map exercises the broadcast dim joins.
    Dims = (genre [unnest], region [scalar]); metrics = distinct users +
    summed pageviews with a min-users cutoff."""
    from pyspark.sql import functions as F

    from magi_etl_spark.pipelines.helix import HelixConfig, helix_metric_dataset
    from magi_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    p = load_table(spark, sf_dir, "part")
    ev = e.select(
        F.year("ts").cast("string").alias("year"),
        F.month("ts").cast("string").alias("month"),
        (F.col("user_id") % 20).cast("double").alias("wiki_id"),
        (F.col("event_id") % 500).cast("string").alias("content_id"),
        F.concat(
            F.lit("https://w"), (F.col("user_id") % 20).cast("string"),
            F.lit(".acme.com/a/"), (F.col("event_id") % 500).cast("string"),
        ).alias("page_url"),
        F.lit(1).alias("pageviews"),
        F.element_at(
            F.array(F.lit("US"), F.lit("DE"), F.lit("JP")),
            (F.col("user_id") % 3 + 1).cast("int"),
        ).alias("country"),
        F.lit("acme").alias("brand"),
        F.lit("Web").alias("platform"),
        F.col("user_id").cast("string").alias("analytics_id"),
    )
    empty = F.expr("cast(array() as array<struct<confidence:double,value:string>>)")
    conf = (F.col("p_partkey") % 6) / F.lit(10.0) + F.lit(0.4)
    tax = p.select(
        F.create_map(
            F.lit("article_id"), (F.col("p_partkey") % 500).cast("string"),
            F.lit("wiki_id"), (F.col("p_partkey") % 20).cast("string"),
        ).alias("content_ids"),
        F.array(
            F.struct(conf.alias("confidence"), F.col("p_type").alias("value"))
        ).alias("site_all_genres"),
        empty.alias("site_all_verticals"),
        empty.alias("site_all_subgenres"),
        empty.alias("site_all_themes"),
        F.array(F.col("p_brand")).alias("site_all_franchises"),
    )
    dim = spark.range(20).select(
        F.col("id").cast("double").alias("wiki_id"),
        F.concat(F.lit("v"), (F.col("id") % 4).cast("string")).alias("vertical_name"),
    )
    cmap = spark.createDataFrame(
        [
            ("US", "United States", "North America", "NA-sub"),
            ("DE", "Germany", "EMEA", "EU-sub"),
            ("JP", "Japan", "APAC", "JP-sub"),
        ],
        "amplitude_country string, acme_country string, acme_sales_region string,"
        " sales_insights_subcontinent string",
    )
    ds = helix_metric_dataset(ev, tax, dim, cmap, HelixConfig(year="2024", month="1"))
    qcfg = MetricQueryConfig(
        dataset="helix",
        dimensions=["genre", "region"],
        metrics=["users", "pageviews"],
        min_metric="users",
        min_count=3,
    )
    return metric_query(spark, sf_dir, qcfg, dataset=ds)


@query(
    "q77_cached_metric_query",
    oracle="""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, event_type, user_id, value
        FROM events
    )
    SELECT CAST(day AS VARCHAR) AS day, event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
           CAST(COUNT(*) AS BIGINT) AS events_cnt,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
    FROM ev
    GROUP BY day, event_type
    HAVING COUNT(DISTINCT user_id) >= 5
    """,
)
def q77_cached_metric_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metric-query surface routed through the ResultCache
    materialization path (S3/S13): first call computes + writes parquet
    under a config-derived md5 key with single-flight locking, the
    second call inside the same driver invocation must HIT (asserted) —
    the driver therefore gates the cache read path, not just the
    compute.  Result equals the plain q30-style rollup."""
    import tempfile

    from magi_etl_spark.cache import ResultCache
    from magi_etl_spark.config import MetricQueryConfig
    from magi_etl_spark.query import metric_query

    cfg = MetricQueryConfig(
        dataset="events",
        dimensions=["day", "event_type"],
        metrics=["users", "events_cnt", "value_c"],
        min_metric="users",
        min_count=5,
    )
    cache = ResultCache(root=tempfile.mkdtemp(prefix="magi_q77_"))
    key = cfg.cache_key()
    computed = {"n": 0}

    def compute():
        computed["n"] += 1
        return metric_query(spark, sf_dir, cfg)

    cache.get_or_compute(spark, key, compute)
    out = cache.get_or_compute(spark, key, compute)  # must hit
    assert computed["n"] == 1, "second call recomputed despite cache"
    return out


@query(
    "q79_concurrent_fanout",
    oracle="""
    SELECT 'purchase' AS job, CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
           CAST(COUNT(*) AS BIGINT) AS events_cnt
    FROM events WHERE lower(event_type) = lower('purchase')
    GROUP BY day
    UNION ALL
    SELECT 'view' AS job, CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
           CAST(COUNT(*) AS BIGINT) AS events_cnt
    FROM events WHERE lower(event_type) = lower('view')
    GROUP BY day
    """,
)
def q79_concurrent_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S2 multi-query fan-out surface driver-gated: two MetricQuery
    jobs submitted through ``concurrency.run_concurrent`` — each on its
    own driver thread inside the FAIR scheduler pool, materialized
    eagerly (``chkpt.materialize``) so the cluster genuinely runs them
    concurrently — then unioned under a job label (reference
    ``run_multiple_queries``, ``connectors.py:302-365``: N Athena
    submissions + poll loop; on Spark the scheduler multiplexes the
    jobs and the actions block, so no polling exists).

    The checkpoint also proves the returned frame reads materialized
    blocks, not a lazily re-planned union — exactly what the reference's
    results-dict contract (query_id -> fetched rows) means."""
    from pyspark.sql import functions as F

    from magi_etl_spark.chkpt import materialize
    from magi_etl_spark.concurrency import run_concurrent

    def make(segment: str):
        def build() -> DataFrame:
            cfg = MetricQueryConfig(
                dataset="events",
                dimensions=["day"],
                metrics=["users", "events_cnt"],
                filter_groups=[
                    FilterGroup(attribute="event_type", values=[segment])
                ],
            )
            return metric_query(spark, sf_dir, cfg)

        return build

    results = run_concurrent(
        spark,
        {"purchase": make("purchase"), "view": make("view")},
        materialize=materialize,
    )
    out = [
        results[name].select(F.lit(name).alias("job"), "day", "users", "events_cnt")
        for name in ("purchase", "view")
    ]
    return out[0].unionByName(out[1])
