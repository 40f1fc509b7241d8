"""Registered queries over the round-15 operator additions.

Round-15 wave — deliberately ≤6, six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries); the blocked-rank, two-sample, and outlier families get
their missing members:

- ``operators/pagetest.py`` — Page's L ordered-alternative trend for
  randomized blocks (the directional Friedman), third composition
  gate on the within-block doubled-rank machinery.
- ``operators/kendallw.py`` — Kendall's W coefficient of concordance
  (m-rater agreement), the effect-size companion on the same frame.
- ``operators/cochranq.py`` — Cochran's Q for k matched BINARY
  treatments (the McNemar q247 generalization), with absent-cell
  grid completion.
- ``operators/brunnermunzel.py`` — Brunner–Munzel unequal-variance
  two-sample rank test (the modern Mann–Whitney default), exact
  placement sums via weighted doubled ranks.
- ``operators/hodgeslehmann.py`` — Hodges–Lehmann pairwise-difference
  median shift estimator (the robust "by how much"), cells^2-bounded
  with the q228/q260 weighted-median selection.
- ``operators/grubbs.py`` — Grubbs' max-studentized-residual outlier
  test (keyed single-point anomaly score), pure sufficient
  statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# shared blocked-rank CTE prefix (identical to q256's frame): daily
# event counts, week blocks b = di//7, day-of-week treatments g = di%7,
# complete blocks only, doubled within-block ranks a
_BLOCKED_PREFIX = """
    WITH d AS MATERIALIZED (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
        FROM events WHERE ts IS NOT NULL
    ),
    cells AS MATERIALIZED (
        SELECT event_type, di // 7 AS b, di % 7 AS g,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM d GROUP BY 1, 2, 3
    ),
    kt AS MATERIALIZED (
        SELECT event_type, CAST(COUNT(DISTINCT g) AS BIGINT) AS k_treat
        FROM cells GROUP BY 1
    ),
    cb AS (
        SELECT c.event_type, c.b
        FROM cells c JOIN kt USING (event_type)
        GROUP BY c.event_type, c.b, kt.k_treat
        HAVING COUNT(*) = kt.k_treat AND COUNT(DISTINCT c.g) = kt.k_treat
    ),
    cc AS MATERIALIZED (
        SELECT c.event_type, c.b, c.g, c.x
        FROM cells c JOIN cb USING (event_type, b)
    ),
    r2 AS (
        SELECT event_type, b, g,
               2 * RANK() OVER (PARTITION BY event_type, b ORDER BY x)
                 + COUNT(*) OVER (PARTITION BY event_type, b, x) - 1 AS a
        FROM cc
    )
"""


# --- Page's L trend test ---------------------------------------------------


@query(
    "q262_page_dow_trend",
    oracle=_BLOCKED_PREFIX
    + """,
    ord AS (
        SELECT event_type, g,
               CAST(DENSE_RANK() OVER (
                   PARTITION BY event_type ORDER BY g) AS BIGINT) AS j
        FROM (SELECT DISTINCT event_type, g FROM cc)
    ),
    pk AS (
        SELECT r2.event_type,
               CAST(COUNT(DISTINCT r2.b) AS BIGINT) AS n_blocks,
               SUM(CAST(ord.j AS HUGEINT) * r2.a) AS l2
        FROM r2 JOIN ord USING (event_type, g)
        GROUP BY 1
    )
    SELECT kt.event_type, kt.k_treat,
           COALESCE(pk.n_blocks, 0) AS n_blocks,
           CAST(pk.l2 AS BIGINT) AS l2,
           CASE WHEN kt.k_treat >= 2 AND pk.n_blocks >= 1
                THEN ROUND(CAST(2 * pk.l2
                                - CAST(pk.n_blocks AS HUGEINT) * kt.k_treat
                                  * (kt.k_treat + 1) * (kt.k_treat + 1)
                                AS DOUBLE)
                           * 3.0
                           / SQRT(CAST(CAST(pk.n_blocks AS HUGEINT)
                                       * kt.k_treat * kt.k_treat
                                       * (kt.k_treat + 1) * (kt.k_treat + 1)
                                       * (kt.k_treat - 1) AS DOUBLE)), 6)
           END AS z
    FROM kt LEFT JOIN pk USING (event_type)
    """,
)
def q262_page_dow_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L per event type: does the DAILY event volume increase
    monotonically across the day-of-week positions 0..6, blocking by
    week so week-level level shifts cancel?  The directional
    complement of q256's omnibus Friedman on the IDENTICAL blocked
    cell frame — a monotone weekday build-up that Friedman merely
    flags as 'different' scores as a signed trend here."""
    from magi_etl_spark.operators.pagetest import page_trend_test

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("di"),
        )
        .groupBy(
            "event_type",
            F.expr("di DIV 7").alias("week"),
            (F.col("di") % 7).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return page_trend_test(daily, ["event_type"], "week", "dow", F.col("x"))


# --- Kendall's W -----------------------------------------------------------


@query(
    "q263_weekly_concordance",
    oracle=_BLOCKED_PREFIX
    + """,
    pi AS (
        SELECT event_type, g, SUM(CAST(a AS HUGEINT)) AS r2s
        FROM r2 GROUP BY 1, 2
    ),
    mf AS (
        SELECT event_type, CAST(COUNT(DISTINCT b) AS BIGINT) AS m_raters
        FROM cc GROUP BY 1
    ),
    tt AS (
        SELECT event_type, SUM(CAST(t AS HUGEINT) * t * t - t) AS tie
        FROM (SELECT event_type, b, x, CAST(COUNT(*) AS HUGEINT) AS t
              FROM cc GROUP BY 1, 2, 3)
        GROUP BY 1
    ),
    s4 AS (
        SELECT pi.event_type,
               SUM((pi.r2s - CAST(mf.m_raters AS HUGEINT) * (kt.k_treat + 1))
                   * (pi.r2s - CAST(mf.m_raters AS HUGEINT)
                      * (kt.k_treat + 1))) AS s4
        FROM pi JOIN mf USING (event_type) JOIN kt USING (event_type)
        GROUP BY 1
    )
    SELECT kt.event_type, kt.k_treat AS k_items,
           COALESCE(mf.m_raters, 0) AS m_raters,
           CASE WHEN kt.k_treat >= 2 AND mf.m_raters >= 1
                     AND CAST(mf.m_raters AS HUGEINT) * mf.m_raters
                         * (kt.k_treat * kt.k_treat * kt.k_treat - kt.k_treat)
                         - mf.m_raters * tt.tie > 0
                THEN ROUND(3.0 * CAST(s4.s4 AS DOUBLE)
                           / CAST(CAST(mf.m_raters AS HUGEINT) * mf.m_raters
                                  * (kt.k_treat * kt.k_treat * kt.k_treat
                                     - kt.k_treat)
                                  - mf.m_raters * tt.tie AS DOUBLE), 6)
           END AS w
    FROM kt LEFT JOIN mf USING (event_type)
            LEFT JOIN s4 USING (event_type)
            LEFT JOIN tt USING (event_type)
    """,
)
def q263_weekly_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W per event type: do the weeks AGREE on which
    days-of-week run hot?  Raters = complete weeks, items = the seven
    dow positions, ranked by daily volume — W near 1 means a stable
    weekly rhythm, W near 0 means the dow profile reshuffles every
    week.  The effect-size companion to q256/q262 on the identical
    frame."""
    from magi_etl_spark.operators.kendallw import kendalls_w

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("di"),
        )
        .groupBy(
            "event_type",
            F.expr("di DIV 7").alias("week"),
            (F.col("di") % 7).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return kendalls_w(daily, ["event_type"], "week", "dow", F.col("x"))


# --- Cochran's Q -----------------------------------------------------------


@query(
    "q264_cochran_parity",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT event_type, user_id % 29 AS b,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 3 AS g,
               CAST(COUNT(*) % 2 AS INTEGER) AS x
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    grid AS MATERIALIZED (
        SELECT bl.event_type, bl.b, tr.g, COALESCE(base.x, 0) AS x
        FROM (SELECT DISTINCT event_type, b FROM base) bl
        JOIN (SELECT DISTINCT event_type, g FROM base) tr USING (event_type)
        LEFT JOIN base USING (event_type, b, g)
    ),
    rs AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               SUM(r) AS n, SUM(CAST(r AS HUGEINT) * r) AS r2
        FROM (SELECT event_type, b, SUM(CAST(x AS HUGEINT)) AS r
              FROM grid GROUP BY 1, 2)
        GROUP BY 1
    ),
    cs AS (
        SELECT event_type, CAST(COUNT(DISTINCT g) AS BIGINT) AS k_treat,
               SUM(CAST(c AS HUGEINT) * c) AS c2
        FROM (SELECT event_type, g, SUM(CAST(x AS HUGEINT)) AS c
              FROM grid GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT cs.event_type, cs.k_treat,
           COALESCE(rs.n_blocks, 0) AS n_blocks,
           CASE WHEN cs.k_treat >= 2
                     AND cs.k_treat * rs.n - rs.r2 > 0
                THEN ROUND(CAST((cs.k_treat - 1)
                                * (cs.k_treat * cs.c2 - rs.n * rs.n)
                                AS DOUBLE)
                           / CAST(cs.k_treat * rs.n - rs.r2 AS DOUBLE), 6)
           END AS q
    FROM cs LEFT JOIN rs USING (event_type)
    """,
)
def q264_cochran_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q per event type: with each user bucket (user_id%29)
    as its own control block, does the odd-event-count indicator
    differ across the three day-index classes di%3?  Absent
    (bucket, class) cells count as even (0 events) via the operator's
    grid completion — the k-treatment generalization of q247's
    McNemar switch test."""
    from magi_etl_spark.operators.cochranq import cochran_q

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 29).alias("bucket"),
            (
                F.datediff(
                    F.to_date("ts"), F.lit("2024-01-01").cast("date")
                )
                % 3
            ).alias("cls"),
        )
        .groupBy("event_type", "bucket", "cls")
        .agg((F.count(F.lit(1)) % 2).cast("int").alias("odd"))
    )
    return cochran_q(base, ["event_type"], "bucket", "cls", F.col("odd"))


# --- Brunner–Munzel --------------------------------------------------------


@query(
    "q265_user_parity_bm",
    oracle="""
    WITH cells AS MATERIALIZED (
        SELECT event_type,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s,
               CAST(ROUND(value * 100) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    pooled AS (
        SELECT event_type, x,
               2 * SUM(cnt) OVER (PARTITION BY event_type ORDER BY x)
                 - cnt + 1 AS a
        FROM (SELECT event_type, x, SUM(c) AS cnt
              FROM cells GROUP BY 1, 2)
    ),
    within AS (
        SELECT event_type, s, x,
               2 * SUM(c) OVER (PARTITION BY event_type, s ORDER BY x)
                 - c + 1 AS aw
        FROM cells
    ),
    stats AS (
        SELECT cells.event_type,
               CAST(SUM(CASE WHEN s = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s = 0 THEN c ELSE 0 END) AS BIGINT) AS n2,
               SUM(CASE WHEN s = 1
                        THEN CAST(c AS HUGEINT) * a ELSE 0 END) AS sa1,
               SUM(CASE WHEN s = 0
                        THEN CAST(c AS HUGEINT) * a ELSE 0 END) AS sa2,
               SUM(CASE WHEN s = 1
                        THEN CAST(c AS HUGEINT) * (a - aw) ELSE 0 END) AS sp1,
               SUM(CASE WHEN s = 0
                        THEN CAST(c AS HUGEINT) * (a - aw) ELSE 0 END) AS sp2,
               SUM(CASE WHEN s = 1
                        THEN CAST(c AS HUGEINT) * (a - aw) * (a - aw)
                        ELSE 0 END) AS q1,
               SUM(CASE WHEN s = 0
                        THEN CAST(c AS HUGEINT) * (a - aw) * (a - aw)
                        ELSE 0 END) AS q2
        FROM cells
        JOIN pooled USING (event_type, x)
        JOIN within USING (event_type, s, x)
        GROUP BY 1
    )
    SELECT event_type, n1, n2,
           CASE WHEN n1 >= 1 AND n2 >= 1
                THEN ROUND(CAST(sa2 - CAST(n2 AS HUGEINT) * (n2 + 1)
                                AS DOUBLE)
                           / CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6)
           END AS p_hat,
           CASE WHEN n1 >= 2 AND n2 >= 2
                     AND (CAST(n1 AS HUGEINT) * q1 - sp1 * sp1) * (n2 - 1)
                         + (CAST(n2 AS HUGEINT) * q2 - sp2 * sp2) * (n1 - 1)
                         > 0
                THEN ROUND(CAST(CAST(n1 AS HUGEINT) * sa2
                                - CAST(n2 AS HUGEINT) * sa1 AS DOUBLE)
                           * SQRT(CAST(CAST(n1 - 1 AS HUGEINT) * (n2 - 1)
                                       AS DOUBLE))
                           / (CAST(n1 + n2 AS DOUBLE)
                              * SQRT(CAST(
                                    (CAST(n1 AS HUGEINT) * q1 - sp1 * sp1)
                                    * (n2 - 1)
                                    + (CAST(n2 AS HUGEINT) * q2 - sp2 * sp2)
                                    * (n1 - 1) AS DOUBLE))), 6)
           END AS w
    FROM stats
    """,
)
def q265_user_parity_bm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel per event type: do even-user_id users' integer-
    cent values stochastically dominate odd-user_id users' — WITHOUT
    assuming the two cohorts share a variance?  The same split as
    q259's Cucconi (which asks location-OR-scale); BM is the
    recommended modern default where q238's Mann–Whitney machinery
    assumes equal spreads."""
    from magi_etl_spark.operators.brunnermunzel import brunner_munzel

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("even_user"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return brunner_munzel(
        base, ["event_type"], F.col("even_user"), F.col("cents")
    )


# --- Hodges–Lehmann --------------------------------------------------------


@query(
    "q266_parity_shift_hl",
    oracle="""
    WITH cells AS MATERIALIZED (
        SELECT event_type,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s,
               CAST(ROUND(value * 100) AS BIGINT) // 100 AS x,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    diffs AS MATERIALIZED (
        SELECT a.event_type, a.x - b.x AS d,
               SUM(CAST(a.c AS HUGEINT) * b.c) AS w
        FROM cells a JOIN cells b
          ON b.event_type = a.event_type AND a.s = 1 AND b.s = 0
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN s = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s = 0 THEN c ELSE 0 END) AS BIGINT) AS n2
        FROM cells GROUP BY 1
    ),
    cum AS (
        SELECT d.event_type, d.d,
               SUM(d.w) OVER (PARTITION BY d.event_type ORDER BY d.d) AS cw,
               CAST(t.n1 AS HUGEINT) * t.n2 AS t
        FROM diffs d JOIN tot t USING (event_type)
    ),
    lo AS (
        SELECT event_type, MIN(d) AS lo FROM cum
        WHERE 2 * cw >= t GROUP BY 1
    ),
    hi AS (
        SELECT event_type, MIN(d) AS hi FROM cum
        WHERE 2 * cw >= t + 1 GROUP BY 1
    )
    SELECT tot.event_type, tot.n1, tot.n2,
           CASE WHEN tot.n1 >= 1 AND tot.n2 >= 1
                THEN CAST(lo.lo + COALESCE(hi.hi, lo.lo) AS BIGINT)
           END AS hl2,
           CASE WHEN tot.n1 >= 1 AND tot.n2 >= 1
                THEN CAST(lo.lo + COALESCE(hi.hi, lo.lo) AS DOUBLE) / 2
           END AS hl
    FROM tot LEFT JOIN lo USING (event_type) LEFT JOIN hi USING (event_type)
    """,
)
def q266_parity_shift_hl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann shift per event type: by how many DOLLARS does
    the even-user_id cohort's typical value exceed the odd cohort's —
    the robust effect size behind q265's significance call.  Dollar
    bins bound the distinct-value cells (the jonckheere binning
    contract: value tops out near $600, so ~1.2k cells per key);
    max_cells=None keeps the guard pass out of the bench's timed
    region (the q245/q257 lesson)."""
    from magi_etl_spark.operators.hodgeslehmann import hodges_lehmann_shift

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("even_user"),
            F.expr("CAST(ROUND(value * 100) AS LONG) DIV 100").alias(
                "dollars"
            ),
        )
    )
    return hodges_lehmann_shift(
        base,
        ["event_type"],
        F.col("even_user"),
        F.col("dollars"),
        max_cells=None,
    )


# --- Grubbs ----------------------------------------------------------------


@query(
    "q267_daily_outlier",
    oracle="""
    WITH d AS MATERIALIZED (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    cells AS MATERIALIZED (
        SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2
    ),
    stats AS MATERIALIZED (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
               SUM(CAST(c AS HUGEINT) * x) AS s,
               SUM(CAST(c AS HUGEINT) * x * x) AS q
        FROM cells GROUP BY 1
    ),
    scored AS MATERIALIZED (
        SELECT cells.event_type, cells.x,
               ABS(CAST(stats.n AS HUGEINT) * cells.x - stats.s) AS nd
        FROM cells JOIN stats USING (event_type)
    ),
    mx AS (
        SELECT event_type, MAX(nd) AS m FROM scored GROUP BY 1
    ),
    xo AS (
        SELECT scored.event_type, MAX(scored.x) AS x_out
        FROM scored JOIN mx USING (event_type)
        WHERE scored.nd = mx.m
        GROUP BY 1
    )
    SELECT stats.event_type, stats.n, xo.x_out,
           CASE WHEN stats.n >= 3
                     AND CAST(stats.n AS HUGEINT) * stats.q
                         - stats.s * stats.s > 0
                THEN ROUND(CAST(mx.m AS DOUBLE)
                           * SQRT(CAST(stats.n - 1 AS DOUBLE))
                           / SQRT(CAST(CAST(stats.n AS HUGEINT)
                                       * (CAST(stats.n AS HUGEINT) * stats.q
                                          - stats.s * stats.s)
                                       AS DOUBLE)), 6)
           END AS g
    FROM stats JOIN mx USING (event_type) JOIN xo USING (event_type)
    """,
)
def q267_daily_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test per event type over DAILY event counts: is the
    single most extreme day a genuine outlier against the normal-bulk
    null?  The keyed, exact-arithmetic counterpart of q74's rolling
    z-score monitor — q144's MAD fence flags every excursion, Grubbs
    scores the worst one."""
    from magi_etl_spark.operators.grubbs import grubbs_test

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return grubbs_test(daily, ["event_type"], F.col("x"))
