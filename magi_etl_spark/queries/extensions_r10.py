"""Registered queries over the round-10 operator additions.

Round-10 wave — deliberately ≤6 (the r8 verdict: waves must stay
smaller than the tail-fill slack), six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries):

- ``operators/cuped.py`` — CUPED pre-period variance reduction for
  experiment metrics (pooled theta, sufficient statistics only).
- ``operators/selection.py`` — exact distributed k-th smallest /
  quantiles via histogram-narrowing rounds (no global sort, ever).
- ``operators/invindex.py`` — inverted-index postings + boolean AND
  retrieval (term-pruned scan, HAVING-count intersection).
- ``operators/kstest.py`` — exact stratified two-sample
  Kolmogorov–Smirnov statistic (integer cross-product argmax).
- ``operators/logrank.py`` — stratified log-rank survival test
  (reversed-cumsum at-risk counts, scalar moment merge).
- ``operators/deltamethod.py`` — delta-method CI for ratio-of-sums
  metrics clustered by analysis unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- CUPED variance reduction ------------------------------------------------


@query(
    "q232_cuped_adjustment",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(CAST(concat('0x', substr(md5(concat('cuped|',
                        CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 2 AS INT) AS arm,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    per_arm AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x) AS BIGINT) AS sx,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        FROM per_cust GROUP BY 1
    ),
    pooled AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS pn,
               CAST(SUM(sx) AS DOUBLE) AS psx,
               CAST(SUM(sy) AS DOUBLE) AS psy,
               CAST(SUM(sxx) AS DOUBLE) AS psxx,
               CAST(SUM(sxy) AS DOUBLE) AS psxy
        FROM per_arm
    ),
    th AS (
        SELECT psx / pn AS mx_pool,
               psxx / pn - (psx / pn) * (psx / pn) AS vx_pool,
               psxy / pn - (psx / pn) * (psy / pn) AS cxy_pool
        FROM pooled
    ),
    theta AS (
        SELECT mx_pool,
               CASE WHEN vx_pool > 0 THEN cxy_pool / vx_pool ELSE 0.0 END
                   AS theta
        FROM th
    )
    SELECT arm, n,
           ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
           ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                            - mx_pool), 6) AS mean_y_adj,
           ROUND(CASE WHEN (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) > 0
                 THEN 1.0 - (
                      (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                      - 2.0 * theta
                        * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                      + theta * theta
                        * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                      ) / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                 ELSE 0.0 END, 6) AS var_reduction
    FROM per_arm, theta
    """,
)
def q232_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted per-arm revenue means over an md5 A/B split of
    customers: the pre-1998 revenue is the covariate, post-1998 the
    metric, theta pooled across arms from exact integer sufficient
    statistics (second moments in decimal(38,0)/HUGEINT).  Every
    emitted double is one fixed operand sequence on both engines,
    rounded at the 6-dp grid."""
    from magi_etl_spark.functions.text import md5_u32
    from magi_etl_spark.operators.cuped import cuped_adjust

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    pre = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.when(pre, cents).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(~pre, cents).otherwise(F.lit(0))).alias("y"),
        )
        .select(
            (
                md5_u32(
                    F.concat(F.lit("cuped|"), F.col("o_custkey").cast("string"))
                )
                % 2
            )
            .cast("int")
            .alias("arm"),
            "x",
            "y",
        )
    )
    return cuped_adjust(per_cust, "arm", F.col("y"), F.col("x"))


# --- exact distributed quantiles ----------------------------------------------


@query(
    "q233_exact_quantiles",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    qs AS (
        SELECT q_num, q_den
        FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den)
    ),
    ks AS (
        SELECT q_num, q_den,
               GREATEST(CAST(1 AS BIGINT),
                        (q_num * n + q_den - 1) // q_den) AS k
        FROM qs, nn
    ),
    cum AS (
        SELECT v,
               CAST(SUM(c) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cumc
        FROM (SELECT v, COUNT(*) AS c FROM v GROUP BY 1)
    )
    SELECT k.q_num, k.q_den, k.k, CAST(MIN(cum.v) AS BIGINT) AS value
    FROM cum, ks k
    WHERE cum.cumc >= k.k
    GROUP BY 1, 2, 3
    """,
)
def q233_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p90 / p99 of line-item price cents WITHOUT a
    global sort: histogram-narrowing selection rounds (≤256 rows cross
    the driver per round, ≤4 rounds per quantile on a cent-scale
    range).  The oracle replays the lower-empirical-quantile convention
    as a cumulative-count threshold over distinct values."""
    from magi_etl_spark.operators.selection import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    )
    return exact_quantiles(li, "v", [(1, 2), (9, 10), (99, 100)])


# --- inverted-index boolean retrieval -----------------------------------------

_Q234_TERMS = ["merge", "scan", "sort"]


@query(
    "q234_boolean_retrieval",
    oracle=f"""
    WITH p AS (
        SELECT d.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents) d,
             LATERAL unnest(d.tk) AS t(tok)
        GROUP BY 1, 2
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_sum
    FROM p
    WHERE tok IN ('{_Q234_TERMS[0]}', '{_Q234_TERMS[1]}', '{_Q234_TERMS[2]}')
    GROUP BY 1
    HAVING COUNT(*) = 3
    """,
)
def q234_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword retrieval through the inverted index:
    documents containing ALL of {merge, scan, sort}, with the summed
    term frequency as the ranking signal.  The term filter is a literal
    ``isin`` that pushes to the scan; candidates are the union of three
    posting lists, never the corpus."""
    from magi_etl_spark.operators.invindex import (
        boolean_and_query,
        build_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    return boolean_and_query(build_postings(docs), _Q234_TERMS)


# --- two-sample KS drift -------------------------------------------------------


@query(
    "q235_ks_drift",
    oracle="""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL
    ),
    pv AS (
        SELECT day, v, CAST(SUM(ia) AS BIGINT) AS da,
               CAST(SUM(ib) AS BIGINT) AS db
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT day,
               CAST(SUM(da) OVER w AS BIGINT) AS ca,
               CAST(SUM(db) OVER w AS BIGINT) AS cb,
               CAST(SUM(da) OVER (PARTITION BY day) AS BIGINT) AS n_a,
               CAST(SUM(db) OVER (PARTITION BY day) AS BIGINT) AS n_b
        FROM pv
        WINDOW w AS (PARTITION BY day ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_a, n_b,
           ROUND(CAST(MAX(ABS(CAST(ca AS HUGEINT) * CAST(n_b AS HUGEINT)
                              - CAST(cb AS HUGEINT) * CAST(n_a AS HUGEINT)))
                      AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat
    FROM cum
    WHERE n_a > 0 AND n_b > 0
    GROUP BY 1, 2, 3
    """,
)
def q235_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact two-sample KS statistic between click and purchase
    value distributions (integer cents): the bin-free drift test next
    to PSI.  The cumulative window runs over distinct values per day
    (never a global funnel) and the argmax comparison is exact
    decimal/HUGEINT cross-products."""
    from magi_etl_spark.operators.kstest import ks_two_sample

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ks_two_sample(
        ev, ["day"], "event_type", "cents", "click", "purchase"
    )


# --- stratified log-rank churn test --------------------------------------------


@query(
    "q236_logrank_churn",
    oracle="""
    WITH gmax AS (SELECT MAX(CAST(ts AS DATE)) AS gd FROM events),
    users AS (
        SELECT user_id,
               date_trunc('week', MIN(CAST(ts AS DATE))) AS wk,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS t,
               CASE WHEN MAX(CAST(ts AS DATE)) < (SELECT gd - 7 FROM gmax)
                    THEN 1 ELSE 0 END AS e,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS is_p
        FROM events GROUP BY 1
    ),
    pt AS (
        SELECT wk, t,
               CAST(COUNT(*) AS BIGINT) AS subj,
               CAST(SUM(is_p) AS BIGINT) AS subj_a,
               CAST(SUM(e * is_p) AS BIGINT) AS da,
               CAST(SUM(e * (1 - is_p)) AS BIGINT) AS db
        FROM users GROUP BY 1, 2
    ),
    risk AS (
        SELECT wk, t, da, db,
               CAST(SUM(subj_a) OVER w AS BIGINT) AS na,
               CAST(SUM(subj) OVER w - SUM(subj_a) OVER w AS BIGINT) AS nb
        FROM pt
        WINDOW w AS (PARTITION BY wk ORDER BY t DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    contrib AS (
        SELECT CAST(da AS BIGINT) AS oa,
               CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
                   / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS ea,
               CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
                   * CAST(nb AS DOUBLE)
                   * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                      - CAST(da + db AS DOUBLE))
                   / (((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                       * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 1.0))
                   AS v
        FROM risk WHERE da + db > 0 AND na + nb > 1
    ),
    totals AS (
        SELECT CAST(SUM(is_p) AS BIGINT) AS n_a,
               CAST(SUM(1 - is_p) AS BIGINT) AS n_b
        FROM users
    ),
    agg AS (
        SELECT CAST(SUM(oa) AS BIGINT) AS observed_a,
               SUM(ea) AS sea, SUM(v) AS sv
        FROM contrib
    )
    SELECT n_a, n_b, observed_a,
           ROUND(sea, 6) AS expected_a,
           ROUND(CASE WHEN sv > 0
                 THEN (CAST(observed_a AS DOUBLE) - sea)
                      * (CAST(observed_a AS DOUBLE) - sea) / sv
                 ELSE 0.0 END, 6) AS chi2
    FROM totals, agg
    """,
)
def q236_logrank_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified log-rank test of churn timing: purchasers vs
    non-purchasers, duration = days between a user's first and last
    event, churned if the last event precedes the corpus horizon by
    more than 7 days, stratified by first-seen week.  At-risk counts
    come from a reversed cumulative window over one row per (week,
    distinct duration) — bounded by the observation window, not the
    user count."""
    from magi_etl_spark.operators.logrank import logrank_test

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_fd"),
        F.max(F.to_date("ts")).alias("_ld"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("_isp"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("_gd"))
    users = per_user.join(F.broadcast(horizon)).select(
        F.date_trunc("week", F.col("_fd")).cast("date").alias("wk"),
        F.when(F.col("_isp") == 1, "p").otherwise("np").alias("grp"),
        F.datediff(F.col("_ld"), F.col("_fd")).alias("t"),
        F.when(F.col("_ld") < F.date_sub(F.col("_gd"), 7), 1)
        .otherwise(0)
        .alias("e"),
    )
    return logrank_test(users, ["wk"], "grp", "t", "e", "p", "np")


# --- delta-method ratio CI -----------------------------------------------------


@query(
    "q237_ratio_metric_ci",
    oracle="""
    WITH units AS (
        SELECT event_type, user_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS uy,
               CAST(COUNT(*) AS BIGINT) AS ux
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(uy) AS BIGINT) AS sy,
               CAST(SUM(ux) AS BIGINT) AS sx,
               SUM(CAST(uy AS HUGEINT) * CAST(uy AS HUGEINT)) AS syy,
               SUM(CAST(ux AS HUGEINT) * CAST(ux AS HUGEINT)) AS sxx,
               SUM(CAST(ux AS HUGEINT) * CAST(uy AS HUGEINT)) AS sxy
        FROM units GROUP BY 1
    ),
    m AS (
        SELECT event_type, n_units, sy, sx,
               CAST(n_units AS DOUBLE) AS nd,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
               CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE) AS mx,
               (CAST(syy AS DOUBLE)
                - CAST(n_units AS DOUBLE)
                  * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE))
                  * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
               / (CAST(n_units AS DOUBLE) - 1.0) AS vyy,
               (CAST(sxx AS DOUBLE)
                - CAST(n_units AS DOUBLE)
                  * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)))
               / (CAST(n_units AS DOUBLE) - 1.0) AS vxx,
               (CAST(sxy AS DOUBLE)
                - CAST(n_units AS DOUBLE)
                  * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE))
                  * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
               / (CAST(n_units AS DOUBLE) - 1.0) AS vxy
        FROM g
    ),
    s AS (
        SELECT event_type, n_units, sy, sx, r,
               sqrt(GREATEST(0.0,
                    (vyy - 2.0 * r * vxy + r * r * vxx) / (nd * mx * mx)))
                   AS se
        FROM m
    )
    SELECT event_type, n_units,
           ROUND(r, 6) AS ratio,
           CASE WHEN n_units > 1 AND sx <> 0
                THEN ROUND(se, 6) END AS se,
           CASE WHEN n_units > 1 AND sx <> 0
                THEN ROUND(r - 1.96 * se, 6) END AS ci_lo,
           CASE WHEN n_units > 1 AND sx <> 0
                THEN ROUND(r + 1.96 * se, 6) END AS ci_hi
    FROM s
    """,
)
def q237_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for value-per-event by event
    type, clustered by user: the ratio-of-sums metric with the
    unit-level variance every experimentation readout needs (a per-row
    mean would understate it).  Sufficient statistics only — second
    moments in decimal(38,0)/HUGEINT, one fixed double operand order,
    6-dp grid."""
    from magi_etl_spark.operators.deltamethod import ratio_metric_ci

    ev = load_table(spark, sf_dir, "events")
    return ratio_metric_ci(
        ev,
        ["event_type"],
        "user_id",
        F.round(F.col("value") * 100).cast("long"),
        F.lit(1),
    )
