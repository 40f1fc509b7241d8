"""Registered queries over the round-12 operator additions.

Round-12 wave — deliberately ≤6, six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries):

- ``operators/dbscan.py`` — grid-blocked DBSCAN, the engine's first
  COMPOSED-operator gate (spatial epsilon-join x connected
  components); its oracle replays the definition naively (all-pairs
  neighbor counts + recursive-CTE reachability), an independent path.
- ``operators/rankcorr.py`` — Spearman rho + Kendall tau-b from
  doubled average ranks / distinct-value cells, exact integers until
  one final division.
- ``operators/mannkendall.py`` — Mann-Kendall trend test with
  tie-corrected variance over calendar-bounded series.
- ``operators/mcnemar.py`` — McNemar's paired-binary test from
  discordant-pair counts.
- ``operators/kappa.py`` — Cohen's kappa inter-rater agreement with
  decimal(38,0) marginal products.
- ``operators/rmst.py`` — restricted mean survival time, the
  survival-family effect size, as one keyed aggregate.
"""

from __future__ import annotations

import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- grid DBSCAN ---------------------------------------------------------------

# Count-derived coordinate domain: the modulus M = ceil(sqrt(N)) * _DB_U
# keeps point DENSITY constant at every scale factor (N points over an
# ~N * U^2 area), so the expected epsilon-neighborhood size is the same
# at sf0.001 and at corpus scale — the q211 derived-default posture
# applied to a geometry knob.  With eps/U = 2/3 the mean neighbor count
# is pi * (2/3)^2 ~ 1.4, deeply subcritical for continuum percolation
# (threshold ~4.5), so clusters stay small and the oracle's recursive
# reachability is cheap and bounded.
_DB_U = 6_000_000
_DB_EPS = 4_000_000
_DB_MIN_PTS = 4


@query(
    "q244_grid_dbscan",
    # MATERIALIZED is load-bearing: the recursive reach CTE references
    # core_edges once per ITERATION, and without materialization DuckDB
    # re-inlines (and re-executes) the all-pairs neighbor join inside
    # every iteration — the naive oracle went from ~10 minutes to ~26 s
    # at sf0.1 when the pair join was pinned to compute exactly once.
    oracle=f"""
    WITH RECURSIVE m AS (
        SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
               * {_DB_U} AS m
        FROM customer
    ),
    pts AS MATERIALIZED (
        SELECT c_custkey AS id,
               (CAST(concat('0x', substr(md5(concat('dbx|',
                       CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % m.m) - m.m // 2 AS x,
               (CAST(concat('0x', substr(md5(concat('dby|',
                       CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % m.m) - m.m // 2 AS y
        FROM customer, m
    ),
    pairs AS MATERIALIZED (
        SELECT a.id AS pa, b.id AS pb
        FROM pts a JOIN pts b
          ON (CAST(a.x AS HUGEINT) - b.x) * (CAST(a.x AS HUGEINT) - b.x)
             + (CAST(a.y AS HUGEINT) - b.y) * (CAST(a.y AS HUGEINT) - b.y)
             <= CAST({_DB_EPS} AS HUGEINT) * {_DB_EPS}
    ),
    cores AS MATERIALIZED (
        SELECT pa AS id FROM pairs GROUP BY 1
        HAVING COUNT(*) >= {_DB_MIN_PTS}
    ),
    core_edges AS MATERIALIZED (
        SELECT p.pa AS ea, p.pb AS eb
        FROM pairs p
        JOIN cores ca ON ca.id = p.pa
        JOIN cores cb ON cb.id = p.pb
        WHERE p.pa <> p.pb
    ),
    reach(v, l) AS (
        SELECT id, id FROM cores
        UNION
        SELECT e.eb, r.l FROM reach r JOIN core_edges e ON e.ea = r.v
    ),
    comp AS (SELECT v AS id, MIN(l) AS cluster FROM reach GROUP BY 1),
    border AS (
        SELECT p.pa AS id, MIN(c.cluster) AS cluster
        FROM pairs p JOIN comp c ON c.id = p.pb
        WHERE p.pa NOT IN (SELECT id FROM cores)
        GROUP BY 1
    )
    SELECT p.id,
           CASE WHEN c.cluster IS NOT NULL THEN 'core'
                WHEN bo.cluster IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(c.cluster, bo.cluster) AS cluster
    FROM pts p
    LEFT JOIN comp c ON c.id = p.id
    LEFT JOIN border bo ON bo.id = p.id
    """,
)
def q244_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN over md5-derived customer coordinates in a
    COUNT-DERIVED domain (constant density at every sf).  The Spark
    path composes the 9-cell epsilon-join with connected components;
    the oracle replays the definition naively — all-pairs neighbor
    counts and recursive-CTE reachability — so the blocked path is
    verified against an independent formulation, like q239."""
    from magi_etl_spark.functions.text import md5_u32
    from magi_etl_spark.operators.dbscan import grid_dbscan

    cust = load_table(spark, sf_dir, "customer")
    m = math.ceil(math.sqrt(cust.count())) * _DB_U

    def md5coord(salt: str):
        return (
            md5_u32(F.concat(F.lit(salt), F.col("c_custkey").cast("string")))
            % m
            - m // 2
        )

    pts = cust.select(
        F.col("c_custkey").alias("id"),
        md5coord("dbx|").alias("x"),
        md5coord("dby|").alias("y"),
    )
    return grid_dbscan(pts, _DB_EPS, _DB_MIN_PTS)


# --- rank correlation ----------------------------------------------------------


@query(
    "q245_rank_correlation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    r2 AS (
        SELECT event_type, x, y,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                 + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS a,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
                 + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS b
        FROM daily
    ),
    sp AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
               SUM(CAST(a AS HUGEINT) * a) AS saa,
               SUM(CAST(b AS HUGEINT) * b) AS sbb,
               SUM(CAST(a AS HUGEINT) * b) AS sab
        FROM r2 GROUP BY 1
    ),
    cells AS (
        SELECT event_type, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM daily GROUP BY 1, 2, 3
    ),
    cd AS (
        SELECT a.event_type,
               SUM(CAST(CASE WHEN a.y < b.y THEN 1
                             WHEN a.y > b.y THEN -1 ELSE 0 END AS HUGEINT)
                   * a.c * b.c) AS cd
        FROM cells a JOIN cells b
          ON a.event_type = b.event_type AND a.x < b.x
        GROUP BY 1
    ),
    tx AS (
        SELECT event_type, SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx2
        FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY 1, 2) GROUP BY 1
    ),
    ty AS (
        SELECT event_type, SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty2
        FROM (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY 1, 2) GROUP BY 1
    )
    SELECT sp.event_type, sp.n,
           CASE WHEN CAST(sp.n * sp.saa - sp.sa * sp.sa AS DOUBLE) > 0
                 AND CAST(sp.n * sp.sbb - sp.sb * sp.sb AS DOUBLE) > 0
                THEN ROUND(
                    CAST(sp.n * sp.sab - sp.sa * sp.sb AS DOUBLE)
                    / (sqrt(CAST(sp.n * sp.saa - sp.sa * sp.sa AS DOUBLE))
                       * sqrt(CAST(sp.n * sp.sbb - sp.sb * sp.sb AS DOUBLE))),
                    6)
           END AS rho,
           CASE WHEN CAST(CAST(sp.n AS HUGEINT) * (sp.n - 1) - tx.tx2
                          AS DOUBLE) > 0
                 AND CAST(CAST(sp.n AS HUGEINT) * (sp.n - 1) - ty.ty2
                          AS DOUBLE) > 0
                THEN ROUND(
                    2.0 * CAST(COALESCE(cd.cd, 0) AS DOUBLE)
                    / (sqrt(CAST(CAST(sp.n AS HUGEINT) * (sp.n - 1)
                                 - tx.tx2 AS DOUBLE))
                       * sqrt(CAST(CAST(sp.n AS HUGEINT) * (sp.n - 1)
                                   - ty.ty2 AS DOUBLE))),
                    6)
           END AS tau_b
    FROM sp
    LEFT JOIN cd ON cd.event_type = sp.event_type
    JOIN tx ON tx.event_type = sp.event_type
    JOIN ty ON ty.event_type = sp.event_type
    """,
)
def q245_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho and Kendall tau-b between the daily event count and
    the daily revenue (integer cents summed per event — never a double
    sum, the q146 lesson) per event type: the monotone-association
    readout beside the Pearson matrix (q159)."""
    from magi_etl_spark.operators.rankcorr import kendall_tau_b, spearman_rho

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
        )
    )
    rho = spearman_rho(daily, ["event_type"], F.col("x"), F.col("y"))
    # max_cells=None: the cells here are day-bounded by construction
    # (<= days x event_types distinct (x, y) pairs, validated when the
    # query was authored), and the default guard's eager scalar pass
    # would otherwise run INSIDE the bench's timed region for a
    # headline query (the r13 ADVICE item) — a wall regression with no
    # plan-fingerprint change, the exact ghost the bench hygiene notes
    # warn about.
    tau = kendall_tau_b(
        daily, ["event_type"], F.col("x"), F.col("y"), max_cells=None
    )
    return rho.join(tau.select("event_type", "tau_b"), "event_type")


# --- Mann-Kendall trend --------------------------------------------------------


@query(
    "q246_mann_kendall_trend",
    oracle="""
    WITH daily AS (
        -- ts IS NOT NULL mirrors the operator's null-ORDER drop (the
        -- r12 ADVICE parity fix): a null-day row must not count toward
        -- n or the tie terms when it can never join a pair
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1
    ),
    ties AS (
        SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
               SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tie18
        FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY 1
    ),
    v AS (
        -- LEFT JOIN + empty-sum coalesce mirrors the operator: an n=1
        -- series has no pair row but still emits (S=0, z NULL)
        SELECT t.event_type, t.n, CAST(COALESCE(s.s, 0) AS BIGINT) AS s,
               CAST(CAST(t.n AS HUGEINT) * (t.n - 1) * (2 * t.n + 5)
                    - t.tie18 AS BIGINT) AS var_s18
        FROM ties t LEFT JOIN s ON s.event_type = t.event_type
    )
    SELECT event_type, n, s, var_s18,
           CASE WHEN n >= 2 AND var_s18 > 0 THEN ROUND(
               CASE WHEN s > 0
                    THEN (CAST(s AS DOUBLE) - 1.0)
                         / sqrt(CAST(var_s18 AS DOUBLE) / 18.0)
                    WHEN s < 0
                    THEN (CAST(s AS DOUBLE) + 1.0)
                         / sqrt(CAST(var_s18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END, 6)
           END AS z
    FROM v
    """,
)
def q246_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series per
    event type — the tie-corrected hypothesis test beside the
    Theil-Sen slope (q205), exact integer S and 18*Var(S)."""
    from magi_etl_spark.operators.mannkendall import mann_kendall_trend

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return mann_kendall_trend(daily, ["event_type"], "day", F.col("x"))


# --- McNemar -------------------------------------------------------------------


@query(
    "q247_mcnemar_switch",
    oracle="""
    WITH subj AS (
        SELECT user_id, user_id % 3 AS cohort,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) < DATE '2024-01-16'
                        THEN 1 ELSE 0 END) AS x1,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) >= DATE '2024-01-16'
                        THEN 1 ELSE 0 END) AS x2
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_subjects,
               CAST(SUM(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n01
        FROM subj GROUP BY 1
    )
    SELECT cohort, n_subjects, n10, n01,
           CASE WHEN n10 + n01 > 0 THEN ROUND(
               GREATEST(CAST(abs(n10 - n01) AS DOUBLE) - 1.0, 0.0)
               * GREATEST(CAST(abs(n10 - n01) AS DOUBLE) - 1.0, 0.0)
               / CAST(n10 + n01 AS DOUBLE), 6)
           END AS chi2_cc
    FROM agg
    """,
)
def q247_mcnemar_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test of "did the user purchase" in the first vs second
    half of the observation window, per user_id%3 cohort — the paired
    within-subject complement to the independent-arms CMH (q242)."""
    from magi_etl_spark.operators.mcnemar import mcnemar_test

    half = F.lit("2024-01-16").cast("date")
    subj = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") < half),
                    1,
                ).otherwise(0)
            ).alias("x1"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") >= half),
                    1,
                ).otherwise(0)
            ).alias("x2"),
        )
        .select(
            (F.col("user_id") % 3).alias("cohort"), "x1", "x2"
        )
    )
    return mcnemar_test(subj, ["cohort"], F.col("x1"), F.col("x2"))


# --- Cohen's kappa -------------------------------------------------------------


@query(
    "q248_rater_agreement",
    oracle="""
    WITH rated AS (
        SELECT lang,
               LEAST(n_chars // 400, 3) AS r1,
               LEAST(CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                          AS BIGINT) // 60, 3) AS r2
        FROM documents
    ),
    cells AS (
        SELECT lang, r1, r2, CAST(COUNT(*) AS BIGINT) AS c
        FROM rated GROUP BY 1, 2, 3
    ),
    marg AS (
        SELECT r.lang,
               SUM(CAST(rm.rowc AS HUGEINT) * cm.colc) AS pe_num
        FROM (SELECT DISTINCT lang FROM cells) r
        JOIN (SELECT lang, r1 AS k, CAST(SUM(c) AS BIGINT) AS rowc
              FROM cells GROUP BY 1, 2) rm ON rm.lang = r.lang
        JOIN (SELECT lang, r2 AS k, CAST(SUM(c) AS BIGINT) AS colc
              FROM cells GROUP BY 1, 2) cm
          ON cm.lang = r.lang AND cm.k = rm.k
        GROUP BY 1
    ),
    tot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_items,
               CAST(COALESCE(SUM(CASE WHEN r1 = r2 THEN c END), 0)
                    AS BIGINT) AS n_agree
        FROM cells GROUP BY 1
    )
    SELECT t.lang, t.n_items, t.n_agree,
           CASE WHEN CAST(CAST(t.n_items AS HUGEINT) * t.n_items
                          - COALESCE(m.pe_num, 0) AS DOUBLE) > 0
                THEN ROUND(
                    CAST(CAST(t.n_items AS HUGEINT) * t.n_agree
                         - COALESCE(m.pe_num, 0) AS DOUBLE)
                    / CAST(CAST(t.n_items AS HUGEINT) * t.n_items
                           - COALESCE(m.pe_num, 0) AS DOUBLE), 6)
           END AS kappa
    FROM tot t LEFT JOIN marg m ON m.lang = t.lang
    """,
)
def q248_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document labelers — a
    length-bucket rater (n_chars) and a token-count-bucket rater — per
    language: the agreement readout for calibrating one heuristic
    against another, beside the AUC/NDCG evals."""
    from magi_etl_spark.operators.kappa import cohens_kappa

    # integer floor-divide on non-negative counts: `x DIV k` equals
    # DuckDB `//` here (both operands non-negative by construction)
    rated = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.least(F.expr("n_chars DIV 400"), F.lit(3)).alias("r1"),
        F.least(
            F.expr(
                "size(regexp_extract_all(lower(text), '[a-z]+', 0)) DIV 60"
            ).cast("long"),
            F.lit(3),
        ).alias("r2"),
    )
    return cohens_kappa(rated, ["lang"], F.col("r1"), F.col("r2"))


# --- restricted mean survival --------------------------------------------------

_RMST_TAU = 14


@query(
    "q249_rmst_arms",
    oracle=f"""
    WITH spans AS (
        SELECT user_id,
               CAST(CAST(concat('0x', substr(md5(concat('rmst|',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 2 AS INT) AS arm,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS life
        FROM events GROUP BY 1, 2
    )
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
           -- mirror the operator: all-null-timestamp users drop (the
           -- WHERE below), so n_users and alive_days stay consistent
           CAST(SUM(LEAST(life + 1, {_RMST_TAU})) AS BIGINT) AS alive_days,
           ROUND(CAST(SUM(LEAST(life + 1, {_RMST_TAU})) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS rmst_days
    FROM spans WHERE life IS NOT NULL GROUP BY 1
    """,
)
def q249_rmst_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at a 14-day horizon per md5 arm:
    the expected active days out of the first 14, the survival-family
    effect size beside the log-rank test (q236)."""
    from magi_etl_spark.functions.text import md5_u32
    from magi_etl_spark.operators.rmst import restricted_mean_survival

    ev = load_table(spark, sf_dir, "events").withColumn(
        "arm",
        (
            md5_u32(F.concat(F.lit("rmst|"), F.col("user_id").cast("string")))
            % 2
        ).cast("int"),
    )
    return restricted_mean_survival(
        ev, ["arm"], "user_id", "ts", _RMST_TAU
    )
