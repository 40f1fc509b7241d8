"""Registered queries over the round-14 operator additions.

Round-14 wave — deliberately ≤6, six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries); the rank/effect/calibration families get their missing
members:

- ``operators/friedman.py`` — tie-corrected Friedman test (randomized
  blocks), riding rankcorr's doubled-rank machinery within blocks.
- ``operators/jonckheere.py`` — Jonckheere–Terpstra ordered-
  alternative trend test from distinct-value cells (the enforced
  cells^2 contract), with the AUC-style normalized index.
- ``operators/cliffsdelta.py`` — Cliff's delta effect size COMPOSED
  over auc.group_auc's exact integer u2 evidence column.
- ``operators/cucconi.py`` — Cucconi two-sample location-scale test
  (squared ranks + squared contra-ranks, closed-form null moments).
- ``operators/quantreg.py`` — quantile regression line at tau = 3/4
  by fixed-round coordinate descent over median-centered x; the
  oracle unrolls the identical weighted-quantile selections (the
  q250 IPF pattern).
- ``operators/ece.py`` — ECE / MCE calibration summary COMPOSED over
  brier.reliability_brier_bins (q253's verified output shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- Friedman test -----------------------------------------------------------


@query(
    "q256_friedman_dow",
    oracle="""
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
    ),
    pt AS (
        SELECT event_type, g, SUM(CAST(a AS HUGEINT)) AS r2s
        FROM r2 GROUP BY 1, 2
    ),
    pk AS (
        SELECT event_type, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_blocks,
               SUM(CAST(a AS HUGEINT) * a) AS a2
        FROM r2 GROUP BY 1
    ),
    nm AS (
        SELECT pt.event_type,
               SUM((pt.r2s - CAST(pk.n_blocks AS HUGEINT) * (kt.k_treat + 1))
                   * (pt.r2s - CAST(pk.n_blocks AS HUGEINT)
                      * (kt.k_treat + 1))) AS num
        FROM pt JOIN pk USING (event_type) JOIN kt USING (event_type)
        GROUP BY 1
    )
    SELECT kt.event_type, kt.k_treat,
           COALESCE(pk.n_blocks, 0) AS n_blocks,
           CASE WHEN kt.k_treat >= 2 AND pk.n_blocks >= 1
                     AND pk.a2 - CAST(pk.n_blocks AS HUGEINT) * kt.k_treat
                         * (kt.k_treat + 1) * (kt.k_treat + 1) > 0
                THEN ROUND(CAST(kt.k_treat - 1 AS DOUBLE)
                           * CAST(nm.num AS DOUBLE)
                           / CAST(pk.a2 - CAST(pk.n_blocks AS HUGEINT)
                                  * kt.k_treat * (kt.k_treat + 1)
                                  * (kt.k_treat + 1) AS DOUBLE), 6)
           END AS t
    FROM kt LEFT JOIN pk USING (event_type) LEFT JOIN nm USING (event_type)
    """,
)
def q256_friedman_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test per event type: does the DAILY event volume
    depend on the day-of-week treatment (di%7), blocking by week
    (di//7) so week-level level shifts cancel?  The ragged final week
    exercises the complete-block listwise deletion on both engines."""
    from magi_etl_spark.operators.friedman import friedman_test

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
    return friedman_test(daily, ["event_type"], "week", "dow", F.col("x"))


# --- Jonckheere-Terpstra -----------------------------------------------------


@query(
    "q257_jonckheere_cohorts",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT event_type, user_id % 5 AS g,
               CAST(ROUND(value * 100) AS BIGINT) // 1000 AS x
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    cells AS MATERIALIZED (
        SELECT event_type, g, x, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2, 3
    ),
    j AS (
        SELECT a.event_type,
               SUM(CAST(a.c AS HUGEINT) * b.c
                   * CASE WHEN a.x < b.x THEN 2
                          WHEN a.x = b.x THEN 1 ELSE 0 END) AS j2
        FROM cells a JOIN cells b
          ON b.event_type = a.event_type AND a.g < b.g
        GROUP BY 1
    ),
    pg AS (
        SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS ng
        FROM base GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(ng) AS BIGINT) AS n,
               SUM(CAST(ng AS HUGEINT) * ng) AS sq
        FROM pg GROUP BY 1
    )
    SELECT t.event_type, t.k_groups, t.n,
           CAST(COALESCE(j.j2, 0) AS BIGINT) AS j2,
           CASE WHEN t.k_groups >= 2
                     AND CAST(t.n AS HUGEINT) * t.n - t.sq > 0
                THEN ROUND(CAST(COALESCE(j.j2, 0) AS DOUBLE)
                           / CAST(CAST(t.n AS HUGEINT) * t.n - t.sq
                                  AS DOUBLE), 6)
           END AS jt
    FROM tot t LEFT JOIN j USING (event_type)
    """,
)
def q257_jonckheere_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra trend per event type: does the ten-dollar-
    binned value distribution shift monotonically across the ordered
    user_id%5 cohorts?  The directional complement to q251's omnibus
    Kruskal-Wallis on the same cohort axis."""
    from magi_etl_spark.operators.jonckheere import jonckheere_terpstra

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 5).alias("cohort"),
            F.expr("CAST(ROUND(value * 100) AS LONG) DIV 1000").alias(
                "bucket"
            ),
        )
    )
    # max_cells=None: cells are bounded by construction (5 cohorts x
    # ~50 ten-dollar buckets — the bounded value range is the binning
    # contract), and the default guard's eager pass must not land
    # inside the bench's timed region (the r13 q245 ADVICE lesson)
    return jonckheere_terpstra(
        base, ["event_type"], "cohort", F.col("bucket"), max_cells=None
    )


# --- Cliff's delta -------------------------------------------------------------


@query(
    "q258_cliffs_effect",
    oracle="""
    WITH base AS (
        SELECT source, n_chars AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
    ),
    pv AS (
        SELECT source, v, CAST(SUM(p) AS BIGINT) AS cp,
               CAST(SUM(1 - p) AS BIGINT) AS cn
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, cp, cn,
               COALESCE(CAST(SUM(cn) OVER (
                   PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) AS cnb,
               CAST(SUM(cp) OVER (PARTITION BY source) AS BIGINT) AS n_pos,
               CAST(SUM(cn) OVER (PARTITION BY source) AS BIGINT) AS n_neg
        FROM pv
    ),
    u AS (
        SELECT source, n_pos, n_neg,
               SUM(2 * CAST(cp AS HUGEINT) * cnb
                   + CAST(cp AS HUGEINT) * cn) AS u2
        FROM cum WHERE n_pos > 0 AND n_neg > 0
        GROUP BY 1, 2, 3
    )
    SELECT source, n_pos, n_neg,
           CAST(u2 - CAST(n_pos AS HUGEINT) * n_neg AS BIGINT) AS d_num,
           ROUND(CAST(u2 - CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
                 / CAST(CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6)
               AS delta
    FROM u
    """,
)
def q258_cliffs_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta per source: by how much are English documents
    LONGER (n_chars) than non-English ones — the standardized ordinal
    effect size composed over q238's exact Mann-Whitney machinery
    (delta = 2*AUC - 1, from the integer u2 evidence column)."""
    from magi_etl_spark.operators.cliffsdelta import cliffs_delta

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return cliffs_delta(
        docs,
        ["source"],
        F.col("n_chars"),
        F.when(F.col("lang") == "en", 1).otherwise(0),
    )


# --- Cucconi location-scale ----------------------------------------------------


@query(
    "q259_cucconi_shift",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT event_type,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s,
               CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    r2 AS (
        SELECT event_type, s,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                 + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS a
        FROM base
    ),
    st AS (
        SELECT event_type,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n2,
               SUM(CASE WHEN s = 1 THEN CAST(a AS HUGEINT) ELSE 0 END) AS s1,
               SUM(CASE WHEN s = 1 THEN CAST(a AS HUGEINT) * a
                        ELSE 0 END) AS s2
        FROM r2 GROUP BY 1
    ),
    m1 AS (
        SELECT event_type, n1, n2, s1, s2,
               CAST(n1 AS HUGEINT) + n2 AS nn
        FROM st
    ),
    m2 AS (
        SELECT *,
               3 * s2 - 2 * n1 * (nn + 1) * (2 * nn + 1) AS nu2,
               3 * (4 * (nn + 1) * (nn + 1) * n1 - 4 * (nn + 1) * s1 + s2)
                 - 2 * n1 * (nn + 1) * (2 * nn + 1) AS nv2,
               sqrt(4.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * CAST(nn + 1 AS DOUBLE) * CAST(2 * nn + 1 AS DOUBLE)
                    * CAST(8 * nn + 11 AS DOUBLE) / 5.0) AS den,
               2.0 * CAST(nn * nn - 4 AS DOUBLE)
                 / CAST((2 * nn + 1) * (8 * nn + 11) AS DOUBLE) - 1.0 AS rho
        FROM m1
    ),
    m3 AS (
        SELECT *, CAST(nu2 AS DOUBLE) / den AS u,
               CAST(nv2 AS DOUBLE) / den AS v
        FROM m2
    )
    SELECT event_type, n1, n2,
           CASE WHEN n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 3
                THEN ROUND(u, 6) END AS u,
           CASE WHEN n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 3
                THEN ROUND(v, 6) END AS v,
           CASE WHEN n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 3
                THEN ROUND((u * u + v * v - 2.0 * rho * u * v)
                           / (2.0 * (1.0 - rho * rho)), 6)
           END AS c
    FROM m3
    """,
)
def q259_cucconi_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi location-scale test per event type: do even-user_id
    users' integer-cent values differ from odd-user_id users' in
    center OR spread?  The joint drift alarm beside PSI (q143) and
    KS (q235), pooled doubled ranks exact through both squared-rank
    sums."""
    from magi_etl_spark.operators.cucconi import cucconi_test

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("even_user"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return cucconi_test(base, ["event_type"], F.col("even_user"), F.col("cents"))


# --- quantile regression --------------------------------------------------------

_QR_ROUNDS = 8
_QR_TN = 3  # tau = 3/4
_QR_TD = 4


def _qr_oracle(rounds: int, tn: int, td: int) -> str:
    """Unrolled coordinate-descent oracle (the q250 IPF pattern): one
    weighted-quantile selection CTE per half-step, each mirroring
    quantile_line's exact integer selection — thresholds are pure
    integer inequalities with the tau denominator baked into the
    cumulative weight."""
    ctes = [
        """d AS MATERIALIZED (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    )""",
        """base0 AS MATERIALIZED (
        SELECT event_type, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2, 3
    )""",
        """tot0 AS MATERIALIZED (
        SELECT event_type, CAST(SUM(c) AS HUGEINT) AS n
        FROM base0 GROUP BY 1
    )""",
        """medsel AS MATERIALIZED (
        SELECT event_type, MIN(x) AS xm FROM (
            SELECT b.event_type, b.x,
                   SUM(2 * b.c) OVER (PARTITION BY b.event_type
                                      ORDER BY b.x) AS cum,
                   t.n
            FROM (SELECT event_type, x, CAST(SUM(c) AS HUGEINT) AS c
                  FROM base0 GROUP BY 1, 2) b
            JOIN tot0 t USING (event_type)
        ) WHERE cum >= n GROUP BY 1
    )""",
        """base AS MATERIALIZED (
        SELECT b.event_type, b.x - m.xm AS x, b.y, b.c
        FROM base0 b JOIN medsel m USING (event_type)
    )""",
        """tot AS MATERIALIZED (
        SELECT event_type, CAST(SUM(c) AS HUGEINT) AS n,
               SUM(CASE WHEN x > 0 THEN c * CAST(x AS HUGEINT)
                        ELSE 0 END) AS p,
               SUM(CASE WHEN x < 0 THEN c * CAST(-x AS HUGEINT)
                        ELSE 0 END) AS m
        FROM base GROUP BY 1
    )""",
    ]
    istep = (
        "SELECT event_type, MIN(r6) AS a6 FROM (\n"
        "    SELECT q.event_type, q.r6,\n"
        "           SUM(q.w) OVER (PARTITION BY q.event_type"
        " ORDER BY q.r6) AS cum, q.t\n"
        "    FROM (\n"
        "        SELECT b.event_type,\n"
        "               CAST(b.y AS HUGEINT) * 1000000 - {b6} * b.x AS r6,\n"
        f"               SUM({td} * CAST(b.c AS HUGEINT)) AS w,\n"
        f"               {tn} * t.n AS t\n"
        "        FROM base b JOIN tot t USING (event_type){prevjoin}\n"
        "        GROUP BY 1, 2, 4\n"
        "    ) q\n"
        ") WHERE cum >= t GROUP BY 1"
    )
    sstep = (
        "SELECT event_type, MIN(s6) AS b6 FROM (\n"
        "    SELECT q.event_type, q.s6,\n"
        "           SUM(q.w) OVER (PARTITION BY q.event_type"
        " ORDER BY q.s6) AS cum, q.t\n"
        "    FROM (\n"
        "        SELECT b.event_type,\n"
        "               CAST(ROUND(CAST(CAST(b.y AS HUGEINT) * 1000000"
        " - i.a6 AS DOUBLE) / CAST(b.x AS DOUBLE)) AS HUGEINT) AS s6,\n"
        f"               SUM({td} * b.c * CAST(abs(b.x) AS HUGEINT)) AS w,\n"
        f"               {tn} * t.p + {td - tn} * t.m AS t\n"
        "        FROM base b JOIN tot t USING (event_type)\n"
        "        JOIN i{prev} i USING (event_type)\n"
        "        WHERE b.x <> 0\n"
        "        GROUP BY 1, 2, 4\n"
        "    ) q\n"
        ") WHERE cum >= t GROUP BY 1"
    )
    # every selection CTE is MATERIALIZED: DuckDB re-inlines plain CTEs
    # at every reference, so a 2*rounds-deep selection chain otherwise
    # re-plans (and partially re-executes) the whole prefix per
    # reference — the q244/q255 recursive-CTE lesson applied to deep
    # linear chains
    ctes.append(
        "i0 AS MATERIALIZED (" + istep.format(b6="0", prevjoin="") + ")"
    )
    for r in range(1, rounds + 1):
        ctes.append(
            f"s{r} AS MATERIALIZED (" + sstep.format(prev=r - 1) + ")"
        )
        ctes.append(
            f"i{r} AS MATERIALIZED ("
            + istep.format(
                b6=f"COALESCE(s{r}.b6, 0)",
                prevjoin=f" LEFT JOIN s{r} USING (event_type)",
            )
            + ")"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
           ROUND(CAST(i{rounds}.a6 - COALESCE(s{rounds}.b6, 0) * md.xm
                      AS DOUBLE) / 1000000.0, 6) AS intercept,
           ROUND(CAST(s{rounds}.b6 AS DOUBLE) / 1000000.0, 6) AS slope
    FROM tot t
    JOIN medsel md USING (event_type)
    JOIN i{rounds} USING (event_type)
    LEFT JOIN s{rounds} USING (event_type)
    """
    )


@query(
    "q260_quantile_line", oracle=_qr_oracle(_QR_ROUNDS, _QR_TN, _QR_TD)
)
def q260_quantile_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tau = 3/4 quantile line of daily revenue cents on daily event
    count per event type — "how does the UPPER-quartile revenue day
    scale with volume", the tail-behavior readout neither OLS (q152)
    nor the median-slope Theil-Sen (q205) answers; 8 coordinate-
    descent rounds over median-centered x, every selection an exact
    integer weighted quantile, the oracle unrolling all seventeen."""
    from magi_etl_spark.operators.quantreg import quantile_line

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
        )
    )
    return quantile_line(
        daily,
        ["event_type"],
        F.col("x"),
        F.col("y"),
        tau_num=_QR_TN,
        tau_den=_QR_TD,
        rounds=_QR_ROUNDS,
    )


# --- ECE / MCE calibration summary ----------------------------------------------


@query(
    "q261_calibration_summary",
    oracle="""
    WITH rated AS MATERIALIZED (
        SELECT source,
               LEAST(CAST(len(regexp_extract_all(lower(text), 'the'))
                          AS BIGINT) * 20000, 1000000) AS p,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    b AS (
        SELECT source, LEAST(p * 10 // 1000000, 9) AS bin, p, y
        FROM rated WHERE p >= 0 AND p <= 1000000
    ),
    bins AS (
        SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE)
                     / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_p,
               ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS event_rate
        FROM b GROUP BY 1, 2
    )
    SELECT source, CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           ROUND(CAST(SUM(CAST(n AS HUGEINT) * d6) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) * 1000000.0), 6) AS ece,
           ROUND(CAST(MAX(d6) AS DOUBLE) / 1000000.0, 6) AS mce
    FROM (
        SELECT source, n,
               abs(CAST(ROUND(mean_p * 1000000) AS HUGEINT)
                   - CAST(ROUND(event_rate * 1000000) AS HUGEINT)) AS d6
        FROM bins
    ) GROUP BY 1
    """,
)
def q261_calibration_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE per source of the q253 'English-ness' micro-
    probability against the lang='en' outcome — the one-number
    calibration summary COMPOSED over reliability_brier_bins' verified
    output (exact integer bin gaps, never an order-dependent float
    sum)."""
    from magi_etl_spark.operators.brier import reliability_brier_bins
    from magi_etl_spark.operators.ece import calibration_error

    rated = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    ).select(
        "source",
        F.least(
            F.expr("size(regexp_extract_all(lower(text), 'the', 0))").cast(
                "long"
            )
            * 20000,
            F.lit(1000000).cast("long"),
        ).alias("p"),
        (F.col("lang") == "en").alias("y"),
    )
    bins = reliability_brier_bins(
        rated, ["source"], F.col("p"), F.col("y"), n_bins=10
    )
    return calibration_error(bins, ["source"])
