"""Registered queries over the round-13 operator additions.

Round-13 wave — deliberately ≤6, six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries):

- ``operators/raking.py`` — survey raking / iterative proportional
  fitting on an integer micro-weight grid; its oracle unrolls the
  fixed rounds (the maxcover q230 pattern).
- ``operators/kruskal.py`` — Kruskal–Wallis H, the k-group rank test,
  riding rankcorr's doubled-rank machinery (the second composed-
  machinery gate after q244).
- ``operators/pagehinkley.py`` — CUSUM change-point LOCALIZATION
  (exact integer argmax of |N*C_t - t*S|), the "where" beside q191's
  "whether".
- ``operators/brier.py`` — Brier score + reliability bins on the
  integer micro-probability grid.
- ``operators/wkappa.py`` — distance-weighted Cohen's kappa (ordinal
  raters), the weighted form of q248.
- ``operators/dbstability.py`` — per-cluster core/border stability
  profile composed over grid_dbscan (the q244 family's readout,
  exercised on a SECOND geometry: supplier points at eps = U).
"""

from __future__ import annotations

import math
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- survey raking / IPF --------------------------------------------------

_RAKE_ROUNDS = 3


def _rake_oracle(rounds: int) -> str:
    """Unrolled IPF oracle (the maxcover q230 pattern): one CTE per
    half-round, each mirroring rake_weights' exact scaling — ratio =
    (target * 1e6) / marginal-sum as ONE parenthesized double, weight
    rounded straight back to the BIGINT micro grid."""
    scale = (
        "SELECT event_type, di7, n, tr, tc,\n"
        "       CASE WHEN s > 0 AND {t} > 0\n"
        "            THEN CAST(ROUND(CAST(w AS DOUBLE) *\n"
        "                 (CAST({t} AS DOUBLE) * 1000000.0 /"
        " CAST(s AS DOUBLE))) AS BIGINT)\n"
        "            ELSE w END AS w\n"
        "FROM (SELECT *, SUM(w) OVER (PARTITION BY {cat}) AS s FROM {src})"
    )
    ctes = [
        """ev AS MATERIALIZED (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
                   AS di7,
               CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL
    )""",
        """cells AS MATERIALIZED (
        SELECT event_type, di7, CAST(COUNT(*) AS BIGINT) AS n
        FROM ev WHERE day < DATE '2024-01-16' GROUP BY 1, 2
    )""",
        """rt AS MATERIALIZED (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS tr
        FROM ev GROUP BY 1
    )""",
        """ct AS MATERIALIZED (
        SELECT di7, CAST(COUNT(*) AS BIGINT) AS tc FROM ev GROUP BY 1
    )""",
        """w0 AS (
        SELECT c.event_type, c.di7, c.n, c.n * 1000000 AS w, rt.tr, ct.tc
        FROM cells c JOIN rt USING (event_type) JOIN ct USING (di7)
    )""",
    ]
    src = "w0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"a{r} AS ({scale.format(t='tr', cat='event_type', src=src)})"
        )
        ctes.append(f"b{r} AS ({scale.format(t='tc', cat='di7', src=f'a{r}')})")
        src = f"b{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT event_type, di7, n, CAST(w AS BIGINT) AS w_micro"
        f" FROM {src}"
    )


@query("q250_survey_raking", oracle=_rake_oracle(_RAKE_ROUNDS))
def q250_survey_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rake the first-half-window (event_type x day-index-mod-7) cell
    counts to the FULL-window marginals — the classic calibration of a
    biased observation window to known population margins, 3 IPF
    rounds on the integer micro-weight grid; the oracle unrolls the
    identical six scalings."""
    from magi_etl_spark.operators.raking import rake_weights

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            (
                F.datediff(
                    F.to_date("ts"), F.lit("2024-01-01").cast("date")
                )
                % 7
            ).alias("di7"),
            F.to_date("ts").alias("day"),
        )
    )
    first_half = ev.where(
        F.col("day") < F.lit("2024-01-16").cast("date")
    ).select("event_type", "di7")
    rt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("target"))
    ct = ev.groupBy("di7").agg(F.count(F.lit(1)).alias("target"))
    return rake_weights(
        first_half, "event_type", "di7", rt, ct, rounds=_RAKE_ROUNDS
    )


# --- Kruskal-Wallis H -------------------------------------------------------


@query(
    "q251_kruskal_cohorts",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT event_type, user_id % 5 AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    r2 AS (
        SELECT event_type, g,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                 + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS a
        FROM base
    ),
    pg AS (
        SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS ng,
               SUM(CAST(a AS HUGEINT)) AS r2s
        FROM r2 GROUP BY 1, 2
    ),
    t6 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(ng) AS BIGINT) AS n,
               SUM(CAST(ROUND(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)
                              / CAST(ng AS DOUBLE) * 1000000.0) AS HUGEINT))
                   AS t6
        FROM pg GROUP BY 1
    ),
    ties AS (
        SELECT event_type, SUM(CAST(t AS HUGEINT) * (t - 1) * (t + 1))
                   AS tie3
        FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
              FROM base GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT t6.event_type, t6.k_groups, t6.n,
           CASE WHEN t6.n >= 2 AND t6.k_groups >= 2
                     AND 1.0 - CAST(ties.tie3 AS DOUBLE)
                         / CAST(CAST(t6.n AS HUGEINT) * t6.n * t6.n - t6.n
                                AS DOUBLE) > 0
                THEN ROUND(
                    (3.0 * CAST(t6.t6 AS DOUBLE) / 1000000.0
                     / (CAST(t6.n AS DOUBLE) * (CAST(t6.n AS DOUBLE) + 1.0))
                     - 3.0 * (CAST(t6.n AS DOUBLE) + 1.0))
                    / (1.0 - CAST(ties.tie3 AS DOUBLE)
                       / CAST(CAST(t6.n AS HUGEINT) * t6.n * t6.n - t6.n
                              AS DOUBLE)), 6)
           END AS h
    FROM t6 JOIN ties USING (event_type)
    """,
)
def q251_kruskal_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H per event type: does the integer-cent value
    distribution differ across the five user_id%5 cohorts?  The
    k-group omnibus beside the pairwise Mann-Whitney AUC (q238),
    pooled doubled ranks exact end-to-end."""
    from magi_etl_spark.operators.kruskal import kruskal_wallis

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 5).alias("cohort"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return kruskal_wallis(base, ["event_type"], "cohort", F.col("cents"))


# --- CUSUM change-point localization ----------------------------------------


@query(
    "q252_cusum_localization",
    oracle="""
    WITH d AS MATERIALIZED (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    o AS (
        SELECT event_type, day,
               SUM(x) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        FROM d
    ),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s
        FROM d GROUP BY 1
    ),
    cand AS (
        SELECT o.event_type, o.day, o.i,
               abs(CAST(t.n AS HUGEINT) * o.c - CAST(o.i AS HUGEINT) * t.s)
                   AS ad
        FROM o JOIN tot t USING (event_type) WHERE o.i < t.n
    ),
    best AS (
        SELECT event_type, day, ad,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ad DESC, i ASC) AS rk
        FROM cand
    )
    SELECT t.event_type, t.n,
           CASE WHEN b.ad > 0 THEN b.day END AS cp,
           CASE WHEN t.n >= 2
                THEN ROUND(CAST(b.ad AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
           END AS dmax
    FROM tot t LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
        USING (event_type)
    """,
)
def q252_cusum_localization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE did the daily revenue level shift, per event type: the
    exact-integer CUSUM argmax over the daily cent series — the
    localization readout beside q191's alarm stream, earliest-day
    tie-break, deviation reported as |D|/N."""
    from magi_etl_spark.operators.pagehinkley import cusum_change_point

    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    return cusum_change_point(daily, ["event_type"], "day", F.col("x"))


# --- Brier / reliability ------------------------------------------------------


@query(
    "q253_brier_calibration",
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
    )
    SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_p,
           ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS event_rate,
           ROUND(CAST(SUM(CAST(p - y * 1000000 AS HUGEINT)
                          * (p - y * 1000000)) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
               AS brier
    FROM b GROUP BY 1, 2
    """,
)
def q253_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bin Brier score of a deterministic
    'English-ness' micro-probability (capped 'the'-count evidence)
    against the lang='en' outcome, per source — the PROPER scoring
    rule beside q177's log-odds calibration bins."""
    from magi_etl_spark.operators.brier import reliability_brier_bins

    rated = load_table(spark, sf_dir, "documents").select(
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
    return reliability_brier_bins(
        rated, ["source"], F.col("p"), F.col("y"), n_bins=10
    )


# --- weighted kappa -----------------------------------------------------------


@query(
    "q254_weighted_kappa",
    oracle="""
    WITH rated AS MATERIALIZED (
        SELECT lang,
               LEAST(n_chars // 400, 3) AS i,
               LEAST(CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                          AS BIGINT) // 60, 3) AS j
        FROM documents
    ),
    rr AS (SELECT lang, i, j FROM rated
           WHERE i IS NOT NULL AND j IS NOT NULL),
    cells AS (
        SELECT lang, i, j, CAST(COUNT(*) AS BIGINT) AS c
        FROM rr GROUP BY 1, 2, 3
    ),
    obs AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_items,
               SUM(CAST(i - j AS HUGEINT) * (i - j) * c) AS vo
        FROM cells GROUP BY 1
    ),
    rm AS (SELECT lang, i, CAST(SUM(c) AS BIGINT) AS rowc
           FROM cells GROUP BY 1, 2),
    cm AS (SELECT lang, j, CAST(SUM(c) AS BIGINT) AS colc
           FROM cells GROUP BY 1, 2),
    ex AS (
        SELECT rm.lang,
               SUM(CAST(rm.i - cm.j AS HUGEINT) * (rm.i - cm.j)
                   * rm.rowc * cm.colc) AS ve
        FROM rm JOIN cm ON cm.lang = rm.lang GROUP BY 1
    )
    SELECT o.lang, o.n_items,
           CASE WHEN e.ve > 0
                THEN ROUND(1.0 - CAST(CAST(o.n_items AS HUGEINT) * o.vo
                                      AS DOUBLE) / CAST(e.ve AS DOUBLE), 6)
           END AS kappa_w
    FROM obs o JOIN ex e ON e.lang = o.lang
    """,
)
def q254_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between the q248 raters (the
    length-bucket and token-count-bucket labelers, ordinal 0..3) per
    language: near-misses now count, so the agreement readout respects
    the ordinal scale."""
    from magi_etl_spark.operators.wkappa import weighted_kappa

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
    return weighted_kappa(
        rated, ["lang"], F.col("r1"), F.col("r2"), "quadratic"
    )


# --- DBSCAN stability profile ---------------------------------------------------

# Second geometry for the density family: supplier points at eps = U
# (mean neighbor count pi ~ 3.1, still subcritical for continuum
# percolation at ~4.5), count-derived modulus exactly like q244 so the
# density is scale-invariant.
_DBS_U = 6_000_000
_DBS_EPS = 6_000_000
_DBS_MIN_PTS = 4


@query(
    "q255_dbscan_profile",
    # MATERIALIZED is load-bearing on pairs/core_edges: the recursive
    # reach CTE re-executes non-materialized CTEs per iteration (the
    # q244 lesson)
    oracle=f"""
    WITH RECURSIVE m AS (
        SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
               * {_DBS_U} AS m
        FROM supplier
    ),
    pts AS MATERIALIZED (
        SELECT s_suppkey AS id,
               (CAST(concat('0x', substr(md5(concat('dbsx|',
                       CAST(s_suppkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % m.m) - m.m // 2 AS x,
               (CAST(concat('0x', substr(md5(concat('dbsy|',
                       CAST(s_suppkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % m.m) - m.m // 2 AS y
        FROM supplier, m
    ),
    pairs AS MATERIALIZED (
        SELECT a.id AS pa, b.id AS pb
        FROM pts a JOIN pts b
          ON (CAST(a.x AS HUGEINT) - b.x) * (CAST(a.x AS HUGEINT) - b.x)
             + (CAST(a.y AS HUGEINT) - b.y) * (CAST(a.y AS HUGEINT) - b.y)
             <= CAST({_DBS_EPS} AS HUGEINT) * {_DBS_EPS}
    ),
    cores AS MATERIALIZED (
        SELECT pa AS id FROM pairs GROUP BY 1
        HAVING COUNT(*) >= {_DBS_MIN_PTS}
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
    ),
    lab AS (
        SELECT p.id,
               CASE WHEN c.cluster IS NOT NULL THEN 'core'
                    WHEN bo.cluster IS NOT NULL THEN 'border' END AS role,
               COALESCE(c.cluster, bo.cluster) AS cluster
        FROM pts p
        LEFT JOIN comp c ON c.id = p.id
        LEFT JOIN border bo ON bo.id = p.id
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_core,
           CAST(SUM(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_border,
           ROUND(CAST(SUM(CASE WHEN role = 'border' THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS border_ratio
    FROM lab WHERE cluster IS NOT NULL GROUP BY 1
    """,
)
def q255_dbscan_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster core/border stability profile of grid-DBSCAN over
    md5-derived SUPPLIER coordinates (count-derived domain, eps = U so
    the mean neighborhood is ~pi — denser than q244's geometry but
    still subcritical): the second composed gate over the density
    family, and the oracle replays the naive definition end-to-end."""
    from magi_etl_spark.functions.text import md5_u32
    from magi_etl_spark.operators.dbscan import grid_dbscan
    from magi_etl_spark.operators.dbstability import dbscan_cluster_profile

    sup = load_table(spark, sf_dir, "supplier")
    m = math.ceil(math.sqrt(sup.count())) * _DBS_U

    def md5coord(salt: str):
        return (
            md5_u32(F.concat(F.lit(salt), F.col("s_suppkey").cast("string")))
            % m
            - m // 2
        )

    pts = sup.select(
        F.col("s_suppkey").alias("id"),
        md5coord("dbsx|").alias("x"),
        md5coord("dbsy|").alias("y"),
    )
    labels = grid_dbscan(pts, _DBS_EPS, _DBS_MIN_PTS)
    return dbscan_cluster_profile(labels)
