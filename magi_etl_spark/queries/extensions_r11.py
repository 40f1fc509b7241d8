"""Registered queries over the round-11 operator additions.

Round-11 wave — deliberately ≤6 (the r8 verdict: waves must stay
smaller than the tail-fill slack), six queries across six NEW operator
modules (no gate-verified file is touched, so no extra dependency
re-entries):

- ``operators/auc.py`` — exact ROC-AUC / Mann-Whitney U per group
  (integer pair counts, decimal cross-products, ties counted half).
- ``operators/spatial.py`` — grid-blocked epsilon-distance join in
  planar integer coordinates (9-cell neighborhood candidates, exact
  integer metric, no all-pairs path).
- ``operators/acf.py`` — sample autocorrelation at lags 1..K per
  series from exact sufficient statistics (one ordered window).
- ``operators/fdr.py`` — Benjamini–Hochberg step-up FDR control with
  pure-integer threshold tests over a range-partitioned global rank.
- ``operators/cmh.py`` — Cochran–Mantel–Haenszel stratified 2x2 test
  + Mantel–Haenszel pooled odds ratio (one keyed aggregation).
- ``operators/ndcg.py`` — NDCG@k graded ranking-quality evaluation
  (per-query windows, tie-invariant ideal ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- exact per-day ROC-AUC -----------------------------------------------------


@query(
    "q238_group_auc",
    oracle="""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    pv AS (
        SELECT day, v, CAST(SUM(p) AS BIGINT) AS cp,
               CAST(SUM(1 - p) AS BIGINT) AS cn
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT day, cp, cn,
               COALESCE(CAST(SUM(cn) OVER (
                   PARTITION BY day ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) AS cnb,
               CAST(SUM(cp) OVER (PARTITION BY day) AS BIGINT) AS n_pos,
               CAST(SUM(cn) OVER (PARTITION BY day) AS BIGINT) AS n_neg
        FROM pv
    )
    SELECT day, n_pos, n_neg,
           CAST(SUM(2 * CAST(cp AS HUGEINT) * CAST(cnb AS HUGEINT)
                    + CAST(cp AS HUGEINT) * CAST(cn AS HUGEINT))
                AS BIGINT) AS u2,
           ROUND(CAST(SUM(2 * CAST(cp AS HUGEINT) * CAST(cnb AS HUGEINT)
                          + CAST(cp AS HUGEINT) * CAST(cn AS HUGEINT))
                      AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
                 6) AS auc
    FROM cum
    WHERE n_pos > 0 AND n_neg > 0
    GROUP BY 1, 2, 3
    """,
)
def q238_group_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact ROC-AUC of event value (integer cents) separating
    purchases (positives) from clicks (negatives) — the Mann-Whitney
    rank statistic from counts, ties counted half, cross-products in
    decimal(38,0)."""
    from magi_etl_spark.operators.auc import group_auc

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(["click", "purchase"])
    )
    return group_auc(
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ),
        ["day"],
        F.col("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0),
    )


# --- grid-blocked spatial epsilon join -----------------------------------------

_Q239_EPS = 1_500_000  # micro-degree radius (~1.5 deg in the planar metric)


@query(
    "q239_spatial_pairs",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               ((CAST(concat('0x', substr(md5(concat('geo|x|',
                       CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % 120000000) - 60000000) AS x,
               ((CAST(concat('0x', substr(md5(concat('geo|y|',
                       CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                 % 360000000) - 180000000) AS y
        FROM customer
    )
    SELECT a.c_custkey AS c1, b.c_custkey AS c2,
           CAST((CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))
                * (CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))
                + (CAST(a.y AS HUGEINT) - CAST(b.y AS HUGEINT))
                * (CAST(a.y AS HUGEINT) - CAST(b.y AS HUGEINT))
                AS BIGINT) AS dist2
    FROM c a, c b
    WHERE a.c_custkey < b.c_custkey
      AND (CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))
          * (CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))
          + (CAST(a.y AS HUGEINT) - CAST(b.y AS HUGEINT))
          * (CAST(a.y AS HUGEINT) - CAST(b.y AS HUGEINT))
          <= {_Q239_EPS} * CAST({_Q239_EPS} AS HUGEINT)
    """,
)
def q239_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs within a planar epsilon radius of md5-derived
    integer micro-degree coordinates, via the 9-cell grid-blocked join
    (the oracle replays it as the NAIVE all-pairs predicate, so the
    blocking's completeness is checked against an independent path —
    plus the randomized blocked-vs-naive unit test)."""
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    def md5mod(salt: str, mod: int, shift: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
            - shift
        )

    pts = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        md5mod("geo|x|", 120_000_000, 60_000_000).alias("x"),
        md5mod("geo|y|", 360_000_000, 180_000_000).alias("y"),
    )
    pairs = grid_blocked_eps_join(
        pts.select(F.col("c_custkey").alias("c1"), "x", "y"),
        pts.select(F.col("c_custkey").alias("c2"), "x", "y"),
        _Q239_EPS,
        ["c1"],
        ["c2"],
    )
    return pairs.where(F.col("c1") < F.col("c2"))


# --- per-series autocorrelation ------------------------------------------------


def _q240_oracle() -> str:
    lead_cols = ",\n               ".join(
        f"lead(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x{k}"
        for k in range(1, 8)
    )
    branches = "\n        UNION ALL\n".join(
        f"        SELECT event_type, {k} AS k, x, x{k} AS xl FROM leads"
        for k in range(1, 8)
    )
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    leads AS (
        SELECT event_type, x,
               {lead_cols}
        FROM daily
    ),
    stacked AS (
{branches}
    ),
    per_k AS (
        SELECT event_type, k,
               SUM(CASE WHEN xl IS NOT NULL
                   THEN CAST(x AS HUGEINT) * CAST(xl AS HUGEINT) END) AS c,
               SUM(CASE WHEN xl IS NOT NULL THEN x END) AS h,
               SUM(xl) AS tl,
               COUNT(xl) AS pairs
        FROM stacked GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss
        FROM daily GROUP BY 1
    )
    SELECT p.event_type, p.k, t.n,
           CASE WHEN (CAST(t.ss AS DOUBLE)
                      - CAST(t.n AS DOUBLE)
                        * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                        * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))) > 0
                THEN ROUND(
                    (CAST(p.c AS DOUBLE)
                     - (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                       * (CAST(p.h AS DOUBLE) + CAST(p.tl AS DOUBLE))
                     + CAST(p.pairs AS DOUBLE)
                       * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                       * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
                    / (CAST(t.ss AS DOUBLE)
                       - CAST(t.n AS DOUBLE)
                         * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                         * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))),
                    6)
           END AS r_k
    FROM per_k p JOIN totals t USING (event_type)
    WHERE p.pairs > 0
    """


@query("q240_daily_autocorrelation", oracle=_q240_oracle())
def q240_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..7 of the daily event-count series per event type:
    exact integer sufficient statistics (cross-products and squares in
    decimal(38,0)/HUGEINT), one fixed double operand order, 6-dp
    grid."""
    from magi_etl_spark.operators.acf import autocorrelation

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return autocorrelation(daily, ["event_type"], "day", F.col("x"), 7)


# --- Benjamini-Hochberg FDR ----------------------------------------------------


@query(
    "q241_bh_fdr",
    oracle="""
    WITH hyp AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT event_type, day,
               CASE WHEN event_type = 'purchase'
                    THEN (CAST(concat('0x', substr(md5(concat('fdr|',
                             event_type, '|', CAST(day AS VARCHAR))), 1, 8))
                          AS BIGINT) % 1000001) // 101
                    ELSE (CAST(concat('0x', substr(md5(concat('fdr|',
                             event_type, '|', CAST(day AS VARCHAR))), 1, 8))
                          AS BIGINT) % 1000001)
               END AS p_micro
        FROM hyp
    ),
    ranked AS (
        SELECT p_micro,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY p_micro, event_type, day
               ) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ),
    sat AS (
        SELECT r, p_micro, m
        FROM ranked
        WHERE CAST(p_micro AS HUGEINT) * m * 20
              <= CAST(r AS HUGEINT) * 1 * 1000000
    ),
    thr AS (
        SELECT MAX(r) AS k_star, MAX(p_micro) AS p_star_micro FROM sat
    )
    SELECT MAX(m) AS m, MAX(t.k_star) AS k_star,
           MAX(t.p_star_micro) AS p_star_micro,
           CAST(COALESCE(SUM(CASE WHEN ranked.p_micro <= t.p_star_micro
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rejected
    FROM ranked, thr t
    """,
)
def q241_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg at alpha = 1/20 over one p-value per
    (event_type, day) cell: md5-uniform null p-values with a planted
    signal (purchase cells' p divided by 101), micro-integer threshold
    arithmetic end to end, global rank via the range-partitioned
    prefix rank — never a single-partition window."""
    from magi_etl_spark.operators.fdr import bh_summary

    hyp = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    base_p = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("fdr|"),
                        F.col("event_type"),
                        F.lit("|"),
                        F.col("day").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_001
    )
    # _basep rides as a named column so the DIV is the epochs idiom
    # (no value splicing)
    p = (
        hyp.select("event_type", "day", base_p.alias("_basep"))
        .select(
            "event_type",
            "day",
            F.when(
                F.col("event_type") == "purchase",
                F.expr("_basep DIV 101"),
            )
            .otherwise(F.col("_basep"))
            .alias("p_micro"),
        )
    )
    return bh_summary(p, "p_micro", ["event_type", "day"], 1, 20)


# --- Cochran-Mantel-Haenszel ---------------------------------------------------


@query(
    "q242_cmh_high_value",
    oracle="""
    WITH base AS (
        SELECT date_trunc('month', o_orderdate) AS mth,
               CAST(CAST(concat('0x', substr(md5(concat('cmh|',
                        CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 2 AS INT) AS arm,
               CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         > 25000000 THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    cells AS (
        SELECT mth,
               CAST(SUM(CASE WHEN arm = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN arm = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN arm = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN arm = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM base GROUP BY 1
    ),
    per AS (
        SELECT a,
               (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                  + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS e,
               (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
               * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
               * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
               * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
               / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                   + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                  * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                     + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                  * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                     + CAST(c AS DOUBLE) + CAST(d AS DOUBLE) - 1.0))
                   AS v,
               CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                  + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS orn,
               CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
               / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                  + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS ord_
        FROM cells
        WHERE a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           ROUND(SUM(e), 6) AS expected_a,
           ROUND(CASE WHEN SUM(v) > 0
                 THEN (CAST(SUM(a) AS DOUBLE) - SUM(e))
                      * (CAST(SUM(a) AS DOUBLE) - SUM(e)) / SUM(v)
                 END, 6) AS chi2,
           ROUND(CASE WHEN SUM(ord_) > 0 THEN SUM(orn) / SUM(ord_) END,
                 6) AS or_mh
    FROM per
    """,
)
def q242_cmh_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMH test of "md5 arm vs high-value order (> $250k)" stratified
    by order month — the confounder-adjusted complement to the marginal
    chi-square (q208).  Cell counts from one keyed aggregation;
    E/V/odds terms are per-stratum doubles in one fixed operand
    order."""
    from magi_etl_spark.operators.cmh import cmh_test

    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cmh|"), F.col("o_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        .cast("int")
        .alias("arm"),
        F.when(
            F.round(F.col("o_totalprice") * 100).cast("long") > 25_000_000, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    return cmh_test(o, ["mth"], F.col("arm"), F.col("y"), 1, 0)


# --- NDCG ranking evaluation ---------------------------------------------------

_Q243_TERMS = ["data", "merge", "query"]


@query(
    "q243_ndcg_eval",
    oracle=f"""
    WITH p AS (
        SELECT d.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents) d,
             LATERAL unnest(d.tk) AS t(tok)
        WHERE t.tok IN ('{_Q243_TERMS[0]}', '{_Q243_TERMS[1]}',
                        '{_Q243_TERMS[2]}')
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT p.tok, p.doc_id, LEAST(3, p.tf) AS rel, d.n_chars
        FROM p JOIN documents d USING (doc_id)
    ),
    ranked AS (
        SELECT tok, rel,
               ROW_NUMBER() OVER (PARTITION BY tok
                   ORDER BY n_chars DESC, doc_id) AS pos,
               ROW_NUMBER() OVER (PARTITION BY tok
                   ORDER BY rel DESC) AS ipos
        FROM cand
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_cands,
           ROUND(SUM(CASE WHEN pos <= 10
                 THEN (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
                      / log2(CAST(pos AS DOUBLE) + 1.0)
                 ELSE 0.0 END), 6) AS dcg,
           ROUND(SUM(CASE WHEN ipos <= 10
                 THEN (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
                      / log2(CAST(ipos AS DOUBLE) + 1.0)
                 ELSE 0.0 END), 6) AS idcg,
           CASE WHEN SUM(CASE WHEN ipos <= 10
                     THEN (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
                          / log2(CAST(ipos AS DOUBLE) + 1.0)
                     ELSE 0.0 END) > 0
                THEN ROUND(SUM(CASE WHEN pos <= 10
                          THEN (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
                               / log2(CAST(pos AS DOUBLE) + 1.0)
                          ELSE 0.0 END)
                      / SUM(CASE WHEN ipos <= 10
                          THEN (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
                               / log2(CAST(ipos AS DOUBLE) + 1.0)
                          ELSE 0.0 END), 6)
           END AS ndcg
    FROM ranked GROUP BY 1
    """,
)
def q243_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a length-prior ranker (documents ordered by n_chars
    descending, doc_id tie-break) against graded term-frequency
    relevance (rel = min(tf, 3)) for three query terms — the graded
    ranking-quality readout next to the binary recall evals
    (q202/q204).  Candidates come from the term postings, never the
    corpus."""
    from magi_etl_spark.operators.invindex import build_postings
    from magi_etl_spark.operators.ndcg import ndcg_at_k

    docs = load_table(spark, sf_dir, "documents")
    postings = build_postings(docs).where(F.col("tok").isin(_Q243_TERMS))
    cand = postings.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).select(
        "tok",
        "doc_id",
        "n_chars",
        F.least(F.lit(3), F.col("tf")).alias("rel"),
    )
    return ndcg_at_k(
        cand,
        ["tok"],
        [F.desc("n_chars"), F.asc("doc_id")],
        F.col("rel"),
        10,
    )
