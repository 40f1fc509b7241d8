"""Registered queries over the round-6 operator additions.

Round-6 operator wave: mergeable cardinality/frequency sketches (KMV,
deterministic HyperLogLog, Count-Min — ``operators/sketches.py``; the
reference exposes Presto's approx_distinct/approx_most_frequent at
``tasks.py``'s metric layer, these are the oracle-checkable Spark
equivalents), hard-negative mining for contrastive training
(``operators/similarity.py``), asymmetric shingle-set containment
dedup (``operators/dedup.py``), and curriculum ordering over the
range-partitioned prefix sum (``operators/mixing.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- cardinality / frequency sketches ---------------------------------------


@query(
    "q133_kmv_distinct",
    oracle="""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(concat('kmv|',
                    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS _h
        FROM events
    ),
    kept AS (
        SELECT event_type, _h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY _h) AS rn
        FROM h
    ),
    agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(_h) AS kth
        FROM kept WHERE rn <= 64 GROUP BY event_type
    ),
    ex AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT a.event_type, a.n_seen,
           ROUND(CASE WHEN a.n_seen < 64 THEN CAST(a.n_seen AS DOUBLE)
                      ELSE 63.0 / (CAST(a.kth AS DOUBLE) / 4294967296.0)
                 END, 4) AS est_distinct,
           ex.exact_distinct
    FROM agg a JOIN ex ON a.event_type = ex.event_type
    """,
)
def q133_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-user estimate per event type, exact
    count alongside for calibration: the sketch keeps the 64 smallest
    md5-derived 32-bit hashes per group — fixed state, mergeable, and
    reproduced literally by the oracle (the estimate is a single
    division of deterministic integers)."""
    from magi_etl_spark.operators.sketches import kmv_distinct

    e = load_table(spark, sf_dir, "events")
    est = kmv_distinct(e, ["event_type"], "user_id", k=64)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("n_seen").cast("long").alias("n_seen"),
        "est_distinct",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


@query(
    "q134_hll_distinct",
    oracle="""
    WITH r AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(concat('hll|',
                    CAST(user_id AS VARCHAR))), 11, 2)) AS BIGINT) % 64 AS b,
               CAST(concat('0x', substr(md5(concat('hll|',
                    CAST(user_id AS VARCHAR))), 1, 10)) AS BIGINT) AS rest
        FROM events
    ),
    regs AS (
        SELECT event_type, b,
               MAX(CASE WHEN rest = 0 THEN 41
                        ELSE 41 - length(bin(rest)) END) AS reg
        FROM r GROUP BY event_type, b
    ),
    g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
               SUM(POWER(0.5, reg)) + (64 - COUNT(*)) AS hsum
        FROM regs GROUP BY event_type
    )
    SELECT event_type, n_buckets,
           ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / hsum
                           <= 160.0
                       AND n_buckets < 64
                      THEN 64.0 * ln(64.0 / (64.0 - CAST(n_buckets AS DOUBLE)))
                      ELSE (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / hsum
                 END, 4) AS est_distinct
    FROM g
    """,
)
def q134_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (m=64) distinct-user estimate per event
    type.  Register math is all-integer over disjoint md5 hex
    substrings, and the harmonic sum adds exact multiples of 2^-41 — so
    unlike Spark's builtin approx_count_distinct the estimate is
    engine-portable and the oracle reproduces it bit for bit (linear-
    counting small-range branch included)."""
    from magi_etl_spark.operators.sketches import hll_distinct

    e = load_table(spark, sf_dir, "events")
    return hll_distinct(e, ["event_type"], "user_id").select(
        "event_type",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "est_distinct",
    )


@query(
    "q135_cms_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        FROM documents
    ),
    tc AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY token
    ),
    cells AS (
        SELECT token, freq, j,
               CAST(concat('0x', substr(md5(concat('cms',
                    CAST(j AS VARCHAR), '|', token)), 1, 8)) AS BIGINT)
                    % 256 AS b
        FROM tc, (SELECT unnest(range(0, 4)) AS j) js
    ),
    sketch AS (
        SELECT j, b, CAST(SUM(freq) AS BIGINT) AS cell_sum
        FROM cells GROUP BY j, b
    ),
    est AS (
        SELECT c.token, CAST(MIN(s.cell_sum) AS BIGINT) AS est_freq
        FROM cells c JOIN sketch s ON c.j = s.j AND c.b = s.b
        GROUP BY c.token
    ),
    top AS (SELECT token, freq FROM tc ORDER BY freq DESC, token LIMIT 20)
    SELECT t.token, t.freq, e.est_freq
    FROM top t JOIN est e ON t.token = e.token
    """,
)
def q135_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: the corpus's top-20 tokens with their
    exact counts and the CMS estimate (depth 4 × width 256, salted md5
    rows).  est_freq >= freq always (collisions only overcount) — the
    oracle checks the exact estimates, the pytest suite pins the
    one-sided-error invariant corpus-wide."""
    from magi_etl_spark.functions.text import words
    from magi_etl_spark.operators.sketches import cms_counts

    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    est = cms_counts(tc, "token", "freq", depth=4, width=256)
    return (
        est.orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
        .select("token", "freq", F.col("est_freq").cast("long").alias("est_freq"))
    )


# --- contrastive mining / asymmetric dedup / curriculum ---------------------

_COS = (
    "list_sum(list_transform(range(1, len(av) + 1), i -> av[i] * bv[i]))"
    " / (sqrt(list_sum(list_transform(av, x -> x * x)))"
    " * sqrt(list_sum(list_transform(bv, x -> x * x))))"
)


@query(
    "q136_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS bv
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS av FROM embeddings),
    scored AS (
        SELECT q.query_id, c.vec_id, {_COS} AS s
        FROM c, q WHERE c.vec_id <> q.query_id
    ),
    band AS (SELECT * FROM scored WHERE s >= 0.2 AND s < 0.3),
    ranked AS (
        SELECT query_id, vec_id, s,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY s DESC, vec_id) AS INTEGER) AS rn
        FROM band
    )
    SELECT query_id, vec_id, ROUND(s, 6) AS score, rn
    FROM ranked WHERE rn <= 5
    """,
)
def q136_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for query vectors 0-2: top-5 corpus vectors
    per query with cosine in the confusable band [0.2, 0.3) — similar
    enough to matter for a contrastive batch, below the positive
    threshold.  Broadcast query side, one map-side scoring scan."""
    from magi_etl_spark.operators.similarity import hard_negatives

    em = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        em, em.where(F.col("vec_id") < 3), lo=0.2, hi=0.3, k=5
    )


@query(
    "q137_containment_pairs",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                    ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM t
    ),
    nonempty AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
    ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM ex0),
    rare AS (
        SELECT shingle FROM ex0, nd
        GROUP BY shingle, nd.n HAVING COUNT(*) <= 0.01 * nd.n
    ),
    ex AS (SELECT e.doc_id, e.shingle
           FROM ex0 e JOIN rare r ON e.shingle = r.shingle),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(len(sa.sh) AS BIGINT) AS n_a,
           ROUND(i.n_common / len(sa.sh), 6) AS containment
    FROM inter i JOIN nonempty sa ON i.doc_a = sa.doc_id
    WHERE i.n_common / len(sa.sh) >= 0.4
    """,
)
def q137_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset detection: DIRECTED pairs where >= 40%
    of doc_a's 3-token shingles also occur in doc_b — the quoted-inside
    / subset-duplicate case Jaccard under-scores.  Stop-shingle pruning
    at 1% document frequency is the same scale lever as
    q29_ngram_jaccard_pairs; exact integer intersection counts keep the
    threshold engine-portable."""
    from magi_etl_spark.operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.4, max_doc_freq=0.01
    )


@query(
    "q138_curriculum_order",
    oracle="""
    WITH staged AS (
        SELECT doc_id, lang,
               CAST(least(n_chars // 500, 9) AS INTEGER) AS stage,
               substr(md5(concat('curriculum|',
                      CAST(doc_id AS VARCHAR))), 1, 8) AS draw
        FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT doc_id, lang, stage,
           CAST(ROW_NUMBER() OVER (ORDER BY stage, draw, doc_id)
                AS BIGINT) AS curriculum_pos
    FROM staged
    """,
)
def q138_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data order: documents binned into 10 length stages
    (easy→hard), hash-shuffled within each stage, with a GLOBAL 1-based
    position.  The Spark side computes the position with the range-
    partitioned two-pass prefix sum (operators/prefix.py) — no
    single-partition ORDER-BY-everything window — while the oracle's
    one-window ROW_NUMBER checks the exact same total order."""
    from magi_etl_spark.operators.mixing import curriculum_order

    d = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    ).select("doc_id", "lang", "n_chars")
    out = curriculum_order(
        d, F.least(F.floor(F.col("n_chars") / 500), F.lit(9)), "doc_id"
    )
    return out.select(
        "doc_id", "lang", "stage", F.col("curriculum_pos").cast("long").alias("curriculum_pos")
    )


# --- behavior analytics -------------------------------------------------------


@query(
    "q139_funnel",
    oracle="""
    WITH s0 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s0 ON e.user_id = s0.user_id
        WHERE e.event_type = 'click' AND e.ts >= s0.t
          AND e.ts <= s0.t + INTERVAL 43200 SECOND
        GROUP BY e.user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s1.t
          AND e.ts <= s1.t + INTERVAL 43200 SECOND
        GROUP BY e.user_id
    ),
    c AS (
        SELECT 0 AS stage_idx, 'view' AS stage,
               CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_users
        UNION ALL
        SELECT 1, 'click', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
        UNION ALL
        SELECT 2, 'purchase', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    )
    SELECT c.stage_idx, c.stage, c.n_users,
           CASE WHEN p.n_users IS NULL THEN 1.0
                WHEN p.n_users = 0 THEN 0.0
                ELSE ROUND(c.n_users / CAST(p.n_users AS DOUBLE), 4)
           END AS conv_from_prev,
           CASE WHEN f.n_users = 0 THEN 0.0
                ELSE ROUND(c.n_users / CAST(f.n_users AS DOUBLE), 4)
           END AS conv_from_first
    FROM c
    LEFT JOIN c p ON p.stage_idx = c.stage_idx - 1
    CROSS JOIN (SELECT n_users FROM c WHERE stage_idx = 0) f
    """,
)
def q139_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel with a 12-hour conversion
    window: per-user first-touch chaining, one groupBy + one user-keyed
    join per stage, conversion ratios from joining the |stages|-row
    count frame to itself (no unpartitioned window).  Reference analog:
    the session/user conversion aggregates of tasks.py's product layer."""
    from magi_etl_spark.operators.behavior import funnel_stages

    e = load_table(spark, sf_dir, "events")
    return funnel_stages(
        e, ["view", "click", "purchase"], max_gap_s=43200
    )


@query(
    "q140_cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    j AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INTEGER)
                   AS week_offset
        FROM act a JOIN first f ON a.user_id = f.user_id
        WHERE date_diff('day', f.cohort_week, a.wk) BETWEEN 0 AND 28
    ),
    per AS (
        SELECT cohort_week, week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM j GROUP BY cohort_week, week_offset
    )
    SELECT p.cohort_week, p.week_offset, p.n_users,
           ROUND(p.n_users / CAST(s.n_users AS DOUBLE), 4) AS retention
    FROM per p
    JOIN (SELECT cohort_week, n_users FROM per WHERE week_offset = 0) s
      ON p.cohort_week = s.cohort_week
    """,
)
def q140_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (offsets 0-4): first-touch cohorting,
    distinct (user, week) activity, one user-keyed join, per-(cohort,
    offset) counts normalized by the broadcast offset-0 cohort size."""
    from magi_etl_spark.operators.behavior import cohort_retention

    e = load_table(spark, sf_dir, "events")
    return cohort_retention(e, max_offset=4)


@query(
    "q141_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS src_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS dst_type
        FROM events
    ),
    c AS (
        SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE dst_type IS NOT NULL
        GROUP BY src_type, dst_type
    ),
    t AS (
        SELECT src_type, CAST(SUM(n_trans) AS BIGINT) AS total
        FROM c GROUP BY src_type
    )
    SELECT c.src_type, c.dst_type, c.n_trans,
           ROUND(c.n_trans / CAST(t.total AS DOUBLE), 4) AS prob
    FROM c JOIN t ON c.src_type = t.src_type
    """,
)
def q141_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (ts, event_id ordered so equal timestamps are
    deterministic): per-user lead() window + (src, dst)-keyed counts,
    row-normalized via a broadcast per-src total."""
    from magi_etl_spark.operators.behavior import markov_transitions

    e = load_table(spark, sf_dir, "events")
    return markov_transitions(e)


@query(
    "q142_copurchase_lift",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    co AS (
        SELECT a.it AS item_a, b2.it AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_co
        FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
        GROUP BY a.it, b2.it HAVING COUNT(*) >= 2
    ),
    pi AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY it),
    nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM b)
    SELECT co.item_a, co.item_b, co.n_co, pa.n AS n_a, pb.n AS n_b,
           ROUND(nb.n_baskets * co.n_co
                 / CAST(pa.n * pb.n AS DOUBLE), 4) AS lift
    FROM co
    JOIN pi pa ON co.item_a = pa.it
    JOIN pi pb ON co.item_b = pb.it
    CROSS JOIN nb
    """,
)
def q142_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pairs: parts co-purchased in >= 2 orders with
    lift vs independence.  The pair enumeration joins on the BASKET id
    (per-order sizes bounded by the data model), so pair state is
    linear-ish in rows, never |parts|^2."""
    from magi_etl_spark.operators.association import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_pairs(li, min_co=2)


# --- drift / outlier monitoring ----------------------------------------------


@query(
    "q143_psi_drift",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               least(greatest(CAST(floor(value / 35.0) AS INTEGER), 0), 9)
                   AS b,
               (ts < TIMESTAMP '2024-01-16') AS is_base
        FROM events
    ),
    cells AS (
        SELECT event_type, b,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
                   AS nc
        FROM binned GROUP BY event_type, b
    ),
    grid AS (
        SELECT t.event_type, gs.b
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(range(10)) AS b) gs
    ),
    dense AS (
        SELECT g.event_type, g.b,
               COALESCE(c.nb, 0) AS nb, COALESCE(c.nc, 0) AS nc
        FROM grid g
        LEFT JOIN cells c ON g.event_type = c.event_type AND g.b = c.b
    ),
    tot AS (
        SELECT event_type, CAST(SUM(nb) AS BIGINT) AS n_base,
               CAST(SUM(nc) AS BIGINT) AS n_cur
        FROM dense GROUP BY event_type
    )
    SELECT d.event_type, t.n_base, t.n_cur,
           ROUND(SUM(
               ((d.nb + 1) / CAST(t.n_base + 10 AS DOUBLE)
                - (d.nc + 1) / CAST(t.n_cur + 10 AS DOUBLE))
               * ln(((d.nb + 1) / CAST(t.n_base + 10 AS DOUBLE))
                    / ((d.nc + 1) / CAST(t.n_cur + 10 AS DOUBLE)))
           ), 4) AS psi
    FROM dense d JOIN tot t ON d.event_type = t.event_type
    GROUP BY d.event_type, t.n_base, t.n_cur
    """,
)
def q143_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution,
    first half of January vs second, per event type: 10 fixed-width
    bins over [0, 350), add-one smoothing, densified so empty bins
    contribute their smoothed mass.  One conditional-count aggregation
    bounded by |types| x 10."""
    from magi_etl_spark.operators.drift import psi_drift

    e = load_table(spark, sf_dir, "events")
    return psi_drift(e, split_ts="2024-01-16", lo=0.0, hi=350.0, n_bins=10)


@query(
    "q144_mad_outliers",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY day
    ),
    med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
    mad AS (
        SELECT quantile_cont(abs(rev - med.m), 0.5) AS d
        FROM daily, med
    )
    SELECT daily.day, ROUND(daily.rev, 2) AS revenue,
           ROUND(CASE WHEN mad.d = 0 THEN 0.0
                      ELSE (daily.rev - med.m) / (1.4826 * mad.d)
                 END, 4) AS robust_z,
           abs(ROUND(CASE WHEN mad.d = 0 THEN 0.0
                          ELSE (daily.rev - med.m) / (1.4826 * mad.d)
                     END, 4)) > 3.0 AS is_outlier
    FROM daily, med, mad
    """,
)
def q144_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags on the daily order-revenue series: exact
    median/MAD via two scalar percentile aggregates broadcast back,
    |robust z| > 3 flags.  Never a global sort — the medians are 1-row
    frames."""
    from magi_etl_spark.operators.drift import mad_outliers

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    out = mad_outliers(daily, ["day"], "rev", threshold=3.0)
    return out.select(
        "day",
        F.round("rev", 2).alias("revenue"),
        "robust_z",
        "is_outlier",
    )


# --- embedding projection / RFM ----------------------------------------------


def _rp_oracle() -> str:
    from magi_etl_spark.operators.projection import projection_sign_list_sql

    cols = ",\n           ".join(
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        + projection_sign_list_sql("rp", j, 64)
        + f") / sqrt(8.0), 3) + 0.0 AS p{j}"
        for j in range(8)
    )
    return f"SELECT vec_id, label,\n           {cols}\n    FROM embeddings"


@query("q145_random_projection", oracle=_rp_oracle())
def q145_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection of the 64-dim
    embeddings to 8 dims (JL-normalized, rounded to 3): the projection
    matrix is md5-derived so the oracle rebuilds it with a list
    comprehension, and both sides fold dimensions left-to-right so the
    float arithmetic matches exactly.  Pure map — zero shuffles."""
    from magi_etl_spark.operators.projection import random_projection

    em = load_table(spark, sf_dir, "embeddings")
    return random_projection(em, "embedding", out_dim=8).select(
        "vec_id", "label", *[f"p{j}" for j in range(8)]
    )


@query(
    "q146_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               CAST(date_diff('day', DATE '1970-01-01',
                    CAST(MAX(o_orderdate) AS DATE)) AS DOUBLE) AS recency,
               CAST(COUNT(*) AS DOUBLE) AS frequency,
               CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    q AS (
        SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS qr,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS qf,
               quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
        FROM per
    ),
    scored AS (
        SELECT CAST(1 + CAST(recency > qr[1] AS INTEGER)
                      + CAST(recency > qr[2] AS INTEGER)
                      + CAST(recency > qr[3] AS INTEGER) AS INTEGER)
                   AS r_score,
               CAST(1 + CAST(frequency > qf[1] AS INTEGER)
                      + CAST(frequency > qf[2] AS INTEGER)
                      + CAST(frequency > qf[3] AS INTEGER) AS INTEGER)
                   AS f_score,
               CAST(1 + CAST(monetary > qm[1] AS INTEGER)
                      + CAST(monetary > qm[2] AS INTEGER)
                      + CAST(monetary > qm[3] AS INTEGER) AS INTEGER)
                   AS m_score,
               monetary
        FROM per, q
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(monetary AS BIGINT)) AS BIGINT) AS DOUBLE)
               / COUNT(*) / 100.0 AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q146_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation rollup: per-customer recency/frequency/monetary
    scored 1-4 against GLOBAL quartiles from one scalar percentile
    aggregate broadcast back — deliberately not ntile() over every
    customer (an unpartitioned global sort).  Monetary is integer CENTS
    end-to-end (exact BIGINT sums, dyadic-exact quartile interpolation,
    one division chain for the average): the round-the-double-sum
    version flipped an avg_monetary cell at the 6-dp grid at sf0.1 —
    caught by this round's full-registry sf0.1 parity sweep."""
    from magi_etl_spark.operators.behavior import rfm_segments

    o = load_table(spark, sf_dir, "orders")
    return rfm_segments(o)


# --- graph / attribution / sketch algebra ------------------------------------


@query(
    "q147_triangle_count",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    e AS (
        SELECT a.it AS u, b2.it AS v
        FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
        GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    tri AS (
        SELECT e1.u AS ca, e1.v AS cb, e2.v AS cc
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
        SELECT ca AS node FROM tri
        UNION ALL SELECT cb FROM tri
        UNION ALL SELECT cc FROM tri
    ),
    pn AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    )
    SELECT p.node, d.degree, p.n_triangles,
           ROUND(2.0 * p.n_triangles / (d.degree * (d.degree - 1)), 4)
               AS clustering
    FROM pn p JOIN deg d ON p.node = d.node
    """,
)
def q147_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    co-purchase graph (parts co-occurring in >= 2 orders).  The Spark
    side uses the degree-ordered forward algorithm — every wedge is
    enumerated at its lowest-(degree, id) corner, bounding out-degrees
    at O(sqrt(m)) under any skew — while the oracle's a<b<c two-join
    enumeration checks the identical triangle set."""
    from magi_etl_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
    ).distinct()
    a = baskets.select("bk", F.col("it").alias("u"))
    b = baskets.select("bk", F.col("it").alias("v"))
    edges = (
        a.join(b, "bk")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("u", "v")
    )
    return triangle_count(edges, "u", "v")


@query(
    "q148_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_type, value, event_id,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_t,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                   OVER w AS touch_at
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    conv AS (
        SELECT CASE WHEN touch_at IS NOT NULL
                     AND ts <= touch_at + INTERVAL 604800 SECOND
                    THEN touch_t ELSE '(none)' END AS channel,
               value
        FROM tagged WHERE event_type = 'purchase'
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(SUM(value), 2) AS attributed_value
    FROM conv GROUP BY channel
    """,
)
def q148_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the user's
    most recent view/click within a 7-day lookback ('(none)' channel
    otherwise).  One per-user carry-forward window — never the naive
    events-x-touches lookback self-join."""
    from magi_etl_spark.operators.behavior import last_touch_attribution

    e = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        e, ["view", "click"], "purchase", lookback_s=604800
    )


@query(
    "q149_kmv_set_overlap",
    oracle="""
    WITH h AS (
        SELECT DISTINCT event_type AS g,
               CAST(concat('0x', substr(md5(concat('kmv|',
                    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS _h
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    kept AS (
        SELECT g, _h,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY _h) AS rn
        FROM h
    ),
    sa AS (SELECT list(_h ORDER BY _h) AS s FROM kept
           WHERE g = 'view' AND rn <= 64),
    sb AS (SELECT list(_h ORDER BY _h) AS s FROM kept
           WHERE g = 'purchase' AND rn <= 64),
    m AS (
        SELECT sa.s AS a, sb.s AS b,
               list_slice(list_sort(list_distinct(list_concat(sa.s, sb.s))),
                          1, 64) AS u
        FROM sa, sb
    ),
    est AS (
        SELECT a, b, u,
               CASE WHEN len(a) < 64 THEN CAST(len(a) AS DOUBLE)
                    ELSE 63.0 / (CAST(a[64] AS DOUBLE) / 4294967296.0)
               END AS ea,
               CASE WHEN len(b) < 64 THEN CAST(len(b) AS DOUBLE)
                    ELSE 63.0 / (CAST(b[64] AS DOUBLE) / 4294967296.0)
               END AS eb,
               CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
                    ELSE 63.0 / (CAST(u[64] AS DOUBLE) / 4294967296.0)
               END AS eu,
               len(list_filter(u, x -> list_contains(a, x)
                                   AND list_contains(b, x)))
                   / CAST(least(len(u), 64) AS DOUBLE) AS rho
        FROM m
    )
    SELECT ROUND(ea, 4) AS est_a, ROUND(eb, 4) AS est_b,
           ROUND(eu, 4) AS est_union,
           ROUND(rho * eu, 4) AS est_intersection,
           ROUND(rho, 4) AS jaccard
    FROM est
    """,
)
def q149_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch algebra: estimated audience overlap (union,
    intersection, Jaccard) between the 'view' and 'purchase' user sets
    from their 64-min signatures alone — the mergeable-sketch path a
    100 TB segment-overlap question takes instead of a distinct-set
    join.  The estimate math runs on two k-element arrays built by
    scalar collect aggregates (bounded at 2k values by construction)."""
    from magi_etl_spark.operators.sketches import kmv_set_overlap

    e = load_table(spark, sf_dir, "events")
    return kmv_set_overlap(e, "event_type", "user_id", "view", "purchase")


# --- perceptual image hashing ------------------------------------------------

_PHASH_CTE = """
    hashes AS (
        SELECT media_id, CAST(list_sum(
            [CASE WHEN px[j + 1] * 16 >= tot
                  THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
             for j in range(16)]) AS BIGINT) AS phash
        FROM (
            SELECT media_id, px, list_sum(px) AS tot FROM (
                SELECT doc_id AS media_id,
                       [((doc_id * 31) +
                         (((j // 4) * (3 + doc_id % 4) // 4)
                           * (4 + doc_id % 5)
                          + ((j % 4) * (4 + doc_id % 5) // 4)) * 7) % 256
                        for j in range(16)] AS px
                FROM documents
            )
        )
    )
"""


@query(
    "q150_image_phash",
    oracle=f"""
    WITH {_PHASH_CTE}
    SELECT media_id, phash FROM hashes
    """,
)
def q150_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash of one REAL synthetic PNG per document
    id: the q123 closed-form trick applied to image near-dup — the
    Spark side runs the real png_encode -> png_decode -> 4x4
    nearest-neighbor downsample -> integer mean-threshold pipeline over
    Arrow batches, while the oracle predicts the identical 16-bit hash
    from the pixel law alone (all-integer comparisons, no codec)."""
    from magi_etl_spark.operators.multimodal import (
        average_hash,
        synthesize_test_images,
    )

    d = load_table(spark, sf_dir, "documents")
    imgs = synthesize_test_images(d.select("doc_id"))
    return average_hash(imgs, grid=4, on_error="raise")


@query(
    "q151_image_near_dup",
    oracle=f"""
    WITH {_PHASH_CTE}
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 2
    """,
)
def q151_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs at Hamming distance <= 2 over the
    q150 perceptual hashes: banded blocking (4 x 4-bit bands, the
    pigeonhole guarantee covers every bit) feeds keyed self-joins, and
    the exact bit_count(xor) filter runs per candidate — the oracle's
    all-pairs scan checks the identical pair set, proving the banding
    loses nothing."""
    from magi_etl_spark.operators.multimodal import (
        average_hash,
        phash_near_dup_pairs,
        synthesize_test_images,
    )

    d = load_table(spark, sf_dir, "documents")
    imgs = synthesize_test_images(d.select("doc_id"))
    hashes = average_hash(imgs, grid=4, on_error="raise")
    out = phash_near_dup_pairs(hashes, max_dist=2, bits=16)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# --- closed-form statistics --------------------------------------------------


@query(
    "q152_ols_trend",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1995-01-01',
                    CAST(date_trunc('day', o_orderdate) AS DATE)) AS DOUBLE)
                   AS x,
               ROUND(SUM(o_totalprice), 2) AS y
        FROM orders
        GROUP BY o_orderpriority, date_trunc('day', o_orderdate)
    ),
    sums AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM daily GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END, 4) AS slope,
           ROUND(CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                      THEN (sy - ((n * sxy - sx * sy)
                                  / (n * sxx - sx * sx)) * sx) / n
                 END, 4) AS intercept,
           ROUND(CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                           AND (n * syy - sy * sy) <> 0
                      THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 END, 4) AS r2
    FROM sums
    """,
)
def q152_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue trend: OLS slope/intercept/r2 of daily
    revenue against days-since-1995 from one map-side-combined
    sufficient-statistics aggregation — the grouped trend-detection
    primitive.  Daily revenue is rounded to 2 before the regression so
    both engines feed identical doubles into the closed form; x is a
    small day index (not raw epoch days) to keep the n*Sxx - Sx^2
    cancellation well-conditioned."""
    from magi_etl_spark.operators.stats import group_ols_trend

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.date_trunc("day", "o_orderdate").cast("date").alias("_day"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
    daily = daily.withColumn(
        "x",
        F.datediff("_day", F.lit("1995-01-01").cast("date")).cast("double"),
    )
    return group_ols_trend(daily, ["o_orderpriority"], "x", "y")


@query(
    "q153_wilson_ci",
    oracle="""
    WITH agg AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_success
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, n_success,
           ROUND(n_success / CAST(n AS DOUBLE), 4) AS rate,
           ROUND((n_success / CAST(n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
                 - 1.96 * sqrt((n_success / CAST(n AS DOUBLE))
                       * (1.0 - n_success / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)))
                   / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 4) AS ci_lo,
           ROUND((n_success / CAST(n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
                 + 1.96 * sqrt((n_success / CAST(n AS DOUBLE))
                       * (1.0 - n_success / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)))
                   / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 4) AS ci_hi
    FROM agg
    """,
)
def q153_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilled-order rate per priority with the Wilson score interval
    — the small-n-safe, [0,1]-bounded conversion-rate CI, entirely
    closed-form from one conditional-count aggregate (the oracle
    replays the identical IEEE arithmetic term by term)."""
    from magi_etl_spark.operators.stats import wilson_interval

    o = load_table(spark, sf_dir, "orders")
    return wilson_interval(
        o, ["o_orderpriority"], F.col("o_orderstatus") == "F"
    )


@query(
    "q154_ab_compare",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS converted
        FROM events GROUP BY user_id
    ),
    assigned AS (
        SELECT CASE WHEN CAST(concat('0x', substr(md5(concat('ab|',
                         CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
                         % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant,
               converted
        FROM units
    ),
    agg AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS n_success
        FROM assigned GROUP BY variant
    ),
    wide AS (
        SELECT MAX(CASE WHEN variant = 'control' THEN n END) AS cn,
               MAX(CASE WHEN variant = 'control' THEN n_success END) AS cs,
               MAX(CASE WHEN variant = 'treatment' THEN n END) AS tn,
               MAX(CASE WHEN variant = 'treatment' THEN n_success END) AS ts
        FROM agg
    ),
    zs AS (
        SELECT CASE WHEN sqrt(((cs + ts) / CAST(cn + tn AS DOUBLE))
                        * (1.0 - (cs + ts) / CAST(cn + tn AS DOUBLE))
                        * (1.0 / CAST(cn AS DOUBLE)
                           + 1.0 / CAST(tn AS DOUBLE))) = 0
                    THEN 0.0
                    ELSE (ts / CAST(tn AS DOUBLE) - cs / CAST(cn AS DOUBLE))
                         / sqrt(((cs + ts) / CAST(cn + tn AS DOUBLE))
                            * (1.0 - (cs + ts) / CAST(cn + tn AS DOUBLE))
                            * (1.0 / CAST(cn AS DOUBLE)
                               + 1.0 / CAST(tn AS DOUBLE)))
               END AS z_stat
        FROM wide
    )
    SELECT a.variant, a.n, a.n_success,
           ROUND(a.n_success / CAST(a.n AS DOUBLE), 4) AS rate,
           ROUND((a.n_success / CAST(a.n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(a.n AS DOUBLE)))
                 / (1.0 + (1.96 * 1.96) / CAST(a.n AS DOUBLE))
                 - 1.96 * sqrt((a.n_success / CAST(a.n AS DOUBLE))
                       * (1.0 - a.n_success / CAST(a.n AS DOUBLE))
                       / CAST(a.n AS DOUBLE)
                       + (1.96 * 1.96) / (4.0 * CAST(a.n AS DOUBLE)
                                          * CAST(a.n AS DOUBLE)))
                   / (1.0 + (1.96 * 1.96) / CAST(a.n AS DOUBLE)), 4)
               AS ci_lo,
           ROUND((a.n_success / CAST(a.n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(a.n AS DOUBLE)))
                 / (1.0 + (1.96 * 1.96) / CAST(a.n AS DOUBLE))
                 + 1.96 * sqrt((a.n_success / CAST(a.n AS DOUBLE))
                       * (1.0 - a.n_success / CAST(a.n AS DOUBLE))
                       / CAST(a.n AS DOUBLE)
                       + (1.96 * 1.96) / (4.0 * CAST(a.n AS DOUBLE)
                                          * CAST(a.n AS DOUBLE)))
                   / (1.0 + (1.96 * 1.96) / CAST(a.n AS DOUBLE)), 4)
               AS ci_hi,
           ROUND(zs.z_stat, 4) AS z_stat
    FROM agg a CROSS JOIN zs
    """,
)
def q154_ab_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B scaffold: users md5-hash 50/50 into control/
    treatment, success = user ever purchased; per-variant conversion
    with Wilson intervals plus the pooled two-sample z statistic — the
    experiment-analysis readout as two aggregations and a broadcast
    2-row pivot, reproducible in any engine because the assignment is
    the hash, not an RNG."""
    from magi_etl_spark.operators.stats import ab_assign_and_compare

    e = load_table(spark, sf_dir, "events")
    units = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias(
            "converted"
        )
    )
    return ab_assign_and_compare(units, "user_id", F.col("converted") == 1)


# --- distributional audit ----------------------------------------------------


def _benford_oracle() -> str:
    import math

    # embed the exact Python-double Benford constants so both engines
    # compare against bit-identical expectations
    case = " ".join(
        f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    return f"""
    WITH d AS (
        SELECT o_orderpriority,
               CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS dgt
        FROM orders
        WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1
    ),
    cells AS (
        SELECT o_orderpriority, dgt, CAST(COUNT(*) AS DOUBLE) AS c
        FROM d GROUP BY o_orderpriority, dgt
    ),
    tot AS (
        SELECT o_orderpriority, SUM(c) AS n FROM cells
        GROUP BY o_orderpriority
    ),
    grid AS (
        SELECT t.o_orderpriority, t.n, gs.dgt
        FROM tot t, (SELECT unnest(range(1, 10)) AS dgt) gs
    ),
    dense AS (
        SELECT g.o_orderpriority, g.n, g.dgt,
               COALESCE(c.c, 0.0) AS c,
               CASE g.dgt {case} END AS exp_p
        FROM grid g
        LEFT JOIN cells c ON g.o_orderpriority = c.o_orderpriority
                         AND g.dgt = c.dgt
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           ROUND(SUM((c - n * exp_p) * (c - n * exp_p) / (n * exp_p)), 4)
               AS chi2,
           ROUND(MAX(abs(c / n - exp_p)), 4) AS max_dev
    FROM dense GROUP BY o_orderpriority, n
    """


@query("q155_benford_audit", oracle=_benford_oracle())
def q155_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order amounts per priority: chi2
    against the log10(1+1/d) expectation plus the largest proportion
    deviation — the fabricated-amounts screen as one |groups| x 9
    conditional-count aggregate.  The Benford constants are embedded as
    identical Python doubles on both sides."""
    from magi_etl_spark.operators.drift import benford_deviation

    o = load_table(spark, sf_dir, "orders")
    return benford_deviation(o, ["o_orderpriority"], "o_totalprice")


@query(
    "q156_mutual_information",
    oracle="""
    WITH cells AS (
        SELECT event_type AS a, hour(ts) AS b,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY event_type, hour(ts)
    ),
    nn AS (SELECT SUM(c) AS n FROM cells),
    ma AS (SELECT a, SUM(c) AS ca FROM cells GROUP BY a),
    mb AS (SELECT b, SUM(c) AS cb FROM cells GROUP BY b),
    mi AS (
        SELECT SUM(c.c / nn.n * ln(c.c * nn.n / (ma.ca * mb.cb))
                   / 0.6931471805599453) AS mi
        FROM cells c
        JOIN ma ON c.a = ma.a
        JOIN mb ON c.b = mb.b
        CROSS JOIN nn
    ),
    ha AS (
        SELECT -SUM(ca / nn.n * ln(ca / nn.n) / 0.6931471805599453) AS ha
        FROM ma CROSS JOIN nn
    ),
    hb AS (
        SELECT -SUM(cb / nn.n * ln(cb / nn.n) / 0.6931471805599453) AS hb
        FROM mb CROSS JOIN nn
    )
    SELECT ROUND(mi.mi, 4) AS mi, ROUND(ha.ha, 4) AS h_a,
           ROUND(hb.hb, 4) AS h_b,
           ROUND(CASE WHEN least(ha.ha, hb.hb) > 0
                      THEN mi.mi / least(ha.ha, hb.hb) END, 4) AS nmi
    FROM mi, ha, hb
    """,
)
def q156_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) between event type and hour of day,
    with both marginal entropies and the normalized MI — the
    dependence-detection primitive from one joint-count aggregation
    plus broadcast marginals."""
    from magi_etl_spark.operators.stats import mutual_information

    e = load_table(spark, sf_dir, "events")
    return mutual_information(e, "event_type", F.hour("ts"))


@query(
    "q157_revenue_concentration",
    oracle="""
    WITH per AS (
        SELECT r.r_name, o.o_custkey, ROUND(SUM(o.o_totalprice), 2) AS v
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nt ON c.c_nationkey = nt.n_nationkey
        JOIN region r ON nt.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, o.o_custkey
    ),
    tot AS (
        SELECT r_name, SUM(v) AS t, CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per GROUP BY r_name
    ),
    hhi AS (
        SELECT p.r_name,
               ROUND(SUM((p.v / t.t) * (p.v / t.t)), 4) AS hhi
        FROM per p JOIN tot t ON p.r_name = t.r_name
        GROUP BY p.r_name
    ),
    rk AS (
        SELECT r_name, o_custkey, v,
               ROW_NUMBER() OVER (PARTITION BY r_name
                                  ORDER BY v DESC, o_custkey) AS rn
        FROM per
    ),
    crk AS (
        SELECT rk.r_name, ROUND(SUM(rk.v / t.t), 4) AS crk
        FROM rk JOIN tot t ON rk.r_name = t.r_name
        WHERE rk.rn <= 4 GROUP BY rk.r_name
    )
    SELECT h.r_name, t.n_keys, h.hhi, c2.crk
    FROM hhi h
    JOIN tot t ON h.r_name = t.r_name
    JOIN crk c2 ON h.r_name = c2.r_name
    """,
)
def q157_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per region: Herfindahl-Hirschman index and
    top-4 concentration ratio over per-customer revenue shares.  The
    per-customer totals are rounded to 2 BEFORE ranking so the top-4
    cut is identical in any engine; the rank window runs over the
    bounded per-key frame, never raw orders."""
    from magi_etl_spark.chkpt import materialize
    from magi_etl_spark.operators.stats import concentration

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # fan-out barrier (r15 scan audit): concentration references its
    # input via per_key -> {totals, shared{hhi, crk}}, compiling the
    # 4-table join subtree 4x (16 live scans).  The per-customer frame
    # is the bounded reduction of the corpus — materialize it ONCE and
    # every downstream copy reads the barrier (live scans -> 0).
    per = materialize(
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("v"))
    )
    return concentration(per, ["r_name"], "o_custkey", "v", top_k=4)


# --- seasonal indices / correlation matrix -----------------------------------


@query(
    "q158_dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               ROUND(SUM(o_totalprice), 2) AS y
        FROM orders GROUP BY o_orderpriority, date_trunc('day', o_orderdate)
    ),
    per AS (
        SELECT o_orderpriority, CAST(isodow(day) - 1 AS INTEGER) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days, AVG(y) AS dmean
        FROM daily GROUP BY o_orderpriority, isodow(day) - 1
    ),
    ov AS (
        SELECT o_orderpriority, AVG(y) AS mean FROM daily
        GROUP BY o_orderpriority
    )
    SELECT p.o_orderpriority, p.dow, p.n_days,
           ROUND(CASE WHEN ov.mean <> 0 THEN p.dmean / ov.mean END, 4)
               AS factor
    FROM per p JOIN ov ON p.o_orderpriority = ov.o_orderpriority
    """,
)
def q158_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of daily revenue per priority —
    factor = mean(dow) / overall mean over the daily series (rounded
    dailies so both engines average identical doubles).  Spark
    ``weekday`` (0=Monday) mirrors DuckDB ``isodow - 1``."""
    from magi_etl_spark.operators.timeseries import dow_seasonal_index

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
    return dow_seasonal_index(daily, ["o_orderpriority"], "day", "y")


def _corr_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    d = {c: f"CAST({c} AS DOUBLE)" for c in cols}
    aggs = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        aggs.append(f"SUM({d[c]}) AS s_{c}")
        aggs.append(f"SUM({d[c]} * {d[c]}) AS q_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(f"SUM({d[a]} * {d[b]}) AS x_{a}_{b}")
    selects = []
    for a, b in pairs:
        va = f"(n * q_{a} - s_{a} * s_{a})"
        vb = f"(n * q_{b} - s_{b} * s_{b})"
        cov = f"(n * x_{a}_{b} - s_{a} * s_{b})"
        selects.append(
            f"SELECT l_returnflag, '{a}' AS col_a, '{b}' AS col_b,\n"
            f"       CAST(n AS BIGINT) AS n,\n"
            f"       ROUND(CASE WHEN {va} > 0 AND {vb} > 0\n"
            f"             THEN {cov} / sqrt({va} * {vb}) END, 4) AS corr\n"
            f"FROM s"
        )
        # noqa: the union keeps pair order identical to the Spark side
    body = "\nUNION ALL\n".join(selects)
    agg_sql = ",\n               ".join(aggs)
    return (
        "WITH s AS (\n        SELECT l_returnflag,\n               "
        + agg_sql
        + "\n        FROM lineitem GROUP BY l_returnflag\n    )\n    "
        + body
    )


@query("q159_corr_matrix", oracle=_corr_oracle())
def q159_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (long format) among the four
    lineitem numeric measures per return flag — the feature-redundancy
    screen, from ONE aggregation of all sufficient statistics (4 sums,
    4 squares, 6 cross products) then a narrow unpivot; the oracle is
    generated from the same pair list so the expression trees match."""
    from magi_etl_spark.operators.stats import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li,
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


# --- personalized PageRank / probabilistic linkage ---------------------------


def _ppr_oracle(iterations: int, damping: float) -> str:
    """Unrolled PERSONALIZED power iteration: identical CTE chain to
    q116's oracle, except teleports and dangling mass return to the
    seed-set reset distribution instead of all vertices."""
    head = """
    WITH edges AS MATERIALIZED (
        SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    vertices AS MATERIALIZED (
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges
        )
    ),
    seeds AS MATERIALIZED (
        SELECT v FROM vertices WHERE v < 1000000 AND v % 50 = 0
    ),
    ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
    reset AS MATERIALIZED (
        SELECT vert.v,
               CASE WHEN s.v IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rp
        FROM vertices vert
        LEFT JOIN seeds s ON vert.v = s.v
        CROSS JOIN ns
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    r0 AS MATERIALIZED (SELECT v, rp AS rank FROM reset)"""
    blocks = []
    prev = "r0"
    for i in range(1, iterations + 1):
        blocks.append(
            f"""
    d{i} AS MATERIALIZED (
        SELECT COALESCE(SUM(r.rank), 0.0) AS mass
        FROM {prev} r LEFT JOIN deg ON r.v = deg.src
        WHERE deg.src IS NULL
    ),
    c{i} AS MATERIALIZED (
        SELECT e.dst AS v, SUM(r.rank / deg.deg) AS contrib
        FROM edges e
        JOIN {prev} r ON e.src = r.v
        JOIN deg ON e.src = deg.src
        GROUP BY 1
    ),
    r{i} AS MATERIALIZED (
        SELECT re.v,
               {1.0 - damping!r} * re.rp
               + {damping!r} * (COALESCE(c.contrib, 0.0) + d{i}.mass * re.rp)
                   AS rank
        FROM reset re
        LEFT JOIN c{i} c ON re.v = c.v
        CROSS JOIN d{i}
    )"""
        )
        prev = f"r{i}"
    return (
        head
        + ","
        + ",".join(blocks)
        + f"""
    SELECT v AS vertex, ROUND(rank, 6) AS rank FROM {prev}
    WHERE ROUND(rank, 6) > 0
    """
    )


@query("q160_personalized_pagerank", oracle=_ppr_oracle(8, 0.85))
def q160_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a customer seed set (every 50th
    custkey) over the customer→supplier purchase graph: teleports and
    dangling mass return to the seeds, so ranks measure purchase-graph
    proximity to the seed cohort — the related-items / trust-
    propagation form.  8 damped iterations; the oracle unrolls the
    identical personalized update as chained CTEs; zero-rank vertices
    (unreachable from the seeds) are filtered on both sides."""
    from magi_etl_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    seeds = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .where((F.col("v") < 1000000) & (F.col("v") % 50 == 0))
    )
    out = pagerank(edges, iterations=8, damping=0.85, reset_vertices=seeds)
    return out.select("vertex", F.round("rank", 6).alias("rank")).where(
        F.col("rank") > 0
    )


def _fs_oracle() -> str:
    import math

    w = {
        "agree_bucket": (0.9, 0.1),
        "agree_sign": (0.8, 0.3),
        "agree_close": (0.95, 0.05),
    }
    terms = []
    for col, (m, u) in w.items():
        wa = math.log2(m / u)
        wd = math.log2((1.0 - m) / (1.0 - u))
        # CAST: DuckDB parses fixed-point literals as DECIMAL, and a
        # DECIMAL sum would fetch as Decimal objects, not doubles
        terms.append(
            f"(CASE WHEN {col} THEN CAST({wa!r} AS DOUBLE)"
            f" ELSE CAST({wd!r} AS DOUBLE) END)"
        )
    score = " + ".join(terms)
    return f"""
    WITH pairs AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
                   AS agree_bucket,
               (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS agree_sign,
               abs(a.c_acctbal - b.c_acctbal) <= 50.0 AS agree_close
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b, agree_bucket, agree_sign, agree_close,
           ROUND({score}, 4) AS fs_score
    FROM pairs
    WHERE ROUND({score}, 4) >= 2.0
    """


@query("q161_fs_linkage", oracle=_fs_oracle())
def q161_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over (nation, segment)-
    blocked customer pairs: three account-balance agreement fields
    scored with log2 match/unmatch weights (constants embedded as
    identical Python doubles), pairs above +2 bits kept.  Candidate
    generation is the keyed block join; scoring is a pure map."""
    from magi_etl_spark.operators.linkage import fs_linkage_score

    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg"),
        F.col("c_acctbal").alias("_bal_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg"),
        F.col("c_acctbal").alias("_bal_b"),
    )
    pairs = (
        a.join(b, ["_nk", "_seg"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.floor(F.col("_bal_a") / 1000.0)
                == F.floor(F.col("_bal_b") / 1000.0)
            ).alias("agree_bucket"),
            (
                (F.col("_bal_a") >= 0) == (F.col("_bal_b") >= 0)
            ).alias("agree_sign"),
            (F.abs(F.col("_bal_a") - F.col("_bal_b")) <= 50.0).alias(
                "agree_close"
            ),
        )
    )
    scored = fs_linkage_score(
        pairs,
        {
            "agree_bucket": (0.9, 0.1),
            "agree_sign": (0.8, 0.3),
            "agree_close": (0.95, 0.05),
        },
    )
    return scored.where(F.col("fs_score") >= 2.0)


# --- grid quantiles / frequent triples ---------------------------------------


@query(
    "q162_grid_quantiles",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               least(greatest(CAST(floor(value / 2.734375) AS INTEGER), 0),
                     127) AS b,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, least(greatest(CAST(floor(value / 2.734375)
                 AS INTEGER), 0), 127)
    ),
    cdf AS (
        SELECT event_type, b, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM cells
    ),
    qs AS (
        SELECT CAST(q AS DOUBLE) AS q
        FROM (VALUES (0.5), (0.9), (0.99)) v(q)
    ),
    hit AS (
        SELECT cdf.event_type, qs.q, cdf.b, cdf.c, cdf.cum, cdf.n,
               ROW_NUMBER() OVER (PARTITION BY cdf.event_type, qs.q
                                  ORDER BY cdf.b) AS rn
        FROM cdf JOIN qs ON cdf.cum >= qs.q * cdf.n
    )
    SELECT event_type, q,
           ROUND(0.0 + (b + (q * n - (cum - c)) / c) * 2.734375, 4) AS est
    FROM hit WHERE rn = 1
    """,
)
def q162_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile estimates (p50/p90/p99) of event
    values per type: 128-bucket histogram + CDF interpolation — the
    percentile shape whose state (128 integers per group) merges across
    days/partitions, unlike exact percentile's per-group sort buffer.
    The bucket width 350/128 = 2.734375 is exactly representable, so
    the oracle replays the interpolation bit for bit."""
    from magi_etl_spark.operators.sketches import grid_quantiles

    e = load_table(spark, sf_dir, "events")
    return grid_quantiles(
        e, ["event_type"], "value", [0.5, 0.9, 0.99], lo=0.0, hi=350.0
    )


@query(
    "q163_frequent_triples",
    oracle="""
    WITH b AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    freq AS MATERIALIZED (
        SELECT it FROM b GROUP BY it HAVING COUNT(*) >= 2
    ),
    p AS MATERIALIZED (
        SELECT b.bk, b.it FROM b JOIN freq ON b.it = freq.it
    ),
    t AS (
        SELECT a.it AS item_a, b2.it AS item_b, c.it AS item_c
        FROM p a
        JOIN p b2 ON a.bk = b2.bk AND a.it < b2.it
        JOIN p c ON a.bk = c.bk AND b2.it < c.it
    )
    SELECT item_a, item_b, item_c, CAST(COUNT(*) AS BIGINT) AS n_co
    FROM t GROUP BY item_a, item_b, item_c
    HAVING COUNT(*) >= 2
    """,
)
def q163_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent 3-itemsets over order baskets: frequent-item
    pruning BEFORE the within-basket triple enumeration (downward
    closure — the candidate-containment lever), then basket-keyed
    3-way joins bounded by per-basket C(k,3)."""
    from magi_etl_spark.operators.association import frequent_triples

    li = load_table(spark, sf_dir, "lineitem")
    return frequent_triples(li, min_support=2)


# --- Kneser-Ney fluency / shard planning / event paths -----------------------


@query(
    "q164_kneser_ney",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, tk[j] AS l, tk[j + 1] AS r
        FROM toks, LATERAL unnest(range(1, len(tk))) AS t(j)
    ),
    model AS MATERIALIZED (
        SELECT l, r, COUNT(*) AS c_lr FROM bg GROUP BY 1, 2
    ),
    lf AS MATERIALIZED (
        SELECT l, SUM(c_lr) AS c_l, COUNT(*) AS n1p_l FROM model GROUP BY 1
    ),
    ct AS MATERIALIZED (
        SELECT r, COUNT(*) AS n1p_r FROM model GROUP BY 1
    ),
    tot AS MATERIALIZED (SELECT COUNT(*) AS n1p_tot FROM model)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(
               greatest(m.c_lr - 0.75, 0) / lf.c_l
               + (0.75 * lf.n1p_l / lf.c_l)
                 * (ct.n1p_r / CAST(tot.n1p_tot AS DOUBLE))
           )), 6) AS mean_kn_logprob
    FROM bg b
    JOIN model m ON b.l = m.l AND b.r = m.r
    JOIN lf ON b.l = lf.l
    JOIN ct ON b.r = ct.r
    CROSS JOIN tot
    GROUP BY b.doc_id
    """,
)
def q164_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency scoring — the smoothing
    KenLM-style corpus quality filters use: backoff mass goes to
    CONTINUATION probability (distinct left contexts), so template
    tokens that are frequent but context-locked stop inflating scores.
    Model tables are bigram-type-sized keyed aggregates; the type total
    is a broadcast scalar."""
    from magi_etl_spark.operators.ngram_lm import kneser_ney_logprob_scores

    d = load_table(spark, sf_dir, "documents")
    out = kneser_ney_logprob_scores(d, "doc_id", "text", discount=0.75)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("mean_kn_logprob", 6).alias("mean_kn_logprob"),
    )


@query(
    "q165_shard_plan",
    oracle="""
    WITH s AS (
        SELECT source, doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
                   - n_chars AS cum_excl
        FROM documents
    )
    SELECT source,
           CAST(floor(cum_excl / 20000.0) AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY source, CAST(floor(cum_excl / 20000.0) AS BIGINT)
    """,
)
def q165_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-output-shard planning: within each source, assign docs
    to ~20k-char shards by exclusive-cumulative-size division — the
    deterministic, engine-replayable layout plan that drives balanced
    file writes (the plan is metadata-scale; the rewrite it drives is
    the expensive part).  Per (source, shard): doc count + char total."""
    from magi_etl_spark.operators.shards import shard_by_size

    d = load_table(spark, sf_dir, "documents")
    sh = shard_by_size(d, ["source"], "n_chars", "doc_id", 20000)
    return sh.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "q166_top_event_paths",
    oracle="""
    WITH pd AS MATERIALIZED (
        SELECT user_id, CAST(ts AS DATE) AS d,
               array_to_string(list_slice(
                   list(event_type ORDER BY ts, event_id), 1, 8), '>')
                   AS path
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM pd GROUP BY path
    ORDER BY n_user_days DESC, path ASC LIMIT 20
    """,
)
def q166_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-day event paths (first 8 event types in time order,
    '>'-joined): the product-analytics session-shape sweep.  One keyed
    aggregate per user-day (array_sort of (ts, id, type) structs — no
    window), one path count, TakeOrdered cut."""
    from magi_etl_spark.operators.behavior import top_event_paths

    e = load_table(spark, sf_dir, "events")
    return top_event_paths(
        e, "user_id", "ts", "event_type", "event_id", max_steps=8, k=20
    )


@query(
    "q167_phrase_search",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    p AS MATERIALIZED (
        SELECT doc_id, j AS pos, tk[j] AS tok
        FROM toks, LATERAL unnest(range(1, len(tk) + 1)) AS t(j)
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM p a
    JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'table' AND b.tok = 'scan'
    GROUP BY a.doc_id
    """,
)
def q167_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-postings phrase search for 'table scan': each join
    leg is filtered to ONE phrase token before joining (the selective
    predicate reaches the scan), then keyed equi-joins on (doc, aligned
    start) — postings-intersection cost, never corpus-token joins."""
    from magi_etl_spark.operators.phrase import phrase_search

    d = load_table(spark, sf_dir, "documents")
    return phrase_search(d, "table scan", "doc_id", "text")


# --- session-4 wave: classifier / domain curation / governance ---------------


@query(
    "q168_seed_classifier",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        FROM documents
    ),
    counts AS MATERIALIZED (
        SELECT tok,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_pos,
               SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c_neg
        FROM toks WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg,
               COUNT(*) AS v_size
        FROM counts
    ),
    model AS MATERIALIZED (
        SELECT tok,
               ln((c_pos + 0.5) / (n_pos + 0.5 * v_size))
                   - ln((c_neg + 0.5) / (n_neg + 0.5 * v_size)) AS llr
        FROM counts CROSS JOIN tot
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(m.llr) AS BIGINT) AS n_scored,
           ROUND(AVG(m.llr), 6) AS mean_llr
    FROM toks t LEFT JOIN model m ON t.tok = m.tok
    GROUP BY t.doc_id
    """,
)
def q168_seed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-trained Naive-Bayes quality scoring (the fastText-filter
    shape of CCNet / LLaMA corpus curation): 'src0' documents are the
    positive seed, 'src1' the negative, and EVERY document gets the
    mean token log-likelihood ratio under the add-0.5 multinomial
    model.  Model = one seed-vocabulary aggregate with the class
    totals broadcast; scoring = corpus token stream left-joined to the
    vocabulary-keyed model, one per-doc mean.  Per-token LLRs are pure
    IEEE arithmetic, so the oracle replays them digit for digit."""
    from magi_etl_spark.operators.classifier import seed_classifier_scores

    d = load_table(spark, sf_dir, "documents")
    out = seed_classifier_scores(
        d, F.col("source") == "src0", F.col("source") == "src1"
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_scored").cast("long").alias("n_scored"),
        F.round("mean_llr", 6).alias("mean_llr"),
    )


@query(
    "q169_domain_curation",
    oracle="""
    WITH per AS MATERIALIZED (
        SELECT source, md5(text) AS fp,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n_toks
        FROM documents
    ),
    fpc AS MATERIALIZED (
        SELECT source, fp, COUNT(*) AS c FROM per GROUP BY 1, 2
    ),
    j AS MATERIALIZED (
        SELECT p.source, p.n_toks, (f.c > 1) AS is_dup
        FROM per p JOIN fpc f ON p.source = f.source AND p.fp = f.fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(AVG(n_toks), 6) AS mean_tokens,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           ROUND(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
           (COUNT(*) >= 10
            AND SUM(n_toks) >= 20 * COUNT(*)
            AND 2 * SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) <= COUNT(*))
               AS kept
    FROM j GROUP BY source
    """,
)
def q169_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation verdicts (the C4/RefinedWeb host pass):
    per-source volume, token mass, mean length, and exact-dup share,
    plus a ``kept`` verdict computed with INTEGER arithmetic only
    (``sum >= k*count``, ``2*dups <= docs``) so the boolean is exactly
    SQL-reproducible.  One fingerprint aggregate + one domain rollup;
    the verdict frame is distinct-domain-sized."""
    from magi_etl_spark.operators.domains import curate_domains

    d = load_table(spark, sf_dir, "documents")
    return curate_domains(d, "source", "text", 10, 20)


@query(
    "q170_k_anonymity",
    oracle="""
    WITH q AS MATERIALIZED (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(floor(value / 50.0) AS BIGINT) AS vband
        FROM events
    )
    SELECT event_type, day, vband,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(*) < 5 AS suppressed
    FROM q GROUP BY 1, 2, 3
    """,
)
def q170_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile (k=5) over the quasi-identifier tuple
    (event_type, day, 50-wide value band): every combination's group
    size and suppression verdict — the governance gate run before an
    event-level extract leaves the platform.  One keyed aggregate;
    the row-level suppression filter (semi-join on surviving groups)
    is ``k_anonymize``, exercised in tests."""
    from magi_etl_spark.operators.anonymize import (
        bucketize,
        k_anonymity_profile,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        bucketize(F.col("value"), 50.0).alias("vband"),
    )
    return k_anonymity_profile(e, ["event_type", "day", "vband"], k=5)


@query(
    "q171_soft_dedup_weights",
    oracle="""
    WITH per AS MATERIALIZED (
        SELECT doc_id, md5(text) AS fp,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n_toks
        FROM documents
    ),
    fc AS MATERIALIZED (
        SELECT fp, COUNT(*) AS c FROM per GROUP BY 1
    )
    SELECT p.doc_id,
           CAST(f.c AS BIGINT) AS cluster_size,
           CAST(p.n_toks AS BIGINT) AS n_tokens,
           1.0 / f.c AS weight,
           p.n_toks * (1.0 / f.c) AS eff_tokens
    FROM per p JOIN fc f ON p.fp = f.fp
    """,
)
def q171_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (down-weight, don't delete): every document's
    exact-dup cluster size, reciprocal training weight, and effective
    token count — the duplicate-aware sampling input that preserves
    common documents' signal instead of dropping copies.  beta=1 keeps
    every value a single IEEE division, digit-exact in SQL."""
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    d = load_table(spark, sf_dir, "documents")
    return soft_dedup_weights(d, "doc_id", "text", beta=1.0)


_Q172_ORD = (
    "(CASE WHEN {a} IS NOT NULL THEN 1 ELSE 0 END) * 1000000000"
    " + days * 10 + src_rank"
)


@query(
    "q172_golden_records",
    oracle=f"""
    WITH t0 AS MATERIALIZED (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
               o_orderpriority AS prio,
               CAST(o_orderdate AS DATE) AS d0
        FROM orders
    ),
    v AS MATERIALIZED (
        SELECT k, status, price_c, prio, d0 AS upd, 0 AS src_rank FROM t0
        UNION ALL
        SELECT k, 'U1', NULL, NULL, d0 + 10, 2 FROM t0 WHERE k % 3 = 0
        UNION ALL
        SELECT k, NULL, price_c + 77, NULL, d0 + 5, 1 FROM t0
        WHERE k % 5 = 0
    ),
    o AS MATERIALIZED (
        SELECT k, status, price_c, prio,
               CAST(upd - DATE '1970-01-01' AS BIGINT) AS days, src_rank
        FROM v
    )
    SELECT k AS o_orderkey,
           arg_max(status, {_Q172_ORD.format(a='status')}) AS status,
           arg_max(price_c, {_Q172_ORD.format(a='price_c')}) AS price_c,
           arg_max(prio, {_Q172_ORD.format(a='prio')}) AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM o GROUP BY k
    """,
)
def q172_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship over a three-system order feed (base
    warehouse row, a CRM status correction on every 3rd key, a billing
    reprice on every 5th): per attribute, latest-non-null wins with a
    deterministic integer ordinal (non-null >> recency >> source
    rank), every survivor a ``max_by`` inside ONE keyed aggregate —
    the shuffle is paid once for all attributes.  The oracle replays
    the same ordinal through ``arg_max``."""
    from magi_etl_spark.operators.survivorship import golden_records

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("d0"),
    )
    base = o.select(
        "k", "status", "price_c", "prio",
        F.col("d0").alias("updated"), F.lit(0).alias("src_rank"),
    )
    crm = o.where(F.col("k") % 3 == 0).select(
        "k", F.lit("U1").alias("status"),
        F.lit(None).cast("long").alias("price_c"),
        F.lit(None).cast("string").alias("prio"),
        F.date_add("d0", 10).alias("updated"), F.lit(2).alias("src_rank"),
    )
    billing = o.where(F.col("k") % 5 == 0).select(
        "k", F.lit(None).cast("string").alias("status"),
        (F.col("price_c") + 77).alias("price_c"),
        F.lit(None).cast("string").alias("prio"),
        F.date_add("d0", 5).alias("updated"), F.lit(1).alias("src_rank"),
    )
    v = base.unionByName(crm).unionByName(billing)
    g = golden_records(
        v, "k", ["status", "price_c", "prio"], "updated", "src_rank"
    )
    return g.withColumnRenamed("k", "o_orderkey")


@query(
    "q173_l_diversity",
    oracle="""
    WITH q AS MATERIALIZED (
        SELECT event_type,
               CAST(floor(value / 100.0) AS BIGINT) AS vband, user_id
        FROM events
    )
    SELECT event_type, vband,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
           COUNT(DISTINCT user_id) >= 3 AS diverse
    FROM q GROUP BY 1, 2
    """,
)
def q173_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) over (event_type, 100-wide value band)
    with user_id as the sensitive attribute: group size, distinct
    sensitive values, and the diversity verdict — the leak check
    k-anonymity alone misses (a large group that is all one user
    still identifies them).  One keyed exact-distinct aggregate."""
    from magi_etl_spark.operators.anonymize import (
        bucketize,
        l_diversity_profile,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        bucketize(F.col("value"), 100.0).alias("vband"),
        "user_id",
    )
    return l_diversity_profile(e, ["event_type", "vband"], "user_id", 3)


@query(
    "q174_dp_noisy_counts",
    oracle="""
    WITH g AS MATERIALIZED (
        SELECT event_type, CAST(floor(value / 100.0) AS BIGINT) AS vband,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    n AS MATERIALIZED (
        SELECT event_type, vband, n,
               CAST(concat('0x', substr(md5(concat('dp|', event_type,
                    chr(31), CAST(vband AS VARCHAR))), 1, 8)) AS BIGINT)
                   / 4294967296.0 - 0.5 AS x
        FROM g
    )
    SELECT event_type, vband,
           ROUND(n + (-1.0) * sign(x)
                 * ln(greatest(1.0 - 2.0 * abs(x), 1.0 / 4294967296.0)),
                 6) AS noisy_count
    FROM n
    """,
)
def q174_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized-Laplace noisy group counts (epsilon=1) over the
    same quasi grid as q173: inverse-CDF Laplace noise drawn from an
    md5 uniform on the group key — reproducible privacy plumbing, the
    q131 derandomization trick applied to a noise channel.  The
    oracle replays the hex-uniform and the inverse CDF digit for
    digit; the 2^-32 clamp keeps the log off its poles."""
    from magi_etl_spark.operators.anonymize import (
        bucketize,
        dp_noisy_counts,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", bucketize(F.col("value"), 100.0).alias("vband")
    )
    return dp_noisy_counts(e, ["event_type", "vband"], epsilon=1.0, seed="dp")


@query(
    "q175_curation_manifest",
    oracle="""
    WITH per AS MATERIALIZED (
        SELECT doc_id, source, md5(text) AS fp,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n_toks
        FROM documents
    ),
    dom AS MATERIALIZED (
        SELECT p.source
        FROM per p JOIN (
            SELECT source, fp, COUNT(*) AS c FROM per GROUP BY 1, 2
        ) f ON p.source = f.source AND p.fp = f.fp
        GROUP BY p.source
        HAVING COUNT(*) >= 10
           AND SUM(p.n_toks) >= 20 * COUNT(*)
           AND 2 * SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) <= COUNT(*)
    ),
    kept AS MATERIALIZED (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN dom USING (source)
    ),
    fc AS MATERIALIZED (
        SELECT md5(text) AS fp, COUNT(*) AS c FROM kept GROUP BY 1
    ),
    toks AS MATERIALIZED (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        FROM documents
    ),
    counts AS MATERIALIZED (
        SELECT tok,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_pos,
               SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c_neg
        FROM toks WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg,
               COUNT(*) AS v_size
        FROM counts
    ),
    model AS MATERIALIZED (
        SELECT tok,
               ln((c_pos + 0.5) / (n_pos + 0.5 * v_size))
                   - ln((c_neg + 0.5) / (n_neg + 0.5 * v_size)) AS llr
        FROM counts CROSS JOIN tot
    ),
    scored AS MATERIALIZED (
        SELECT kt.doc_id,
               COUNT(*) AS n_tokens,
               COUNT(m.llr) AS n_scored,
               ROUND(AVG(m.llr), 6) AS mean_llr
        FROM (SELECT k.doc_id, t.tok
              FROM kept k JOIN toks t ON k.doc_id = t.doc_id) kt
        LEFT JOIN model m ON kt.tok = m.tok
        GROUP BY kt.doc_id
    )
    SELECT k.doc_id, k.source,
           CAST(f.c AS BIGINT) AS cluster_size,
           1.0 / f.c AS weight,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           s.n_tokens * (1.0 / f.c) AS eff_tokens,
           CAST(s.n_scored AS BIGINT) AS n_scored,
           s.mean_llr
    FROM kept k
    JOIN fc f ON md5(k.text) = f.fp
    JOIN scored s ON k.doc_id = s.doc_id
    """,
)
def q175_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governed-curation capstone: domain-level curation (integer-
    exact verdicts) gates the corpus, the survivors get soft-dedup
    reciprocal weights (cluster sizes recomputed WITHIN the kept set —
    dropping a domain changes its survivors' clusters), and every kept
    document carries its seed-classifier quality score — the
    per-document training manifest a weighted sampler consumes.  No
    float thresholds anywhere: verdicts are integer arithmetic, scores
    are reported, not gated, so the kept-set is hash-stable."""
    from magi_etl_spark.chkpt import materialize
    from magi_etl_spark.operators.classifier import seed_classifier_scores
    from magi_etl_spark.operators.domains import (
        curate_domains,
        filter_to_kept_domains,
    )
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    d = load_table(spark, sf_dir, "documents")
    # fan-out barriers (r15 scan audit): ``verdicts`` gates ``kept``,
    # and ``kept`` feeds soft-dedup weights AND the final manifest join
    # — left lazy the corpus subtree compiled 12x.  The domain-verdict
    # frame is per-domain-bounded and the kept set is the gated corpus;
    # each is materialized ONCE (live scans 12 -> 1: the classifier
    # scores' own pass).
    verdicts = materialize(curate_domains(d, "source", "text", 10, 20))
    kept = materialize(filter_to_kept_domains(d, verdicts, "source"))
    weights = soft_dedup_weights(kept, "doc_id", "text", beta=1.0)
    scores = seed_classifier_scores(
        d, F.col("source") == "src0", F.col("source") == "src1"
    )
    return (
        kept.select("doc_id", "source")
        .join(weights, "doc_id")
        .join(
            scores.select(
                "doc_id",
                F.col("n_scored").cast("long").alias("n_scored"),
                F.round("mean_llr", 6).alias("mean_llr"),
            ),
            "doc_id",
        )
        .select(
            "doc_id", "source", "cluster_size", "weight",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "eff_tokens", "n_scored", "mean_llr",
        )
    )


def _q176_oracle() -> str:
    from magi_etl_spark.queries.extensions_r5 import _BPE_W0, _bpe_iter_ctes

    return f"""
    WITH {_BPE_W0},{_bpe_iter_ctes(10)},
    seg AS MATERIALIZED (
        SELECT word, len(string_split(trim(sym), '  ')) AS n_sym
        FROM w10
    ),
    stream AS MATERIALIZED (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(g.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(s.word)) AS BIGINT) AS n_chars,
           ROUND(SUM(g.n_sym) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
           ROUND(SUM(length(s.word)) / CAST(SUM(g.n_sym) AS DOUBLE), 6)
               AS chars_per_token
    FROM stream s JOIN seg g ON s.word = g.word
    GROUP BY 1
    """


@query("q176_tokenizer_fertility", oracle=_q176_oracle())
def q176_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source under a fresh 10-merge BPE model:
    tokens-per-word and chars-per-token — the vocabulary-sizing
    diagnostic read before freezing a vocab.  Training is the
    driver-side merge loop (table pinned identical to the distributed
    path the oracle unrolls); the corpus stream joins the word-keyed
    segment table (tokenizer-cache trick) and rolls up per source."""
    from magi_etl_spark.operators.fertility import tokenizer_fertility

    d = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(d, n_merges=10, by="source")


@query(
    "q177_score_calibration",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        FROM documents
    ),
    counts AS MATERIALIZED (
        SELECT tok,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_pos,
               SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c_neg
        FROM toks WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    tot AS MATERIALIZED (
        SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg,
               COUNT(*) AS v_size
        FROM counts
    ),
    model AS MATERIALIZED (
        SELECT tok,
               ln((c_pos + 0.5) / (n_pos + 0.5 * v_size))
                   - ln((c_neg + 0.5) / (n_neg + 0.5 * v_size)) AS llr
        FROM counts CROSS JOIN tot
    ),
    scored AS MATERIALIZED (
        SELECT t.doc_id, ROUND(AVG(m.llr), 6) AS mean_llr
        FROM toks t LEFT JOIN model m ON t.tok = m.tok
        WHERE t.source IN ('src0', 'src1')
        GROUP BY t.doc_id
    ),
    lab AS MATERIALIZED (
        SELECT s.doc_id, s.mean_llr, d.source = 'src0' AS is_pos
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT CAST(floor(mean_llr / 0.5) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           ROUND(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos
    FROM lab WHERE mean_llr IS NOT NULL
    GROUP BY 1
    """,
)
def q177_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the seed classifier on its own seed set:
    scores binned at width 0.5 ON THE 6-DECIMAL ROUNDING (both engines
    bin the same doubles — no knife-edge thresholds on raw floats),
    per-bin volume and positive fraction.  Monotone frac_pos across
    bins is the calibration property a selection threshold relies
    on."""
    from magi_etl_spark.operators.classifier import (
        calibration_bins,
        seed_classifier_scores,
    )

    d = load_table(spark, sf_dir, "documents")
    seeds = d.where(F.col("source").isin("src0", "src1"))
    scored = seed_classifier_scores(
        seeds, F.col("source") == "src0", F.col("source") == "src1"
    ).select("doc_id", F.round("mean_llr", 6).alias("mean_llr"))
    lab = scored.join(
        d.select("doc_id", (F.col("source") == "src0").alias("is_pos")),
        "doc_id",
    )
    return calibration_bins(lab, "mean_llr", "is_pos", 0.5)


@query(
    "q178_span_removal",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    pos AS MATERIALIZED (
        SELECT doc_id, j - 1 AS k,
               tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2] || ' '
                     || tk[j+3] || ' ' || tk[j+4] AS shingle
        FROM toks, LATERAL unnest(range(1, len(tk) - 3)) AS t(j)
    ),
    shared AS MATERIALIZED (
        SELECT shingle
        FROM (SELECT DISTINCT doc_id, shingle FROM pos)
        GROUP BY shingle HAVING COUNT(*) > 1
    ),
    covered AS MATERIALIZED (
        SELECT DISTINCT p.doc_id, p.k + d.d AS t
        FROM pos p JOIN shared s ON p.shingle = s.shingle,
             LATERAL unnest(range(0, 5)) AS d(d)
    ),
    stream AS MATERIALIZED (
        SELECT doc_id, j - 1 AS t, tk[j] AS tok
        FROM toks, LATERAL unnest(range(1, len(tk) + 1)) AS t(j)
    ),
    kept AS MATERIALIZED (
        SELECT s.doc_id, s.t, s.tok
        FROM stream s LEFT JOIN covered c
            ON s.doc_id = c.doc_id AND s.t = c.t
        WHERE c.t IS NULL
    ),
    ka AS MATERIALIZED (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY t) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COALESCE(ANY_VALUE(ka.n_kept), 0) AS BIGINT) AS n_kept,
           COALESCE(ANY_VALUE(ka.cleaned_text), '') AS cleaned_text
    FROM stream s LEFT JOIN ka ON s.doc_id = ka.doc_id
    GROUP BY s.doc_id
    """,
)
def q178_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al span REMOVAL (the transform behind the q129 profile):
    drop every token covered by a cross-document-duplicated 5-token
    shingle and reassemble the survivors in reading order — full
    cleaned text hash-checked per document, fully-copied documents
    come back with n_kept=0 and an empty string.  Shared-shingle left
    join + bounded sequence-expansion + (doc, position) anti-join +
    one ordered re-aggregation."""
    from magi_etl_spark.operators.importance import remove_duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(d, n=5)


def _q179_oracle() -> str:
    import math

    w = {
        "agree_bucket": (0.9, 0.1),
        "agree_sign": (0.8, 0.3),
        "agree_close": (0.95, 0.05),
    }
    terms = []
    for col, (m, u) in w.items():
        wa = math.log2(m / u)
        wd = math.log2((1.0 - m) / (1.0 - u))
        terms.append(
            f"(CASE WHEN {col} THEN CAST({wa!r} AS DOUBLE)"
            f" ELSE CAST({wd!r} AS DOUBLE) END)"
        )
    score = " + ".join(terms)
    return f"""
    WITH RECURSIVE cand AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
                   AS agree_bucket,
               (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS agree_sign,
               abs(a.c_acctbal - b.c_acctbal) <= 50.0 AS agree_close
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
    ),
    matches AS (
        SELECT id_a, id_b FROM cand WHERE ROUND({score}, 4) >= 4.0
    ),
    sym AS (
        SELECT id_a AS v, id_b AS n FROM matches
        UNION ALL
        SELECT id_b AS v, id_a AS n FROM matches
    ),
    walk AS (
        SELECT v, n AS reach FROM sym
        UNION
        SELECT w.v, s.n FROM walk w JOIN sym s ON w.reach = s.v
    ),
    comp AS (
        SELECT v, least(v, MIN(reach)) AS component
        FROM walk GROUP BY v
    ),
    labeled AS (
        SELECT c.c_custkey,
               COALESCE(p.component, c.c_custkey) AS rep,
               c.c_mktsegment, c.c_nationkey,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer c LEFT JOIN comp p ON c.c_custkey = p.v
    )
    SELECT rep,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(c_mktsegment) AS segment,
           CAST(MIN(c_nationkey) AS BIGINT) AS nationkey,
           CAST(SUM(bal_c) AS BIGINT) AS total_bal_c
    FROM labeled GROUP BY rep
    """


@query("q179_entity_resolution", oracle=_q179_oracle())
def q179_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the canonical MDM pipeline in one
    plan: (nation, segment)-blocked candidate pairs, Fellegi-Sunter
    scoring (same embedded log2 weights as q161) with strong matches
    kept at +4 bits, connected components over the match graph (fused
    pointer jumping; the oracle walks the same reachability as a
    recursive CTE), and per-cluster consolidation — representative =
    min key, member count, cents-exact balance total.  Blocking keys
    are constant within a cluster by construction, so segment/nation
    consolidate with MIN."""
    from magi_etl_spark.operators.components import dedup_clusters
    from magi_etl_spark.operators.linkage import fs_linkage_score

    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg"),
        F.col("c_acctbal").alias("_bal_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg"),
        F.col("c_acctbal").alias("_bal_b"),
    )
    pairs = (
        a.join(b, ["_nk", "_seg"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.floor(F.col("_bal_a") / 1000.0)
                == F.floor(F.col("_bal_b") / 1000.0)
            ).alias("agree_bucket"),
            (
                (F.col("_bal_a") >= 0) == (F.col("_bal_b") >= 0)
            ).alias("agree_sign"),
            (F.abs(F.col("_bal_a") - F.col("_bal_b")) <= 50.0).alias(
                "agree_close"
            ),
        )
    )
    matches = fs_linkage_score(
        pairs,
        {
            "agree_bucket": (0.9, 0.1),
            "agree_sign": (0.8, 0.3),
            "agree_close": (0.95, 0.05),
        },
    ).where(F.col("fs_score") >= 4.0)
    labeled = dedup_clusters(
        c.select(F.col("c_custkey")), matches, "c_custkey", "id_a", "id_b"
    )
    enriched = labeled.join(c, "c_custkey").select(
        F.col("representative").alias("rep"),
        "c_mktsegment",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    return enriched.groupBy("rep").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("c_mktsegment").alias("segment"),
        F.min("c_nationkey").cast("long").alias("nationkey"),
        F.sum("bal_c").cast("long").alias("total_bal_c"),
    )


@query(
    "q180_readability",
    oracle="""
    WITH m AS MATERIALIZED (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y,
               greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
                   AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(y AS BIGINT) AS n_syllables,
           ROUND(206.835 - 1.015 * (w / CAST(s AS DOUBLE))
                 - 84.6 * (y / CAST(w AS DOUBLE)), 6) AS flesch_ease,
           ROUND(0.39 * (w / CAST(s AS DOUBLE))
                 + 11.8 * (y / CAST(w AS DOUBLE)) - 15.59, 6) AS fk_grade
    FROM m WHERE w > 0
    """,
)
def q180_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document with the
    deterministic vowel-group syllable heuristic (maximal [aeiouy]+
    runs; sentences are [.!?]+ runs floored at one) — the classic
    readability quality signal, three regexp counts and pure-double
    arithmetic in one narrow projection."""
    from magi_etl_spark.operators.readability import readability_scores

    d = load_table(spark, sf_dir, "documents")
    return readability_scores(d, "doc_id", "text")


@query(
    "q181_fk_discovery",
    oracle="""
    WITH pairs(child, parent) AS (
        VALUES ('orders.o_custkey', 'customer.c_custkey'),
               ('lineitem.l_orderkey', 'orders.o_orderkey'),
               ('lineitem.l_partkey', 'part.p_partkey'),
               ('events.user_id', 'customer.c_custkey')
    ),
    m AS MATERIALIZED (
        SELECT 'orders.o_custkey' AS child,
               COUNT(DISTINCT o.o_custkey) AS n_child,
               COUNT(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
                     THEN o.o_custkey END) AS n_cont
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem.l_orderkey',
               COUNT(DISTINCT l.l_orderkey),
               COUNT(DISTINCT CASE WHEN o.o_orderkey IS NOT NULL
                     THEN l.l_orderkey END)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem.l_partkey',
               COUNT(DISTINCT l.l_partkey),
               COUNT(DISTINCT CASE WHEN p.p_partkey IS NOT NULL
                     THEN l.l_partkey END)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'events.user_id',
               COUNT(DISTINCT e.user_id),
               COUNT(DISTINCT CASE WHEN c.c_custkey IS NOT NULL
                     THEN e.user_id END)
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ),
    u AS MATERIALIZED (
        SELECT 'customer.c_custkey' AS parent,
               COUNT(c_custkey) = COUNT(DISTINCT c_custkey) AS uq
        FROM customer
        UNION ALL
        SELECT 'orders.o_orderkey',
               COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey)
        FROM orders
        UNION ALL
        SELECT 'part.p_partkey',
               COUNT(p_partkey) = COUNT(DISTINCT p_partkey)
        FROM part
    )
    SELECT p.child, p.parent,
           CAST(m.n_child AS BIGINT) AS n_child_distinct,
           CAST(m.n_cont AS BIGINT) AS n_contained,
           ROUND(m.n_cont / CAST(m.n_child AS DOUBLE), 6) AS containment,
           u.uq AS parent_unique
    FROM pairs p
    JOIN m ON p.child = m.child
    JOIN u ON p.parent = u.parent
    """,
)
def q181_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key candidate discovery over the catalog: containment of
    each child column's distinct value set in its candidate parent,
    plus parent uniqueness — the inclusion-dependency profile a
    catalog service proposes joins from.  Three true FKs score 1.0
    against unique parents; events.user_id -> customer is the
    deliberate impostor.  One lazy unioned plan, distinct-value
    shuffles only, nothing collected."""
    from magi_etl_spark.operators.discovery import discover_fk_candidates

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    events = load_table(spark, sf_dir, "events")
    return discover_fk_candidates(
        [
            ("orders", orders, "o_custkey", "customer", customer, "c_custkey"),
            ("lineitem", lineitem, "l_orderkey", "orders", orders, "o_orderkey"),
            ("lineitem", lineitem, "l_partkey", "part", part, "p_partkey"),
            ("events", events, "user_id", "customer", customer, "c_custkey"),
        ]
    )


@query(
    "q182_multi_touch",
    oracle="""
    WITH t AS MATERIALIZED (
        SELECT user_id, ts, event_id, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN ts END
                          IGNORE NULLS) OVER w AS conv_at,
               last_value(CASE WHEN event_type = 'purchase' THEN event_id
                          END IGNORE NULLS) OVER w AS conv_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ROWS UNBOUNDED PRECEDING)
    ),
    touches AS MATERIALIZED (
        SELECT conv_id AS cid, event_type AS channel, ts, event_id
        FROM t
        WHERE event_type IN ('click', 'view', 'signup')
          AND conv_id IS NOT NULL
          AND ts >= conv_at - INTERVAL 3600 SECOND
    ),
    ranked AS MATERIALIZED (
        SELECT cid, channel,
               ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ts, event_id)
                   AS pos,
               COUNT(*) OVER (PARTITION BY cid) AS n
        FROM touches
    ),
    credits AS MATERIALIZED (
        SELECT cid, channel,
               CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                    WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                    WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
                    ELSE CAST(0.2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)
               END AS credit
        FROM ranked
    ),
    untouched AS MATERIALIZED (
        SELECT e.event_id AS cid, '(none)' AS channel,
               CAST(1.0 AS DOUBLE) AS credit
        FROM events e
        WHERE e.event_type = 'purchase'
          AND NOT EXISTS (SELECT 1 FROM credits c WHERE c.cid = e.event_id)
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(credit), 6) AS credit
    FROM (SELECT * FROM credits UNION ALL SELECT * FROM untouched)
    GROUP BY channel
    """,
)
def q182_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution over a 1-hour
    lookback: first and last touch of each conversion's path get 0.40,
    the interior splits 0.20 — the fractional-credit complement of
    q148's winner-takes-all.  One reversed per-user window assigns
    touches their next conversion (no events x events self-join), one
    per-conversion window ranks path ends, untouched conversions land
    in '(none)'.  Per-credit arithmetic is pure IEEE; channel sums
    round to 6."""
    from magi_etl_spark.operators.behavior import multi_touch_attribution

    e = load_table(spark, sf_dir, "events")
    return multi_touch_attribution(
        e, ["click", "view", "signup"], "purchase", 3600
    )


_Q183_CHANNELS = ["click", "view", "signup"]
_Q183_ITERS = 25


def _q183_scenario_ctes(tag: str, removed: str) -> str:
    """The unrolled value-iteration CTE chain for one removal scenario
    (``removed`` = a channel name, or a token matching no state for
    the base chain).  MATERIALIZED per step — without it DuckDB
    re-inlines each step into the next and the plan explodes."""
    blocks = [
        f"""
    p0_{tag} AS MATERIALIZED (
        SELECT src AS state, CAST(0.0 AS DOUBLE) AS p FROM tot
    )"""
    ]
    for k in range(1, _Q183_ITERS + 1):
        blocks.append(
            f"""
    p{k}_{tag} AS MATERIALIZED (
        SELECT t.src AS state,
               SUM(CASE WHEN t.src = '{removed}' THEN CAST(0.0 AS DOUBLE)
                   ELSE (t.n / o.tot) *
                        (CASE WHEN t.dst = '(conv)' THEN CAST(1.0 AS DOUBLE)
                              WHEN t.dst = '(null)' THEN CAST(0.0 AS DOUBLE)
                              WHEN t.dst = '{removed}'
                                  THEN CAST(0.0 AS DOUBLE)
                              ELSE COALESCE(p.p, CAST(0.0 AS DOUBLE)) END)
                   END) AS p
        FROM trans t JOIN tot o ON t.src = o.src
        LEFT JOIN p{k - 1}_{tag} p ON t.dst = p.state
        GROUP BY t.src
    )"""
        )
    return ",".join(blocks)


def _q183_oracle() -> str:
    chans = _Q183_CHANNELS
    in_list = ", ".join(f"'{c}'" for c in chans)
    scen = [_q183_scenario_ctes("base", "(no-removal)")]
    for i, c in enumerate(chans):
        scen.append(_q183_scenario_ctes(f"r{i}", c))
    final_k = _Q183_ITERS
    eff_rows = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS channel,
               1.0 - (SELECT p FROM p{final_k}_r{i}
                      WHERE state = '(start)')
                   / (SELECT p FROM p{final_k}_base
                      WHERE state = '(start)') AS eff"""
        for i, c in enumerate(chans)
    )
    return f"""
    WITH t AS MATERIALIZED (
        SELECT user_id, ts, event_id, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN event_id
                          END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC
                         ROWS UNBOUNDED PRECEDING) AS cid
        FROM events
    ),
    touches AS MATERIALIZED (
        SELECT user_id AS u, COALESCE(cid, -1) AS jid,
               event_type AS state, ts, event_id
        FROM t WHERE event_type IN ({in_list})
    ),
    seq AS MATERIALIZED (
        SELECT u, jid, state,
               lag(state) OVER w AS prev, lead(state) OVER w AS nxt
        FROM touches
        WINDOW w AS (PARTITION BY u, jid ORDER BY ts, event_id)
    ),
    trans AS MATERIALIZED (
        SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS n FROM (
            SELECT COALESCE(prev, '(start)') AS src, state AS dst FROM seq
            UNION ALL
            SELECT state,
                   CASE WHEN jid >= 0 THEN '(conv)' ELSE '(null)' END
            FROM seq WHERE nxt IS NULL
            UNION ALL
            SELECT '(start)', '(conv)' FROM events e
            WHERE e.event_type = 'purchase'
              AND NOT EXISTS (SELECT 1 FROM touches x
                              WHERE x.u = e.user_id
                                AND x.jid = e.event_id)
        ) GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
        SELECT src, SUM(n) AS tot FROM trans GROUP BY 1
    ),{",".join(scen)},
    effects AS MATERIALIZED (
{eff_rows}
    ),
    total_eff AS MATERIALIZED (
        SELECT SUM(eff) AS s FROM effects
    )
    SELECT e.channel,
           ROUND(e.eff, 6) AS removal_effect,
           ROUND(e.eff / t.s, 6) AS share,
           ROUND((SELECT p FROM p{final_k}_base WHERE state = '(start)'),
                 6) AS p_conv
    FROM effects e CROSS JOIN total_eff t
    """


@query("q183_markov_attribution", oracle=_q183_oracle())
def q183_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the third leg
    of the attribution family (winner-takes-all q148, heuristic
    U-shape q182, model-based here): per-journey transition counts
    (one window pass + one keyed count — the corpus-scale part), then
    the absorbing conversion probability from '(start)' under 25
    fixed value-iteration steps, re-solved with each channel removed.
    The chain is |channels|+3 states, so the solve rides the COLLECTED
    count table driver-side (the BPE-trainer lesson); the oracle
    unrolls the identical 25 iterations per scenario as MATERIALIZED
    CTEs."""
    from magi_etl_spark.operators.behavior import markov_attribution

    e = load_table(spark, sf_dir, "events")
    return markov_attribution(
        e, list(_Q183_CHANNELS), "purchase", n_iter=_Q183_ITERS
    )
