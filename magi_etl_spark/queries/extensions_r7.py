"""Registered queries over the round-7 operator additions.

Round-7 operator wave (all NEW modules — the linkage.py isolation rule
keeps every gate-verified surface byte-identical): engagement analytics
(rolling DAU/WAU/MAU stickiness, exponential time-decay scoring,
sweep-line peak concurrency — ``operators/engagement.py``), inequality
audits (Gini / Lorenz — ``operators/inequality.py``), tabular feature
prep (leakage-free K-fold target encoding, WOE/IV, largest-remainder
quota sampling — ``operators/mlprep.py``), and the further families
this round stages (changepoint detection, winnowing fingerprints,
prefix-filter set-similarity joins, script profiling, SCD2 event-time
enrichment, k-core decomposition, storage pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import ORACLE, query
from magi_etl_spark.tables import load_table


# --- engagement analytics ----------------------------------------------------


@query(
    "q184_active_user_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day AS day,
           CAST(COUNT(DISTINCT CASE WHEN u.day = d.day
                                    THEN u.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN u.day > d.day - 7
                                    THEN u.user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN u.day = d.day
                                          THEN u.user_id END) AS DOUBLE)
                 / COUNT(DISTINCT u.user_id), 4) AS stickiness
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day
    GROUP BY d.day
    """,
)
def q184_active_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DAU/WAU/MAU + stickiness per activity day.  The Spark
    side never self-joins the event stream: it collapses to distinct
    (user, day) pairs and explodes each across the 30 days it can count
    toward — a bounded fan-out of the SMALL frame, one conditional
    count_distinct aggregation (the oracle states the same semantics as
    a range join over the collapsed pairs)."""
    from magi_etl_spark.operators.engagement import rolling_active_users

    return rolling_active_users(load_table(spark, sf_dir, "events"))


@query(
    "q185_concurrency_peaks",
    oracle="""
    WITH s AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               MIN(ts) AS start_ts,
               MAX(ts) + INTERVAL 1 SECOND AS end_ts
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    d AS (
        SELECT start_ts AS ts, 1 AS delta, user_id, day FROM s
        UNION ALL
        SELECT end_ts AS ts, -1 AS delta, user_id, day FROM s
    ),
    c AS (
        SELECT ts, delta,
               SUM(delta) OVER (ORDER BY ts, delta, user_id, day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
        FROM d
    )
    SELECT CAST(ts AS DATE) AS day,
           CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(MAX(cum) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS session_starts
    FROM c GROUP BY 1, 2
    """,
)
def q185_concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per hour over end-exclusive
    (user, day) session intervals.  The oracle's global running sum is
    a single ORDER BY over everything; the Spark side computes the
    identical cumulative through the two-pass range-partitioned prefix
    sum (operators/prefix.py) — no single-partition window."""
    from magi_etl_spark.operators.engagement import concurrency_profile

    return concurrency_profile(load_table(spark, sf_dir, "events"))


@query(
    "q187_decay_engagement",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events)
    SELECT user_id,
           ROUND(SUM(ROUND(value, 2)
                     * POWER(0.97, date_diff('day', CAST(ts AS DATE),
                                             ref.ref_day))), 4)
               AS decay_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, ref
    GROUP BY user_id
    """,
)
def q187_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential time-decay engagement score anchored at the
    newest activity day (broadcast 1-row aggregate — the anchor rides
    the plan).  Per-event terms are deterministic scalar expressions;
    the sum is rounded to 4 dp."""
    from magi_etl_spark.operators.engagement import decay_engagement_scores

    return decay_engagement_scores(load_table(spark, sf_dir, "events"))


# --- inequality audits -------------------------------------------------------


@query(
    "q186_revenue_gini",
    oracle="""
    WITH pe AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS cust,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT segment, m,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY m, cust) AS rk
        FROM pe
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(m) AS BIGINT) AS total_mass,
           ROUND(2.0 * SUM(rk * m)
                     / (COUNT(*) * CAST(SUM(m) AS DOUBLE))
                 - (COUNT(*) + 1) / CAST(COUNT(*) AS DOUBLE), 6) AS gini
    FROM r GROUP BY segment
    """,
)
def q186_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue within each market segment
    — integer cent masses, unique (mass, custkey) rank tie-break, one
    rounded division per segment."""
    from magi_etl_spark.operators.inequality import gini_by_group

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    )
    return gini_by_group(
        j.select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("_cents"),
        ),
        ["segment"],
        "o_custkey",
        F.col("_cents"),
    )


# --- tabular feature prep ----------------------------------------------------


@query(
    "q188_target_encoding",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS category,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CAST(CAST(concat('0x', substr(md5(concat('fold|',
                        CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 5 AS INT) AS fold
        FROM orders
    ),
    cf AS (
        SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS cnt_f,
               CAST(SUM(y) AS BIGINT) AS sum_f
        FROM base GROUP BY 1, 2
    ),
    c AS (
        SELECT category, CAST(SUM(cnt_f) AS BIGINT) AS cnt_c,
               CAST(SUM(sum_f) AS BIGINT) AS sum_c
        FROM cf GROUP BY 1
    ),
    g AS (
        SELECT CAST(SUM(cnt_f) AS BIGINT) AS cnt_g,
               CAST(SUM(sum_f) AS BIGINT) AS sum_g
        FROM cf
    )
    SELECT cf.category, cf.fold, cf.cnt_f AS n_in,
           c.cnt_c - cf.cnt_f AS n_out,
           ROUND((CAST(c.sum_c - cf.sum_f AS DOUBLE)
                  + 20.0 * (CAST(g.sum_g AS DOUBLE) / g.cnt_g))
                 / CAST(c.cnt_c - cf.cnt_f + 20 AS DOUBLE), 6) AS encoded
    FROM cf JOIN c USING (category), g
    """,
)
def q188_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 5-fold target encoding of order priority against
    the is-fulfilled label: each (category, fold) cell's encoding uses
    only the OTHER folds' rows, smoothed toward the global rate with a
    prior weight of 20.  Folds are md5 arithmetic both engines replay
    digit for digit."""
    from magi_etl_spark.operators.mlprep import target_encode_kfold

    orders = load_table(spark, sf_dir, "orders")
    return target_encode_kfold(
        orders,
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int"),
        F.col("o_orderkey"),
        n_folds=5,
        prior_weight=20,
    )


@query(
    "q189_woe_iv",
    oracle="""
    WITH base AS (
        SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    pb AS (
        SELECT bin, CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(1 - y) AS BIGINT) AS n_neg
        FROM base GROUP BY bin
    ),
    t AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS pt,
               CAST(SUM(n_neg) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM pb
    ),
    terms AS (
        SELECT pb.bin, pb.n_pos, pb.n_neg,
               LN((CAST(pb.n_pos + 1 AS DOUBLE) / (t.pt + t.nb))
                  / (CAST(pb.n_neg + 1 AS DOUBLE) / (t.nt + t.nb))) AS w,
               (CAST(pb.n_pos + 1 AS DOUBLE) / (t.pt + t.nb)
                - CAST(pb.n_neg + 1 AS DOUBLE) / (t.nt + t.nb))
               * LN((CAST(pb.n_pos + 1 AS DOUBLE) / (t.pt + t.nb))
                    / (CAST(pb.n_neg + 1 AS DOUBLE) / (t.nt + t.nb)))
                   AS ivt
        FROM pb, t
    )
    SELECT bin, n_pos, n_neg, ROUND(w, 4) AS woe,
           ROUND(ivt, 4) AS iv_term,
           (SELECT ROUND(SUM(ivt), 4) FROM terms) AS iv
    FROM terms
    """,
)
def q189_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value diagnostic of the
    order-value bin (25k-wide) against the is-fulfilled label, with
    Laplace-smoothed shares so empty cells never divide by zero.
    Counts are integers; the log and both rounded emissions share one
    expression tree on each side."""
    from magi_etl_spark.operators.mlprep import woe_iv

    orders = load_table(spark, sf_dir, "orders")
    return woe_iv(
        orders,
        F.floor(F.col("o_totalprice") / 25000.0).cast("long"),
        (F.col("o_orderstatus") == "F").cast("int"),
    )


@query(
    "q190_quota_sample",
    oracle="""
    WITH counts AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY lang, source
    ),
    tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS N FROM counts
    ),
    q AS (
        SELECT lang, source, n_rows,
               (n_rows * 500) // tot.N AS fl,
               (n_rows * 500) % tot.N AS rem
        FROM counts, tot
    ),
    short AS (SELECT 500 - CAST(SUM(fl) AS BIGINT) AS s FROM q),
    quota AS (
        SELECT lang, source,
               fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC,
                                                 lang ASC, source ASC)
                              <= short.s
                         THEN 1 ELSE 0 END AS quota
        FROM q, short
    ),
    ranked AS (
        SELECT d.doc_id, d.lang, d.source,
               ROW_NUMBER() OVER (
                   PARTITION BY d.lang, d.source
                   ORDER BY md5(concat('quota|',
                                       CAST(d.doc_id AS VARCHAR))),
                            d.doc_id) AS rn
        FROM documents d
    )
    SELECT r.doc_id, r.lang, r.source
    FROM ranked r JOIN quota USING (lang, source)
    WHERE r.rn <= quota.quota
    """,
)
def q190_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-500-row stratified sample of documents by (lang, source)
    under largest-remainder (Hamilton) apportionment — all-integer
    quota arithmetic, md5-ordered deterministic draws within each
    stratum."""
    from magi_etl_spark.operators.mlprep import quota_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return quota_sample(docs, ["lang", "source"], "doc_id", 500)


# --- sequential series state machines ---------------------------------------


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): integer cent total of event values — the
    shared all-integer series the recursion queries scan."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))


_DAILY_CENTS_SQL = """
        SELECT event_type AS series, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
"""


@query(
    "q191_cusum_alarms",
    oracle=f"""
    WITH RECURSIVE d AS ({_DAILY_CENTS_SQL}),
    o AS (
        SELECT series, day, x,
               ROW_NUMBER() OVER (PARTITION BY series ORDER BY day) AS i
        FROM d
    ),
    p AS (
        SELECT series, SUM(x) // COUNT(*) AS k FROM d GROUP BY series
    ),
    hh AS (
        SELECT d.series, SUM(ABS(d.x - p.k)) // COUNT(*) * 5 AS h
        FROM d JOIN p USING (series) GROUP BY d.series
    ),
    r AS (
        SELECT o.series, o.day, o.x, o.i,
               GREATEST(0, o.x - p.k) AS sp,
               GREATEST(0, p.k - o.x) AS sn
        FROM o JOIN p USING (series) WHERE o.i = 1
        UNION ALL
        SELECT o.series, o.day, o.x, o.i,
               GREATEST(0, r.sp + o.x - p.k),
               GREATEST(0, r.sn + p.k - o.x)
        FROM r JOIN o ON o.series = r.series AND o.i = r.i + 1
               JOIN p ON p.series = o.series
    )
    SELECT r.series, r.day, r.x,
           CAST(r.sp AS BIGINT) AS cusum_pos,
           CAST(r.sn AS BIGINT) AS cusum_neg,
           CAST(CASE WHEN r.sp > hh.h OR r.sn > hh.h
                     THEN 1 ELSE 0 END AS INT) AS alarm
    FROM r JOIN hh USING (series)
    """,
)
def q191_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint profile over per-series daily cent
    totals: integer drift allowance (floor-mean), integer threshold
    (5x mean absolute deviation), all-integer state — the sequential
    per-series scan runs in applyInPandas (parallel ACROSS series, the
    correct shape for millions of series), and the oracle replays the
    recursion as a recursive CTE."""
    from magi_etl_spark.operators.changepoint import cusum_profile

    return cusum_profile(_daily_cents(spark, sf_dir), "series", "day", "x")


@query(
    "q192_holt_smoothing",
    oracle=f"""
    WITH RECURSIVE d AS ({_DAILY_CENTS_SQL}),
    o AS (
        SELECT series, day, x,
               ROW_NUMBER() OVER (PARTITION BY series ORDER BY day) AS i
        FROM d
    ),
    r AS (
        SELECT series, day, x, i,
               CAST(x AS DOUBLE) AS level,
               CAST(0.0 AS DOUBLE) AS trend
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.series, o.day, o.x, o.i,
               0.5 * CAST(o.x AS DOUBLE) + 0.5 * (r.level + r.trend),
               0.5 * ((0.5 * CAST(o.x AS DOUBLE)
                       + 0.5 * (r.level + r.trend)) - r.level)
               + 0.5 * r.trend
        FROM r JOIN o ON o.series = r.series AND o.i = r.i + 1
    )
    SELECT series, day, x,
           ROUND(level, 4) AS level, ROUND(trend, 4) AS trend
    FROM r
    """,
)
def q192_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear smoothing (alpha = beta = 0.5) of the daily cent
    series.  Multiplying by 0.5 is IEEE-exact and addition rounds
    identically in every IEEE-754 engine, so the Spark (Arrow float64)
    and oracle (recursive-CTE double) trajectories are bit-identical —
    the 4 dp rounding is presentation, not tolerance."""
    from magi_etl_spark.operators.changepoint import holt_smooth

    return holt_smooth(_daily_cents(spark, sf_dir), "series", "day", "x")


# --- winnowing fingerprints (MOSS) ------------------------------------------

_WINNOW_SEL_SQL = """
    toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos,
               CAST(concat('0x', substr(md5(concat('win|',
                    tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2])), 1, 8))
                    AS BIGINT) AS h
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    ),
    win AS (
        SELECT doc_id,
               MIN({'h': h, 'np': -pos})
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
               COUNT(*)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n
        FROM grams
    ),
    sel AS (
        SELECT DISTINCT doc_id, -(m.np) AS pos, m.h AS h
        FROM win WHERE n = 4
    )
"""


@query(
    "q193_winnow_profile",
    oracle=f"""
    WITH {_WINNOW_SEL_SQL}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hashes,
           CAST(MIN(h) AS BIGINT) AS min_hash
    FROM sel GROUP BY doc_id
    """,
)
def q193_winnow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint profile per document (MOSS, k=3 / w=4):
    rightmost-minimal gram hash per sliding window, expressed as one
    lexicographic min(struct(hash, -pos)) window aggregate that the
    oracle replays verbatim — selection positions and hashes are
    hash-checked via count/distinct/min."""
    from magi_etl_spark.operators.winnow import winnow_fingerprints

    fps = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.count_distinct("fp_hash").alias("n_hashes"),
        F.min("fp_hash").alias("min_hash"),
    )


@query(
    "q194_winnow_pairs",
    oracle=f"""
    WITH {_WINNOW_SEL_SQL},
    fsets AS (SELECT DISTINCT doc_id, h FROM sel)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM fsets a JOIN fsets b
      ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def q194_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowing fingerprints — the
    shared-passage (plagiarism / boilerplate-reuse) detector.  The
    coverage guarantee makes any shared run of w+k-1 = 6 tokens produce
    a shared fingerprint; candidate generation joins on the fingerprint
    hash itself, never all-pairs."""
    from magi_etl_spark.operators.winnow import (
        fingerprint_pairs,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    return fingerprint_pairs(fps, min_shared=2)


# --- exact set-similarity join (prefix filtering) ---------------------------


@query(
    "q195_similarity_join",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents
    ),
    s AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2] AS tok
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    ),
    sz AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM s GROUP BY doc_id
    ),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter_size
        FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.inter_size,
           za.sz + zb.sz - i.inter_size AS union_size
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    WHERE i.inter_size * 2 >= za.sz + zb.sz - i.inter_size
    """,
)
def q195_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set similarity join at Jaccard >= 1/2 by prefix
    filtering (PPJoin family): rare-first global-frequency token order,
    pigeonhole-lossless prefix candidates, integer-arithmetic
    verification (inter * 2 >= union).  The oracle is the all-pairs
    scan the prefix filter provably equals; the output similarity is an
    exact integer ratio."""
    from fractions import Fraction

    from magi_etl_spark.operators.setjoin import shingle_sets, similarity_join

    sets = shingle_sets(load_table(spark, sf_dir, "documents"))
    return similarity_join(sets, Fraction(1, 2))


# --- character-class text diagnostics ---------------------------------------


@query(
    "q196_script_profile",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]',
                '', 'g')) AS BIGINT) AS n_ascii_alpha,
           CAST(length(text) - length(regexp_replace(text, '[0-9]',
                '', 'g')) AS BIGINT) AS n_digit,
           CAST(length(text) - length(regexp_replace(text, '[ \\t\\n\\r]',
                '', 'g')) AS BIGINT) AS n_ws,
           CAST(length(text) - length(regexp_replace(text,
                '[^\\x00-\\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii,
           CAST(length(text) - length(replace(text, chr(65533), ''))
                AS BIGINT) AS n_replacement,
           CAST(length(text) - length(replace(text, chr(195), ''))
                AS BIGINT) AS n_mojibake_marker,
           ROUND(CAST(length(text) - length(regexp_replace(text,
                     '[^\\x00-\\x7F]', '', 'g')) AS DOUBLE)
                 / GREATEST(length(text), 1), 4) AS non_ascii_ratio
    FROM documents
    """,
)
def q196_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition + encoding-damage markers per
    document: ASCII letters/digits/whitespace, non-ASCII count and
    ratio, U+FFFD replacement characters, and the UTF-8-as-Latin-1
    mojibake signature (U+00C3) — the standard drop/route signals of
    web-corpus curation, as pure scalar column expressions."""
    from magi_etl_spark.operators.textsignals import script_profile

    return script_profile(load_table(spark, sf_dir, "documents"))


@query(
    "q197_extract_summary",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT doc_id, string_split_regex(text, '\\. ') AS arr
        FROM documents
    ),
    sents AS MATERIALIZED (
        SELECT doc_id, CAST(j - 1 AS INT) AS sent_pos, arr[j] AS sentence
        FROM base, LATERAL unnest(range(1, len(arr) + 1)) AS t(j)
        WHERE length(trim(arr[j])) > 0
    ),
    stoks AS MATERIALIZED (
        SELECT s.doc_id, s.sent_pos, u.tok
        FROM sents s,
             LATERAL unnest(regexp_extract_all(lower(s.sentence),
                                               '[a-z0-9]+')) AS u(tok)
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM stoks GROUP BY 1, 2
    ),
    scored AS (
        SELECT st.doc_id, st.sent_pos, CAST(SUM(tf.tf) AS BIGINT) AS score
        FROM stoks st
        JOIN tf ON tf.doc_id = st.doc_id AND tf.tok = st.tok
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT sc.doc_id, sc.sent_pos, sc.score, se.sentence,
               ROW_NUMBER() OVER (PARTITION BY sc.doc_id
                                  ORDER BY sc.score DESC,
                                           sc.sent_pos ASC) AS rn
        FROM scored sc JOIN sents se USING (doc_id, sent_pos)
    )
    SELECT doc_id, sent_pos, score, sentence FROM ranked WHERE rn <= 2
    """,
)
def q197_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic extractive summary: top-2 sentences per document
    by integer TF weight (sentence score = sum of its token
    occurrences' within-document frequencies), ranked (score DESC,
    position ASC) — every comparison on exact integers."""
    from magi_etl_spark.operators.textsignals import extractive_summary

    return extractive_summary(load_table(spark, sf_dir, "documents"))


# --- event-time dimension conformance ---------------------------------------


@query(
    "q198_asof_enrichment",
    oracle="""
    WITH dim AS MATERIALIZED (
        SELECT o_custkey AS custkey, o_orderdate AS valid_from,
               o_orderkey AS version_key, o_orderpriority AS priority
        FROM orders
    ),
    f AS MATERIALIZED (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS custkey,
               l.l_shipdate, l.l_extendedprice
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
        SELECT f.l_shipdate, f.l_extendedprice, d.priority,
               ROW_NUMBER() OVER (
                   PARTITION BY f.l_orderkey, f.l_linenumber, f.custkey,
                                f.l_shipdate, f.l_extendedprice
                   ORDER BY d.valid_from DESC, d.version_key DESC) AS rn
        FROM f LEFT JOIN dim d
          ON d.custkey = f.custkey AND d.valid_from <= f.l_shipdate
    )
    SELECT COALESCE(priority, 'NONE') AS priority,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM ranked WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def q198_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SCD2 enrichment: every lineitem picks the customer
    priority version in force ON ITS SHIP DATE (as-of argmax over
    (valid_from, version_key) — deterministic under same-day
    re-versioning), then rolls up cents by (as-of priority, ship
    month).  The join is keyed on the business key with a bounded
    versions-per-key fan-out — no range explode, no fact-stream
    window."""
    from magi_etl_spark.operators.dimjoin import (
        asof_dimension_join,
        priority_dimension_from_orders,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    facts = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_custkey").alias("custkey"),
        "l_shipdate",
        "l_extendedprice",
    )
    enriched = asof_dimension_join(
        facts,
        priority_dimension_from_orders(orders),
        key="custkey",
        fact_time="l_shipdate",
        attrs=["priority"],
    )
    return enriched.groupBy(
        F.coalesce("asof_priority", F.lit("NONE")).alias("priority"),
        F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"),
    ).agg(
        F.count("*").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


# --- k-core decomposition ----------------------------------------------------

_SUPPLIER_EDGES_SQL = """
        SELECT DISTINCT LEAST(x.l_suppkey, y.l_suppkey) AS a,
                        GREATEST(x.l_suppkey, y.l_suppkey) AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
"""


def _kcore_oracle() -> str:
    from magi_etl_spark.operators.kcore import kcore_oracle_sql

    return kcore_oracle_sql(_SUPPLIER_EDGES_SQL, k=3, max_iters=8)


@query("q199_kcore")
def q199_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-order graph (suppliers are adjacent
    when they serve the same order) after 8 peeling rounds — each round
    one degree aggregate + one semi-join edge filter behind a counted
    chkpt barrier (the PageRank lineage idiom).  The oracle unrolls
    the identical 8 rounds as chained CTEs."""
    from magi_etl_spark.operators.kcore import cooccurrence_edges, k_core

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_suppkey")
    return k_core(edges, k=3, max_iters=8)


ORACLE["q199_kcore"] = _kcore_oracle()


# --- storage-layout pruning --------------------------------------------------


@query(
    "q200_data_skipping",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1997-01-01'
      AND strftime(o_orderdate, '%Y-%m-%d') <= '1997-12-31'
    GROUP BY o_orderpriority
    """,
)
def q200_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max data skipping, gate-shaped: orders are
    range-partitioned on the ISO order-day into 8 parquet files with a
    min/max sidecar manifest; a one-year predicate then opens ONLY the
    overlapping files — asserted in-query (files_read strictly less
    than files_total; the year is ~1/7 of the key span).  The exact
    predicate is re-applied after the file cut, and the oracle is the
    plain full-scan filter — a green row certifies the pruned read
    loses nothing."""
    import os
    import tempfile

    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "od", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    root = tempfile.mkdtemp(prefix="magi_skip_")
    path = os.path.join(root, "orders_by_day")
    write_with_stats(orders, path, "od", n_files=8)
    df, n_read, n_total = pruned_read(
        spark, path, "1997-01-01", "1997-12-31"
    )
    assert 0 < n_read < n_total, (n_read, n_total)
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@query(
    "q201_dynamic_partition_pruning",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily
    ),
    busy AS (
        SELECT day FROM daily, tot WHERE daily.n * tot.nd > tot.t
    )
    SELECT e.day, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events) e
    JOIN busy t ON e.day = t.day
    GROUP BY 1, 2
    """,
)
def q201_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning, gate-shaped: events are written
    directory-partitioned by day (30 directories), the busier-than-
    average-day dimension is derived at runtime, and the join plan must
    carry the runtime ``dynamicpruning#`` subquery in the fact scan's
    PartitionFilters — asserted in-query — so only the busy-day
    directories are ever opened.  The threshold is one bounded 2-int
    collect (the integer floor-mean), turned into a LITERAL dim filter
    because Spark's DPP heuristic requires a selective predicate on the
    pruning side; ``n > (total DIV n_days)`` is exactly the oracle's
    all-integer ``n * n_days > total``.  The oracle replays the join
    semantics over the raw table."""
    import os
    import tempfile

    from magi_etl_spark.operators.skipping import (
        dpp_join,
        dpp_plan,
        write_partitioned_fact,
    )

    events = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="magi_dpp_")
    path = os.path.join(root, "events_by_day")
    write_partitioned_fact(events, path, "day")
    daily = events.groupBy("day").agg(F.count("*").alias("n"))
    tot, nd = daily.agg(
        F.sum("n").cast("long"), F.count("*").cast("long")
    ).first()
    dim = daily.where(F.col("n") > int(tot) // int(nd)).select("day")
    joined = dpp_join(spark, path, dim, "day")
    plan = dpp_plan(joined)
    assert "dynamicpruning" in plan.lower(), "DPP subquery not injected"
    return joined.groupBy("day", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


# --- candidate-generator evaluation -----------------------------------------


def _lsh_eval_oracle() -> str:
    from magi_etl_spark.queries.dedup import _SHINGLES

    return f"""
    WITH {_SHINGLES},
    sig AS (
        SELECT doc_id, sh,
               list_min(list_transform(sh, x -> md5(concat('0|', x)))) AS m0,
               list_min(list_transform(sh, x -> md5(concat('1|', x)))) AS m1,
               list_min(list_transform(sh, x -> md5(concat('2|', x)))) AS m2,
               list_min(list_transform(sh, x -> md5(concat('3|', x)))) AS m3
        FROM s WHERE len(sh) > 0
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (concat(a.m0, '|', a.m1) = concat(b.m0, '|', b.m1)
              OR concat(a.m2, '|', a.m3) = concat(b.m2, '|', b.m3))
    ),
    nonempty AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN nonempty sa ON i.doc_a = sa.doc_id
        JOIN nonempty sb ON i.doc_b = sb.doc_id
        WHERE i.n_inter / (len(sa.sh) + len(sb.sh) - i.n_inter) >= 0.5
    ),
    counts AS (
        SELECT
            CAST((SELECT COUNT(*) FROM cand JOIN truth
                  USING (doc_a, doc_b)) AS BIGINT) AS tp,
            CAST((SELECT COUNT(*) FROM cand ANTI JOIN truth
                  USING (doc_a, doc_b)) AS BIGINT) AS fp,
            CAST((SELECT COUNT(*) FROM truth ANTI JOIN cand
                  USING (doc_a, doc_b)) AS BIGINT) AS fn
    )
    SELECT tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END
               AS precision,
           CASE WHEN tp + fn > 0
                THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END
               AS recall
    FROM counts
    """


@query("q202_lsh_candidate_eval")
def q202_lsh_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator quality eval: precision/recall of the
    2-band x 2-hash MinHash-LSH candidate pairs against the EXACT
    Jaccard >= 0.5 ground truth — the confusion counts a band/probe
    tuning loop reads before any 100 TB dedup run.  One full-outer
    pair join + one scalar aggregate; both pair sets replayed in full
    by the oracle."""
    from magi_etl_spark.operators import dedup as D
    from magi_etl_spark.operators.retrieval_eval import (
        candidate_metrics,
        lsh_band_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, n_hashes=4)
    cand = lsh_band_candidates(
        sigs, "doc_id", ["m0", "m1", "m2", "m3"], band_size=2
    )
    truth = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("doc_a", "doc_b")
    return candidate_metrics(cand, truth)


ORACLE["q202_lsh_candidate_eval"] = _lsh_eval_oracle()


def _ivf_recall_oracle() -> str:
    from magi_etl_spark.queries.similarity import _COSINE

    cos = _COSINE.replace("av[", "a.v[").replace("bv[", "p.qv[")
    cos = cos.replace("list_transform(av,", "list_transform(a.v,").replace(
        "list_transform(bv,", "list_transform(p.qv,"
    )
    cos = cos.replace("len(av)", "len(a.v)")
    exact_cos = _COSINE.replace("av[", "c.v[").replace("bv[", "q.qv[")
    exact_cos = exact_cos.replace(
        "list_transform(av,", "list_transform(c.v,"
    ).replace("list_transform(bv,", "list_transform(q.qv,")
    exact_cos = exact_cos.replace("len(av)", "len(c.v)")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    cent AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS list_id,
               v AS c
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    assigned AS (
        SELECT vec_id, v, list_id FROM (
            SELECT e.vec_id, e.v, cent.list_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(e.v) + 1),
                           i -> (e.v[i] - cent.c[i])
                                * (e.v[i] - cent.c[i]))) ASC,
                       cent.list_id ASC) AS rn
            FROM e, cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, list_id FROM (
            SELECT q.query_id, q.qv, cent.list_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                       list_sum(list_transform(range(1, len(q.qv) + 1),
                           i -> (q.qv[i] - cent.c[i])
                                * (q.qv[i] - cent.c[i]))) ASC,
                       cent.list_id ASC) AS pr
            FROM q, cent
        ) WHERE pr <= 2
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY {cos} DESC, a.vec_id) AS rn
            FROM assigned a JOIN probes p
              ON a.list_id = p.list_id AND a.vec_id <> p.query_id
        ) WHERE rn <= 10
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {exact_cos} DESC, c.vec_id) AS rn
            FROM e c, q WHERE c.vec_id <> q.query_id
        ) WHERE rn <= 10
    )
    SELECT x.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    """


@query("q204_ivf_recall_eval")
def q204_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN acceptance metric: per-query recall@10 of the IVF probe path
    (8 hash-ordered sampled lists, 2 probed) against the exact
    brute-force cosine scan — the number a probe-width tuning loop
    reads before an index rollout.  The oracle replays BOTH paths
    (centroid sampling, argmin assignment, probe selection, ranked
    scoring) and the recall join."""
    from magi_etl_spark.operators.retrieval_eval import topk_recall
    from magi_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_index_sampled,
        ivf_topk,
    )

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 5)
    assigned, cents = ivf_index_sampled(em, n_lists=8, init="first")
    approx = ivf_topk(assigned, cents, queries, k=10, n_probe=2)
    exact = cosine_topk(em, queries, k=10)
    return topk_recall(approx, exact)


ORACLE["q204_ivf_recall_eval"] = _ivf_recall_oracle()


# --- transition entropy ------------------------------------------------------


@query(
    "q219_transition_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS a,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS b
        FROM events
    ),
    c AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE b IS NOT NULL GROUP BY a, b
    ),
    rowt AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM c GROUP BY a),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
    SELECT c.a AS from_state, rowt.na AS n_out,
           ROUND(SUM(-(CAST(c.n AS DOUBLE) / rowt.na)
                     * LN(CAST(c.n AS DOUBLE) / rowt.na)
                     / LN(2.0)), 4) AS row_entropy_bits,
           (SELECT ROUND(SUM(-(CAST(c2.n AS DOUBLE) / tot.nt)
                              * LN(CAST(c2.n AS DOUBLE)
                                   / CAST(r2.na AS DOUBLE)) / LN(2.0)), 4)
            FROM c c2 JOIN rowt r2 ON r2.a = c2.a, tot)
               AS entropy_rate_bits
    FROM c JOIN rowt ON rowt.a = c.a
    GROUP BY c.a, rowt.na
    """,
)
def q219_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition entropy over per-user event sequences: each
    from-state's conditional next-step entropy (bits) and the corpus
    entropy rate under the empirical occupancy — the predictability
    summary of the q141 transition matrix.  Integer transition counts;
    one log per transition CELL (|states|^2, never corpus-sized)."""
    import math

    from pyspark.sql import Window as PW

    ln2 = math.log(2.0)
    e = load_table(spark, sf_dir, "events")
    w = PW.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    c = seq.groupBy("a", "b").agg(F.count("*").alias("n"))
    rowt = c.groupBy("a").agg(F.sum("n").alias("na"))
    tot = c.agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("na")
    per_row = (
        c.join(rowt, "a")
        .groupBy(F.col("a").alias("from_state"), F.col("na").alias("n_out"))
        .agg(
            F.round(
                F.sum(-p * F.log(p) / F.lit(ln2)),
                4,
            ).alias("row_entropy_bits")
        )
    )
    rate = (
        c.join(rowt, "a")
        .join(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    -(F.col("n").cast("double") / F.col("nt"))
                    * F.log(
                        F.col("n").cast("double") / F.col("na").cast("double")
                    )
                    / F.lit(ln2)
                ),
                4,
            ).alias("entropy_rate_bits")
        )
    )
    return per_row.join(F.broadcast(rate))


# --- corpus datasheet capstone ----------------------------------------------


@query(
    "q218_source_datasheet",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT source, lang, doc_id, n_chars, md5(text) AS h,
               len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS n_toks,
               CAST(length(text) - length(regexp_replace(text,
                        '[^\\x00-\\x7F]', '', 'g')) AS DOUBLE)
                   / GREATEST(length(text), 1) AS na_ratio
        FROM documents
    ),
    dup AS (
        SELECT source, h, COUNT(*) AS n FROM base GROUP BY source, h
    ),
    dupc AS (
        SELECT source,
               CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_dup_docs
        FROM dup GROUP BY source
    ),
    ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM base
    ),
    med AS (
        SELECT source, ROUND(AVG(CAST(n_chars AS DOUBLE)), 1)
                   AS median_chars
        FROM ranked
        WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
        GROUP BY source
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs,
           dupc.n_dup_docs,
           med.median_chars,
           ROUND(CAST(SUM(b.n_toks) AS DOUBLE) / COUNT(*), 4)
               AS mean_tokens,
           CAST(SUM(CASE WHEN b.na_ratio > 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonascii_flagged
    FROM base b
    JOIN dupc ON dupc.source = b.source
    JOIN med ON med.source = b.source
    GROUP BY b.source, dupc.n_dup_docs, med.median_chars
    """,
)
def q218_source_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytics-wave capstone: a per-source corpus DATASHEET in
    one row — document and language counts, exact-duplicate document
    count (md5 text groups), exact rank-median document length, mean
    token count, and encoding-flag counts (non-ASCII ratio > 5%) —
    the one-look summary a dataset card starts from, composed from the
    wave's building blocks in a single oracle."""
    from magi_etl_spark.functions.text import alnum_words

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "doc_id",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(alnum_words(F.col("text"))).alias("n_toks"),
        (
            (
                F.length("text")
                - F.length(
                    F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "")
                )
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("na_ratio"),
    )
    dupc = (
        base.groupBy("source", "h")
        .agg(F.count("*").alias("_n"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    from pyspark.sql import Window as PW

    w = PW.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = base.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(PW.partitionBy("source")).alias("_n"),
    )
    med = (
        ranked.where(
            (F.col("_rk") == F.expr("(_n + 1) DIV 2"))
            | (F.col("_rk") == F.expr("(_n + 2) DIV 2"))
        )
        .groupBy("source")
        .agg(
            F.round(F.avg(F.col("n_chars").cast("double")), 1).alias(
                "median_chars"
            )
        )
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_toks").alias("_sum_toks"),
            F.sum(F.when(F.col("na_ratio") > 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_nonascii_flagged"),
        )
        .join(dupc, "source")
        .join(med, "source")
        .select(
            "source",
            "n_docs",
            "n_langs",
            "n_dup_docs",
            "median_chars",
            F.round(
                F.col("_sum_toks").cast("double") / F.col("n_docs"), 4
            ).alias("mean_tokens"),
            "n_nonascii_flagged",
        )
    )


# --- session entry/exit analysis --------------------------------------------


@query(
    "q217_entry_exit_bounce",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    ),
    ranked AS (
        SELECT user_id, day, k,
               ROW_NUMBER() OVER (PARTITION BY user_id, day
                                  ORDER BY ts, event_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY user_id, day
                                  ORDER BY ts DESC, event_id DESC) AS rl
        FROM ev
    ),
    sess AS (
        SELECT user_id, day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(CASE WHEN rf = 1 THEN k END) AS entry_k,
               MAX(CASE WHEN rl = 1 THEN k END) AS exit_k
        FROM ranked GROUP BY user_id, day
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
           CAST(COUNT(DISTINCT entry_k) AS BIGINT) AS distinct_entries,
           CAST(COUNT(DISTINCT exit_k) AS BIGINT) AS distinct_exits
    FROM sess GROUP BY day
    """,
)
def q217_entry_exit_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit-page and bounce analysis per day over (user, day)
    sessions: the entry and exit page ids are per-session argmin/argmax
    by (ts, event_id) — deterministic under same-timestamp events via
    the unique tie-break — and a bounce is a single-event session.
    One keyed session aggregate + one daily rollup."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.struct("ts", "event_id").alias("_ord"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    sess = ev.groupBy("user_id", "day").agg(
        F.count("*").alias("n_events"),
        F.min_by("k", F.col("_ord")).alias("entry_k"),
        F.max_by("k", F.col("_ord")).alias("exit_k"),
    )
    return sess.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("bounce_rate"),
        F.count_distinct("entry_k").alias("distinct_entries"),
        F.count_distinct("exit_k").alias("distinct_exits"),
    )


# --- weighted similarity / token association --------------------------------


@query(
    "q215_weighted_jaccard",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents
    ),
    s AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2] AS tok
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    ),
    dfq AS MATERIALIZED (
        SELECT tok, COUNT(*) AS df FROM s GROUP BY tok
    ),
    ws AS MATERIALIZED (
        SELECT s.doc_id, s.tok,
               CASE WHEN dfq.df = 1 THEN 4 WHEN dfq.df = 2 THEN 3
                    WHEN dfq.df = 3 THEN 2 ELSE 1 END AS w
        FROM s JOIN dfq USING (tok)
    ),
    sz AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM s GROUP BY doc_id
    ),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter_size
        FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    simpairs AS MATERIALIZED (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sz za ON za.doc_id = i.doc_a
        JOIN sz zb ON zb.doc_id = i.doc_b
        WHERE i.inter_size * 2 >= za.sz + zb.sz - i.inter_size
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(w) AS BIGINT) AS W FROM ws GROUP BY doc_id
    ),
    wint AS (
        SELECT p.doc_a, p.doc_b,
               CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS w_inter
        FROM simpairs p
        JOIN ws a ON a.doc_id = p.doc_a
        JOIN ws b ON b.doc_id = p.doc_b AND b.tok = a.tok
        GROUP BY 1, 2
    )
    SELECT w.doc_a, w.doc_b, w.w_inter,
           ta.W + tb.W - w.w_inter AS w_union
    FROM wint w
    JOIN tot ta ON ta.doc_id = w.doc_a
    JOIN tot tb ON tb.doc_id = w.doc_b
    """,
)
def q215_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted Jaccard scoring of the q195 similar pairs:
    shingles weighted by an integer df ladder (df=1 -> 4 ... df>=4 ->
    1), w_inter = sum of min weights over shared shingles, w_union =
    W_a + W_b - w_inter — a shared RARE passage counts more than a
    shared boilerplate one, and the output stays all-integer."""
    from fractions import Fraction

    from magi_etl_spark.operators.setjoin import (
        shingle_sets,
        similarity_join,
        weighted_jaccard_scores,
    )

    from magi_etl_spark.chkpt import materialize

    docs = load_table(spark, sf_dir, "documents")
    # one barrier feeds the df ladder, the weighting join AND the
    # similarity join's input (r15: left lazy, the corpus tokenize
    # compiled three times in this query body)
    sets = materialize(shingle_sets(docs))
    dfq = sets.groupBy("tok").agg(F.count("*").alias("_df"))
    weighted = sets.join(dfq, "tok").select(
        "doc_id",
        "tok",
        F.when(F.col("_df") == 1, 4)
        .when(F.col("_df") == 2, 3)
        .when(F.col("_df") == 3, 2)
        .otherwise(1)
        .alias("w"),
    )
    pairs = similarity_join(sets, Fraction(1, 2)).select("doc_a", "doc_b")
    return weighted_jaccard_scores(pairs, weighted)


@query(
    "q216_token_pmi",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT DISTINCT doc_id, u.tok
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
             LATERAL unnest(tk) AS u(tok)
    ),
    dfq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok
    ),
    top AS (
        SELECT tok, df FROM dfq ORDER BY df DESC, tok ASC LIMIT 30
    ),
    kept AS (
        SELECT t.doc_id, t.tok, top.df
        FROM toks t JOIN top USING (tok)
    ),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS na, b.df AS nb,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM kept a JOIN kept b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) >= 5
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT tok_a, tok_b, na AS n_a, nb AS n_b, n_ab,
           ROUND(LN(CAST(n_ab * nd.n AS DOUBLE)
                    / CAST(na * nb AS DOUBLE)), 4) AS pmi
    FROM pairs, nd
    """,
)
def q216_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between the top-30 df-ranked
    vocabulary terms over document co-occurrence — the document-term
    form of co-purchase lift.  Top-k selection plans as
    TakeOrderedAndProject (distributed top-k, no vocabulary-wide
    window); per-document pair fan-out is bounded by C(30, 2)."""
    from magi_etl_spark.operators.pmi import token_pmi

    return token_pmi(load_table(spark, sf_dir, "documents"))


# --- conversion latency ------------------------------------------------------


@query(
    "q214_conversion_latency",
    oracle="""
    WITH nxt AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING
                                  AND UNBOUNDED FOLLOWING) AS np
        FROM events
    ),
    conv AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(date_diff('second', ts, np) AS DOUBLE) AS latency_s
        FROM nxt
        WHERE event_type = 'view' AND np IS NOT NULL
    ),
    cells AS (
        SELECT week,
               least(greatest(CAST(floor(latency_s / 20480.0) AS INTEGER),
                              0), 127) AS b,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM conv
        GROUP BY week, least(greatest(CAST(floor(latency_s / 20480.0)
                 AS INTEGER), 0), 127)
    ),
    cdf AS (
        SELECT week, b, c,
               SUM(c) OVER (PARTITION BY week ORDER BY b) AS cum,
               SUM(c) OVER (PARTITION BY week) AS n
        FROM cells
    ),
    qs AS (
        SELECT CAST(q AS DOUBLE) AS q
        FROM (VALUES (0.5), (0.9)) v(q)
    ),
    hit AS (
        SELECT cdf.week, qs.q, cdf.b, cdf.c, cdf.cum, cdf.n,
               ROW_NUMBER() OVER (PARTITION BY cdf.week, qs.q
                                  ORDER BY cdf.b) AS rn
        FROM cdf JOIN qs ON cdf.cum >= qs.q * cdf.n
    )
    SELECT week, q,
           ROUND(0.0 + (b + (q * n - (cum - c)) / c) * 20480.0, 4) AS est
    FROM hit WHERE rn = 1
    """,
)
def q214_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-next-purchase latency quantiles (p50/p90 seconds) per
    view week: every view looks ahead to its user's next purchase (one
    unbounded-following conditional-min window per user — the
    event-time as-of shape), and the latencies feed the mergeable
    fixed-grid quantile sketch (q162's shape; bucket width 2621440/128
    = 20480 is exactly representable, so the oracle replays the CDF
    interpolation bit for bit)."""
    from pyspark.sql import Window as PW

    from magi_etl_spark.operators.sketches import grid_quantiles

    e = load_table(spark, sf_dir, "events")
    w = (
        PW.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, PW.unboundedFollowing)
    )
    nxt = e.select(
        "event_type",
        "ts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        )
        .over(w)
        .alias("np"),
    )
    conv = nxt.where(
        (F.col("event_type") == "view") & F.col("np").isNotNull()
    ).select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        (F.col("np").cast("long") - F.col("ts").cast("long"))
        .cast("double")
        .alias("latency_s"),
    )
    return grid_quantiles(
        conv, ["week"], "latency_s", [0.5, 0.9], lo=0.0, hi=2621440.0
    )


# --- contrastive negatives / sharding / TWAP --------------------------------


@query(
    "q211_negative_edges",
    oracle="""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    srcs AS (SELECT DISTINCT src FROM edges),
    dsts AS (SELECT DISTINCT dst FROM edges),
    nb AS (
        SELECT GREATEST(64, CAST(POWER(2, CEIL(LOG2(
                   CAST(GREATEST(COUNT(*), 1) AS DOUBLE) / 64.0)))
               AS BIGINT)) AS n
        FROM dsts
    ),
    dstb AS (
        SELECT dst,
               CAST(concat('0x', substr(md5(concat('neg|b|',
                    CAST(dst AS VARCHAR))), 1, 8)) AS BIGINT) % nb.n AS b
        FROM dsts, nb
    ),
    trials AS (
        SELECT src, CAST(t.trial AS INT) AS trial,
               CAST(concat('0x', substr(md5(concat('neg|t|',
                    CAST(src AS VARCHAR), '|',
                    CAST(t.trial AS VARCHAR))), 1, 8)) AS BIGINT)
                   % nb.n AS b
        FROM srcs, nb, LATERAL unnest([0, 1, 2, 3]) AS t(trial)
    ),
    cand AS (
        SELECT src, trial, dst FROM (
            SELECT tr.src, tr.trial, db.dst,
                   ROW_NUMBER() OVER (PARTITION BY tr.src, tr.trial
                       ORDER BY CAST(concat('0x', substr(md5(concat('neg|p|',
                           CAST(tr.src AS VARCHAR), '|',
                           CAST(tr.trial AS VARCHAR), '|',
                           CAST(db.dst AS VARCHAR))), 1, 8)) AS BIGINT),
                           db.dst) AS rn
            FROM trials tr JOIN dstb db ON db.b = tr.b
        ) WHERE rn = 1
    )
    SELECT c.src, c.trial, c.dst
    FROM cand c
    ANTI JOIN edges e ON e.src = c.src AND e.dst = c.dst
    WHERE c.dst <> c.src
    """,
)
def q211_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized negative-edge samples over the customer-part
    purchase graph — the contrastive negatives a link-prediction
    trainer consumes.  No global vertex index: destinations hash into
    COUNT-DERIVED buckets (~64 destinations each, power of two, floor
    64 — the O(1)-bucket-size contract that keeps the candidate stream
    linear in source count; the r9 bench measured the old fixed-64
    profile at 44 s / 19M md5 rows at sf0.1, quadratic in vertex
    count), each (src, trial) hashes to one bucket, the candidate is
    the bucket's md5-argmin destination under a (src, trial, dst)-keyed
    rank (trial-dependent — a dst-only rank would cap the corpus-wide
    negative vocabulary at one winner per bucket), existing edges drop
    via one anti-join — all md5 arithmetic, keyed joins only; the
    oracle derives the identical modulus from its own distinct-dst
    count."""
    from magi_etl_spark.operators.negatives import negative_edge_samples

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r15 optimization (guide §2.4): no ``.distinct()`` on the edge feed —
    # the operator derives its own distinct src/dst vertex sets and its
    # anti-join ignores positive-pair multiplicity, so deduping here was
    # one whole extra edge-scale exchange + aggregate with zero effect on
    # the sampled output
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
        )
    )
    return negative_edge_samples(edges, "src", "dst", n_trials=4)


@query(
    "q212_rendezvous_shards",
    oracle="""
    WITH w AS (
        SELECT doc_id, s.shard,
               CAST(concat('0x', substr(md5(concat('hrw|',
                    CAST(s.shard AS VARCHAR), '|',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS wgt
        FROM documents, LATERAL unnest(range(0, 16)) AS s(shard)
    ),
    pick AS (
        SELECT doc_id, shard FROM (
            SELECT doc_id, shard,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY wgt DESC, shard DESC) AS rn
            FROM w
        ) WHERE rn = 1
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
    FROM pick GROUP BY shard
    """,
)
def q212_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment of the
    document corpus across 16 shards — stateless, coordination-free,
    minimal-disruption routing.  The per-key weight array is a fixed
    16-struct array whose array_max IS the assignment (no explode, no
    per-key shuffle); the oracle unnests and ranks the same weights."""
    from magi_etl_spark.operators.rendezvous import shard_assignment_profile

    docs = load_table(spark, sf_dir, "documents")
    return shard_assignment_profile(docs, "doc_id", n_shards=16)


@query(
    "q213_twap",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               date_diff('second', ts,
                         LEAD(ts) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id)) AS dt
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(dt) AS BIGINT) AS total_seconds,
           ROUND(CAST(SUM(cents * dt) AS DOUBLE) / SUM(dt) / 100.0, 6)
               AS twap
    FROM s WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def q213_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per type (TWAP): each
    observation weighted by the whole seconds until the next one (the
    step-function integral; the last observation carries no weight).
    Integer cents x integer seconds throughout; one lead window per
    group, one division per output row."""
    from magi_etl_spark.operators.engagement import time_weighted_average

    return time_weighted_average(
        load_table(spark, sf_dir, "events"), ["event_type"]
    )


# --- shared-passage explanation ---------------------------------------------


@query(
    "q210_common_runs",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents
    ),
    posg AS MATERIALIZED (
        SELECT doc_id, CAST(j - 1 AS INT) AS pos,
               tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2] AS tok
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    ),
    s AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM posg),
    sz AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM s GROUP BY doc_id
    ),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter_size
        FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    simpairs AS MATERIALIZED (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sz za ON za.doc_id = i.doc_a
        JOIN sz zb ON zb.doc_id = i.doc_b
        WHERE i.inter_size * 2 >= za.sz + zb.sz - i.inter_size
    ),
    matched AS MATERIALIZED (
        SELECT DISTINCT p.doc_a, p.doc_b, a.pos AS pa, b.pos AS pb
        FROM simpairs p
        JOIN posg a ON a.doc_id = p.doc_a
        JOIN posg b ON b.doc_id = p.doc_b AND b.tok = a.tok
    ),
    islands AS (
        SELECT doc_a, doc_b, pa - pb AS diag, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                       ORDER BY pa) AS island
        FROM matched
    ),
    runs AS (
        SELECT doc_a, doc_b, diag, island, COUNT(*) AS run
        FROM islands GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run) AS BIGINT) AS longest_gram_run,
           CAST(MAX(run) + 2 AS BIGINT) AS common_tokens
    FROM runs GROUP BY doc_a, doc_b
    """,
)
def q210_common_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage EXPLANATION for the q195 similar pairs: the
    longest contiguous run of shared 3-gram shingles per pair, by
    diagonal gaps-and-islands (constant pos_a - pos_b offset,
    consecutive pos_a) — the dedup reviewer's "show me WHERE they
    overlap" diagnostic, and the pair-level form of the Lee-et-al
    duplicated-span profile (q129)."""
    from fractions import Fraction

    from magi_etl_spark.operators.setjoin import (
        longest_common_runs,
        shingle_positions,
        shingle_sets,
        similarity_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = similarity_join(shingle_sets(docs), Fraction(1, 2))
    return longest_common_runs(pairs, shingle_positions(docs))


# --- distribution / association / survival ----------------------------------


@query(
    "q207_ecdf_normalize",
    oracle="""
    SELECT event_type, event_id, value,
           ROUND(cume_dist() OVER (PARTITION BY event_type
                                   ORDER BY value), 6) AS ecdf
    FROM events WHERE value IS NOT NULL
    """,
)
def q207_ecdf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank (ECDF) normalization of event values within each
    event type — the rank-based feature transform that is immune to
    outliers and scale.  Right-continuous convention (ties share the
    highest rank = cume_dist), one per-group window pass."""
    from magi_etl_spark.operators.mlprep import ecdf_normalize

    e = load_table(spark, sf_dir, "events")
    return ecdf_normalize(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        "value",
        "event_id",
    )


@query(
    "q208_chi_square",
    oracle="""
    WITH cells AS (
        SELECT event_type AS r, CAST(isodow(ts) - 1 AS INT) AS c,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY r),
    ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY c),
    tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cols
        FROM cells
    ),
    terms AS (
        SELECT (cells.o - CAST(rt.rt * ct.ct AS DOUBLE) / tot.n)
               * (cells.o - CAST(rt.rt * ct.ct AS DOUBLE) / tot.n)
               / (CAST(rt.rt * ct.ct AS DOUBLE) / tot.n) AS term,
               CAST(rt.rt * ct.ct AS DOUBLE) / tot.n AS e,
               tot.n, tot.n_rows, tot.n_cols
        FROM cells JOIN rt USING (r) JOIN ct USING (c), tot
    )
    SELECT n, n_rows, n_cols,
           (n_rows - 1) * (n_cols - 1) AS dof,
           ROUND(SUM(term) + (n - SUM(e)), 6) AS chi2,
           CASE WHEN LEAST(n_rows, n_cols) > 1 THEN
               ROUND(SQRT((SUM(term) + (n - SUM(e)))
                          / (n * (LEAST(n_rows, n_cols) - 1))), 6)
           END AS cramers_v
    FROM terms GROUP BY n, n_rows, n_cols
    """,
)
def q208_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type vs weekday, with
    Cramér's V effect size — observed cells are exact integer counts,
    expected counts are per-CELL double expressions, and the
    structural-zero cells' contribution is folded in WITHOUT
    materializing them (for an absent cell (o-e)^2/e = e, and their
    e-sum is n minus the present cells' e-sum)."""
    from magi_etl_spark.operators.contingency import chi_square

    e = load_table(spark, sf_dir, "events")
    return chi_square(e, F.col("event_type"), F.weekday("ts").cast("int"))


@query(
    "q209_survival_curve",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS life
        FROM events GROUP BY user_id
    ),
    alive AS (
        SELECT CAST(u.t AS INT) AS t_days,
               CAST(COUNT(*) AS BIGINT) AS n_alive
        FROM spans, LATERAL unnest(range(0, LEAST(life, 30) + 1)) AS u(t)
        GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM spans)
    SELECT a.t_days, a.n_alive, tot.n_users,
           ROUND(CAST(a.n_alive AS DOUBLE) / tot.n_users, 6) AS survival
    FROM alive a, tot
    """,
)
def q209_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical user survival curve: the fraction of users whose
    observed lifespan reaches at least t days, for t in 0..30 — the
    continuous companion to weekly cohort retention (q140).
    All-integer counts via one keyed span aggregate + one bounded
    explode (the DAU/MAU fan-out shape); one division per point."""
    from magi_etl_spark.operators.survival import survival_curve

    return survival_curve(load_table(spark, sf_dir, "events"))


# --- language-ID confusion matrix -------------------------------------------


def _langid_confusion_oracle() -> str:
    from magi_etl_spark.queries.text import _TOKS

    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    h AS (
        SELECT doc_id,
               len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS en_h,
               len(list_filter(toks, x -> x IN ('el','la','de','y','que','los'))) AS es_h,
               len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de_h,
               len(list_filter(toks, x -> x IN ('le','les','des','et','est','une'))) AS fr_h
        FROM t
    ),
    p AS (
        SELECT doc_id,
               CASE WHEN greatest(en_h, es_h, de_h, fr_h) = 0 THEN 'und'
                    WHEN en_h = greatest(en_h, es_h, de_h, fr_h) THEN 'en'
                    WHEN es_h = greatest(en_h, es_h, de_h, fr_h) THEN 'es'
                    WHEN de_h = greatest(en_h, es_h, de_h, fr_h) THEN 'de'
                    ELSE 'fr' END AS pred_lang
        FROM h
    ),
    j AS (
        SELECT d.lang, p.pred_lang
        FROM documents d JOIN p USING (doc_id)
    ),
    tot AS (SELECT lang, COUNT(*) AS t FROM j GROUP BY lang)
    SELECT j.lang, j.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.t, 6) AS share
    FROM j JOIN tot USING (lang)
    GROUP BY j.lang, j.pred_lang, tot.t
    """


@query("q206_langid_confusion")
def q206_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval harness for the stopword-vote language-ID
    heuristic (q22): the confusion matrix against the declared ``lang``
    column, with each cell's share of its declared language — the
    per-class recall diagonal a curation pipeline monitors before
    trusting heuristic routing.  Composes the registered heuristic
    (import, not copy) with one keyed aggregate."""
    from magi_etl_spark.operators.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs, "doc_id", "text")
    j = docs.select("doc_id", "lang").join(pred, "doc_id")
    tot = j.groupBy("lang").agg(F.count("*").alias("_t"))
    return (
        j.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("_t"), 6
            ).alias("share"),
        )
    )


ORACLE["q206_langid_confusion"] = _langid_confusion_oracle()


# --- robust trend ------------------------------------------------------------


@query(
    "q205_theil_sen_trend",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority AS priority,
               (EXTRACT(YEAR FROM o_orderdate) - 1995) * 12
                   + EXTRACT(MONTH FROM o_orderdate) - 1 AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.priority,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                   AS s
        FROM m a JOIN m b
          ON a.priority = b.priority AND a.x < b.x
    ),
    ranked AS (
        SELECT priority, s,
               ROW_NUMBER() OVER (PARTITION BY priority ORDER BY s) AS rk,
               COUNT(*) OVER (PARTITION BY priority) AS n
        FROM slopes
    ),
    med AS (
        SELECT priority, ROUND(AVG(s), 6) AS sen_slope
        FROM ranked
        WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
        GROUP BY priority
    ),
    np AS (
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM m GROUP BY priority
    ),
    npr AS (
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM slopes GROUP BY priority
    )
    SELECT np.priority, np.n_points, npr.n_pairs, med.sen_slope
    FROM np JOIN npr USING (priority) JOIN med USING (priority)
    """,
)
def q205_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust monthly revenue trend per order priority — the
    median of all pairwise slopes (29% breakdown point, the robust
    companion to q152's OLS).  Slopes are ratios of exact integers;
    the median is an exact rank selection (average of the two middle
    VALUES, so tie order never matters).  The pairwise join is bounded
    by months-per-group squared — an aggregated-series contract, not a
    corpus-scale one."""
    from magi_etl_spark.operators.robustfit import theil_sen_trend

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("x"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    return theil_sen_trend(monthly, ["priority"], "x", "y")


# --- Lorenz curve points -----------------------------------------------------


@query(
    "q203_lorenz_points",
    oracle="""
    WITH pe AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS cust,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT segment, m, cust,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY m, cust) AS rk,
               SUM(m) OVER (PARTITION BY segment ORDER BY m, cust
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
        FROM pe
    ),
    tot AS (
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS t
        FROM pe GROUP BY segment
    )
    SELECT r.segment, CAST((r.rk * 10) // tot.n AS INT) AS decile,
           ROUND(CAST(r.cum AS DOUBLE) / tot.t, 6) AS mass_share
    FROM r JOIN tot USING (segment)
    WHERE (r.rk * 10) % tot.n = 0
    """,
)
def q203_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles of customer revenue per market segment —
    the distribution curve behind the q186 Gini scalar: at each decile
    of the customer count (ascending by mass), the cumulative share of
    segment revenue.  Integer cumulative sums, one rounded division per
    emitted point."""
    from magi_etl_spark.operators.inequality import lorenz_points

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    )
    return lorenz_points(
        j.select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("_cents"),
        ),
        ["segment"],
        "o_custkey",
        F.col("_cents"),
        n_points=10,
    )
