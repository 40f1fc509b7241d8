"""Registered queries over the round-4 operator extensions.

Non-SQL-expressible entries (iterative label propagation inside
``semantic_dedup``; numpy Lloyd training inside PQ) register without
an oracle — the driver's documented rows-only path — but their tests
still pin exact expected invariants.
"""

from __future__ import annotations

import json
import os
import tempfile
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


@query(
    "q95_salted_hot_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q95_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join through the explicit salt spread: every event user
    maps to a customer, so each customer key carries ~N/150 events —
    the salted form keeps the result identical while the physical join
    key widens to (key, salt) and each hot key occupies 8 partitions
    (plan-asserted in tests/test_plans.py)."""
    from magi_etl_spark.operators.joins import salted_join

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(e, c, ["user_id"], salt_buckets=8)
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@query(
    "q96_fuzzy_linkage",
    oracle="""
    WITH dict AS (SELECT DISTINCT p_name AS dict_name FROM part),
    l AS (
        SELECT p_partkey, p_name,
               substr(lower(trim(p_name)), 1, 4) AS blk
        FROM part WHERE p_partkey % 5 = 0
    ),
    r AS (SELECT dict_name, substr(lower(trim(dict_name)), 1, 4) AS blk
          FROM dict)
    SELECT l.p_partkey, l.p_name, r.dict_name,
           CAST(levenshtein(l.p_name, r.dict_name) AS INTEGER)
               AS edit_distance
    FROM l JOIN r USING (blk)
    WHERE levenshtein(l.p_name, r.dict_name) <= 3
    """,
)
def q96_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance linkage of part rows against the distinct
    part-name dictionary: candidates share a 4-char case-folded prefix
    block (one shuffle on the block key, never all-pairs); Spark's
    thresholded ``levenshtein(l, r, 3)`` short-circuits the DP scan,
    and its -1 overflow sentinel filters to exactly the oracle's
    ``levenshtein <= 3`` set."""
    from magi_etl_spark.operators.joins import fuzzy_join, prefix_block

    p = load_table(spark, sf_dir, "part")
    left = p.select("p_partkey", "p_name").where(F.col("p_partkey") % 5 == 0)
    names = p.select(F.col("p_name").alias("dict_name")).distinct()
    out = fuzzy_join(
        left,
        names,
        prefix_block("p_name", 4),
        prefix_block("dict_name", 4),
        "p_name",
        "dict_name",
        max_distance=3,
    )
    return out.select(
        "p_partkey",
        "p_name",
        "dict_name",
        F.col("edit_distance").cast("int").alias("edit_distance"),
    )


@query(
    "q97_snm_pairs",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey AS id, c_name AS key,
               ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rank
        FROM customer
    )
    SELECT a.id AS id_a, a.key AS key_a, CAST(a.rank AS BIGINT) AS rank_a,
           b.id AS id_b, b.key AS key_b, CAST(b.rank AS BIGINT) AS rank_b
    FROM ranked a JOIN ranked b
      ON b.rank > a.rank AND b.rank - a.rank <= 3
    """,
)
def q97_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs over customer names, window
    3: every pair within three positions of the global (name, id) sort
    — the oracle's one ROW_NUMBER window is the single-partition trap
    this operator exists to avoid (range-partitioned two-pass rank +
    adjacent-bucket self-join; N*w candidate ceiling)."""
    from magi_etl_spark.operators.joins import sorted_neighborhood_pairs

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cid"), "c_name"
    )
    out = sorted_neighborhood_pairs(c, "cid", F.col("c_name"), window=3)
    return out.select(
        F.col("id_a"),
        F.col("key_a"),
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("id_b"),
        F.col("key_b"),
        F.col("rank_b").cast("long").alias("rank_b"),
    )


@query(
    "q98_rrf_fusion",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS dl,
               len(list_filter(t, x -> x = 'join')) AS tf_0,
               len(list_filter(t, x -> x = 'vector')) AS tf_1
        FROM toks
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
               COUNT(CASE WHEN tf_0 > 0 THEN 1 END) AS df_0,
               COUNT(CASE WHEN tf_1 > 0 THEN 1 END) AS df_1
        FROM base
    ),
    bm AS (
        SELECT doc_id,
               ln(1.0 + (s.n_docs - s.df_0 + 0.5) / (s.df_0 + 0.5))
                 * (b.tf_0 * 2.2 / (b.tf_0 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)))
               + ln(1.0 + (s.n_docs - s.df_1 + 0.5) / (s.df_1 + 0.5))
                 * (b.tf_1 * 2.2 / (b.tf_1 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)))
                   AS score
        FROM base b, stats s WHERE b.tf_0 + b.tf_1 > 0
    ),
    bm_rank AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm ORDER BY score DESC, doc_id LIMIT 20
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])))) AS score
        FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    cos_rank AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id)
            AS rank
        FROM cos ORDER BY round(score, 6) DESC, doc_id LIMIT 20
    ),
    unioned AS (
        SELECT doc_id, rank FROM bm_rank
        UNION ALL SELECT doc_id, rank FROM cos_rank
    )
    SELECT doc_id,
           ROUND(SUM(1.0 / (60.0 + rank)), 6) AS rrf_score,
           CAST(COUNT(*) AS BIGINT) AS n_lists,
           CAST(MIN(rank) AS BIGINT) AS best_rank
    FROM unioned GROUP BY doc_id
    """,
)
def q98_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 for {join, vector} fused with the
    embedding-cosine top-20 for query vector 0 by reciprocal rank (the
    doc/vec id spaces coincide in the corpus).  Rank keys match the
    established q88/q27 determinism rules (score desc, id asc; cosine
    rounded to 6 dp before ranking)."""
    from magi_etl_spark.operators.ranking import bm25_scores, rrf_fuse
    from magi_etl_spark.operators.similarity import cosine_topk

    d = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    bm = (
        bm25_scores(d, ["join", "vector"])
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "score")
    )
    cos = (
        cosine_topk(em, em.where(F.col("vec_id") == 0), k=20)
        .select(F.col("vec_id").alias("doc_id"), F.col("score"))
    )
    fused = rrf_fuse(
        {"bm25": bm, "cosine": cos}, id_col="doc_id", score_col="score", k=60
    )
    return fused.select(
        "doc_id",
        F.round("rrf_score", 6).alias("rrf_score"),
        "n_lists",
        F.col("best_rank").cast("long").alias("best_rank"),
    )


@query(
    "q99_temperature_mix",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM counts),
    z AS (
        SELECT list_sum(list(pow(n, 0.5) ORDER BY lang)) AS z FROM counts
    ),
    w AS (
        SELECT c.lang,
               (t.total * (pow(c.n, 0.5) / z.z)) / c.n AS wgt
        FROM counts c, tot t, z
    ),
    thr AS (
        SELECT lang, CAST(floor(wgt) AS BIGINT) AS whole,
               printf('%08x', CAST((wgt - floor(wgt)) * 4294967296 AS BIGINT))
                   AS thr
        FROM w
    ),
    d AS (
        SELECT doc_id, lang,
               substr(md5(concat('tmix|', CAST(doc_id AS VARCHAR))), 1, 8) AS u
        FROM documents
    ),
    n AS (
        SELECT d.doc_id, d.lang,
               t.whole + CASE WHEN d.u < t.thr THEN 1 ELSE 0 END AS copies
        FROM d JOIN thr t USING (lang)
    )
    SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_idx
    FROM n WHERE copies > 0
    """,
)
def q99_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced corpus at alpha=0.5: per-language weights
    derived from the observed counts (p_lang ∝ n^0.5, expected output
    size = input size), realized by the deterministic md5 draw — the
    identical weight arithmetic and hash expression run in the oracle,
    so the SAMPLE is verified row for row, not just its size."""
    from magi_etl_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    mixed = temperature_mix(d, "lang", "doc_id", alpha=0.5, seed="tmix")
    return mixed.select(
        "doc_id", "lang", F.col("copy_idx").cast("long").alias("copy_idx")
    )


@query(
    "q100_redact_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                       '[EMAIL]', 'g'),
                   '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '[IP]', 'g'),
               '[0-9][0-9][0-9]+', '[NUM]', 'g') AS redacted,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q100_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus — the acting half of the q70 scan:
    the same engine-portable regexes applied most-specific-first so an
    address is replaced whole, never hollowed into [NUM] fragments.
    Map-only plan (DuckDB needs the explicit 'g' flag; Spark's
    regexp_replace is global by default)."""
    from magi_etl_spark.operators.text import redact_pii

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        redact_pii(F.col("text")).alias("redacted"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "q101_expectation_suite",
    oracle="""
    SELECT 'fk_customer_mod3' AS check, CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 = 0)
    UNION ALL
    SELECT 'status_accepted', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderstatus NOT IN ('O', 'F') OR o_orderstatus IS NULL
    UNION ALL
    SELECT 'price_range', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_totalprice > 150000
    UNION ALL
    SELECT 'custkey_unique', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_custkey IN (
        SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1)
    """,
)
def q101_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations as data: four declarative checks over
    orders (dangling FK against the mod-3 customer subset, accepted
    status set, price ceiling, key uniqueness), each one lazy
    violations-DataFrame reduced to a count and unioned — no driver-side
    row iteration, every check a single keyed pass."""
    from magi_etl_spark.operators.expectations import (
        expect_accepted_values,
        expect_in_range,
        expect_referential,
        expect_unique,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 == 0)
    checks = {
        "fk_customer_mod3": expect_referential(
            o, c.select(F.col("c_custkey").alias("o_custkey")), ["o_custkey"]
        ),
        "status_accepted": expect_accepted_values(o, "o_orderstatus", ["O", "F"]),
        "price_range": expect_in_range(o, "o_totalprice", hi=150000),
        "custkey_unique": expect_unique(o, ["o_custkey"]),
    }
    parts = [
        v.agg(F.lit(name).alias("check"), F.count(F.lit(1)).alias("violations"))
        for name, v in checks.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q102_incremental_extract",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1
    """,
)
def q102_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental extraction: a stored watermark of
    2024-01-20 filters the extract to strictly-newer rows (a plain
    Column predicate, so it prunes partitions/row groups at rest), and
    the commit-after-write callback advances the stored watermark to
    the batch max — exercised end to end here, then the daily rollup of
    the extracted window is verified against the oracle."""
    from magi_etl_spark.operators.maintenance import incremental_read

    state_dir = tempfile.mkdtemp(prefix="magi_wm_")
    state = os.path.join(state_dir, "wm.json")
    with open(state, "w") as fh:
        json.dump({"watermark": "2024-01-20 00:00:00"}, fh)
    df, commit = incremental_read(
        lambda: load_table(spark, sf_dir, "events"), "ts", state
    )
    commit()  # crash-safe contract: watermark only moves after success
    with open(state) as fh:
        advanced = json.load(fh)["watermark"]
    assert advanced > "2024-01-20"  # the commit really advanced it
    return df.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@query(
    "q103_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS plo,
               quantile_cont(value, 0.95) AS phi
        FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(LEAST(GREATEST(e.value, b.plo), b.phi)), 6) AS sum_w,
           ROUND(MIN(b.plo), 6) AS p05,
           ROUND(MAX(b.phi), 6) AS p95
    FROM events e JOIN b USING (event_type)
    GROUP BY 1
    """,
)
def q103_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at the exact [p5, p95] band: one
    broadcast bounds join (two numbers per group), clip, reaggregate.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition, so the clipped sums agree at the
    6-dp grid."""
    from magi_etl_spark.operators.stats import winsorize

    e = load_table(spark, sf_dir, "events")
    w = winsorize(e, ["event_type"], "value", lo=0.05, hi=0.95)
    # re-derive the bounds for the report columns (broadcast, tiny)
    from magi_etl_spark.operators.stats import group_percentile_bounds

    b = group_percentile_bounds(e, ["event_type"], "value", 0.05, 0.95)
    return (
        w.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value_w"), 6).alias("sum_w"),
            F.round(F.min("_plo"), 6).alias("p05"),
            F.round(F.max("_phi"), 6).alias("p95"),
        )
    )


@query(
    "q105_paragraph_dedup",
    oracle=r"""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN concat(text, chr(10), chr(10),
                                'Subscribe to our newsletter today!')
                    ELSE text END AS text
        FROM documents
    ),
    arr AS (
        SELECT doc_id, regexp_split_to_array(text, '\n\s*\n') AS paras
        FROM docs
    ),
    p AS (
        SELECT a.doc_id, i AS pos, a.paras[i] AS para,
               trim(regexp_replace(lower(
                   regexp_replace(a.paras[i], '[\x00-\x08\x0b-\x1f\x7f]', '', 'g')),
                   '\s+', ' ', 'g')) AS norm
        FROM arr a, unnest(range(1, len(a.paras) + 1)) AS t(i)
    ),
    kept AS (SELECT * FROM p WHERE norm <> ''),
    boiler AS (
        SELECT norm FROM kept GROUP BY norm
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT k.doc_id, k.pos, k.para,
               (b.norm IS NOT NULL) AS is_boiler
        FROM kept k LEFT JOIN boiler b USING (norm)
    ),
    rebuilt AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
               CAST(COUNT(CASE WHEN is_boiler THEN 1 END) AS BIGINT)
                   AS n_removed,
               coalesce(string_agg(CASE WHEN NOT is_boiler THEN para END,
                                   chr(10) || chr(10) ORDER BY pos), '')
                   AS text_dedup
        FROM flagged GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           coalesce(r.n_paragraphs, 0) AS n_paragraphs,
           coalesce(r.n_removed, 0) AS n_removed
    FROM docs d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q105_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate removal: every third document gains a shared
    newsletter footer paragraph (the corpus ships single-paragraph
    texts), and paragraph_dedup must strip exactly those footers — plus
    any text that repeats verbatim across documents — while original
    paragraph order and all-boilerplate documents survive as rows."""
    from magi_etl_spark.operators.text import paragraph_dedup

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit("\n\nSubscribe to our newsletter today!"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return paragraph_dedup(d, "doc_id", "text")


@query(
    "q107_join_estimate",
    oracle="""
    WITH la AS (
        SELECT o_custkey AS k, COUNT(*) AS na FROM orders
        WHERE o_custkey IS NOT NULL
          AND substr(md5(concat('joinest|', CAST(o_custkey AS VARCHAR))), 1, 8)
              < '33333333'
        GROUP BY 1
    ),
    lb AS (
        SELECT user_id AS k, COUNT(*) AS nb FROM events
        WHERE user_id IS NOT NULL
          AND substr(md5(concat('joinest|', CAST(user_id AS VARCHAR))), 1, 8)
              < '33333333'
        GROUP BY 1
    )
    SELECT ROUND(CAST(SUM(na * nb) AS DOUBLE) / 0.2, 6) AS estimated_rows,
           CAST(COUNT(*) AS BIGINT) AS sampled_keys,
           CAST(MAX(na * nb) AS BIGINT) AS max_key_pairs
    FROM la JOIN lb USING (k)
    """,
)
def q107_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join pricing: the orders⋈events customer-key join is
    estimated from a 20% deterministic sample of the KEY SPACE (row
    sampling would underestimate pair counts quadratically; the same
    hash predicate keeps both sides of a key together, so the estimate
    is unbiased at 1/fraction).  The md5 draw and the 0x33333333
    threshold are reproduced literally in the oracle."""
    from magi_etl_spark.operators.cardinality import estimate_frame

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    e = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    est = estimate_frame(o, e, ["k"], fraction=0.2, seed="joinest")
    return est.select(
        F.round("estimated_rows", 6).alias("estimated_rows"),
        F.col("sampled_keys").cast("long").alias("sampled_keys"),
        F.col("max_key_pairs").cast("long").alias("max_key_pairs"),
    )


# --- formerly rows-only entries, hash-oracled in r6 -------------------------
#
# r5 VERDICT item 6: both gates were rows-only ("no single-pass SQL
# equivalent") — but DuckDB recursive CTEs express min-label reachability
# exactly (component = MIN id reachable, the connected_components
# contract), and the PQ path becomes SQL-expressible once the codebook
# init is the hash-ordered sample head (the same trade
# ivf_index_sampled(init="hash") already made for q86).

# Shared with the q86 oracle: hash-init IVF assignment at seed=7,
# n_lists=8 — smallest md5('s7'||id) rows are the centroids, every vector
# goes to its (squared-L2, list_id)-argmin list.
_Q104_D2 = (
    "list_sum(list_transform(range(1, len({v}) + 1),"
    " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
)
_Q104_COS = (
    "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))"
    " / (a.norm * b.norm)"
)

_Q104_ORACLE = f"""
WITH RECURSIVE
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
               AS norm
    FROM embeddings
),
cent AS (
    SELECT CAST(row_number() OVER (
               ORDER BY md5('s7' || CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS INTEGER) AS list_id,
           v AS c
    FROM (SELECT vec_id, v FROM e
          ORDER BY md5('s7' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
),
assigned AS (
    SELECT vec_id, v, norm, list_id FROM (
        SELECT e.vec_id, e.v, e.norm, cent.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   {_Q104_D2.format(v="e.v", c="cent.c")} ASC,
                   cent.list_id ASC) AS rn
        FROM e, cent
    ) WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM assigned a JOIN assigned b
      ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    WHERE {_Q104_COS} >= 0.99
),
edges AS (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION ALL
    SELECT id_b AS s, id_a AS d FROM pairs
),
verts AS (SELECT DISTINCT s AS x FROM edges),
reach(x, lbl) AS (
    SELECT x, x FROM verts
    UNION
    SELECT edges.d, reach.lbl FROM reach JOIN edges ON edges.s = reach.x
),
comp AS (SELECT x, MIN(lbl) AS rep FROM reach GROUP BY x)
SELECT a.vec_id,
       CAST(a.list_id AS BIGINT) AS list_id,
       COALESCE(c.rep, a.vec_id) AS rep_id,
       COALESCE(c.rep, a.vec_id) = a.vec_id AS kept
FROM assigned a LEFT JOIN comp c ON c.x = a.vec_id
"""


@query("q104_semantic_dedup", oracle=_Q104_ORACLE)
def q104_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup kept-set over the embeddings corpus (hash-init IVF,
    threshold 0.99).  Hash-oracled in r6 (r5 VERDICT item 6): the
    iterative min-label propagation's FIXPOINT is SQL-expressible even
    though the iteration isn't — component(v) = MIN vertex id reachable
    from v, which a DuckDB recursive reachability CTE computes directly;
    the IVF assignment and within-list cosine pairs reuse the q86/q44
    oracle idioms verbatim.  Exact representative invariants remain in
    tests/test_semantic_dedup.py."""
    from magi_etl_spark.operators.similarity import semantic_dedup

    em = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(em, threshold=0.99, n_lists=8, init="hash", seed=7)
    return out.select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        "rep_id",
        "kept",
    )


def _q106_oracle(m: int = 16, k: int = 16, rerank: int = 40, topk: int = 10) -> str:
    """PQ train(hash-init)→encode→ADC→exact-refine, reproduced literally:
    the codebook is the first ``k`` hash-ordered sample rows per subspace,
    so every stage is relational.  Float parity notes: every multi-term
    sum is a ``list_sum`` over a list in the SAME order Spark folds
    (subspace index / element index ascending) — the ADC total uses
    ``list(dist ORDER BY sub_j)`` rather than SUM() so accumulation order
    matches the zip_with fold."""
    sub_expr = "CAST(j.j AS INTEGER)"
    d2_enc = (
        "list_sum(list_transform(range(1, 5),"
        " t -> (e.v[b.sub_j * 4 + t] - b.c[t]) * (e.v[b.sub_j * 4 + t] - b.c[t])))"
    )
    d2_tab = (
        "list_sum(list_transform(range(1, 5),"
        " t -> (q.qv[b.sub_j * 4 + t] - b.c[t]) * (q.qv[b.sub_j * 4 + t] - b.c[t])))"
    )
    d2_exact = (
        "list_sum(list_transform(range(1, len(f.v) + 1),"
        " i -> (f.v[i] - q.qv[i]) * (f.v[i] - q.qv[i])))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    samp AS (
        SELECT v, row_number() OVER (
                   ORDER BY md5('pq7' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM e
    ),
    books AS (
        SELECT CAST(samp.rn - 1 AS INTEGER) AS code, {sub_expr} AS sub_j,
               list_transform(range(1, 5), t -> samp.v[j.j * 4 + t]) AS c
        FROM samp, (SELECT unnest(range(0, {m})) AS j) j
        WHERE samp.rn <= {k}
    ),
    enc AS (
        SELECT vec_id, sub_j, code FROM (
            SELECT e.vec_id, b.sub_j, b.code,
                   row_number() OVER (PARTITION BY e.vec_id, b.sub_j
                       ORDER BY {d2_enc} ASC, b.code ASC) AS r
            FROM e, books b
        ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    tabs AS (
        SELECT q.query_id, b.sub_j, b.code, {d2_tab} AS dist
        FROM q, books b
    ),
    adc AS (
        SELECT t.query_id, enc.vec_id,
               list_sum(list(t.dist ORDER BY t.sub_j)) AS adc_d2
        FROM enc JOIN tabs t ON t.sub_j = enc.sub_j AND t.code = enc.code
        WHERE enc.vec_id <> t.query_id
        GROUP BY t.query_id, enc.vec_id
    ),
    cands AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_d2 ASC, vec_id ASC) AS rn
            FROM adc
        ) WHERE rn <= {rerank}
    ),
    exact AS (
        SELECT c.query_id, c.vec_id, {d2_exact} AS d2
        FROM cands c
        JOIN e f ON f.vec_id = c.vec_id
        JOIN q ON q.query_id = c.query_id
    )
    SELECT query_id, vec_id, ROUND(d2, 6) AS d2, rn FROM (
        SELECT query_id, vec_id, d2,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY d2 ASC, vec_id ASC) AS INTEGER) AS rn
        FROM exact
    ) WHERE rn <= {topk}
    """


@query("q106_pq_refine_topk", oracle=_q106_oracle())
def q106_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN with exact refine for query vectors 0-2.
    Hash-oracled in r6 (r5 VERDICT item 6): with ``init="hash"`` +
    ``iterations=0`` the codebook is the hash-ordered sample head — a
    pure relational selection — so train, per-subspace argmin encode,
    ADC table scoring, and the exact refine are all reproduced in the
    DuckDB oracle.  The Lloyd-trained variant keeps its recall bar vs
    the exact scan in tests/test_pq.py."""
    from magi_etl_spark.operators.pq import pq_encode, pq_topk_rerank, pq_train

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train(em, m=16, k=16, seed=7, init="hash", iterations=0)
    enc = pq_encode(em, books)
    q = em.where(F.col("vec_id") < 3)
    return pq_topk_rerank(enc, books, q, em, k=10, rerank=40)


@query(
    "q108_group_sample_n",
    oracle="""
    WITH r AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY substr(md5(concat('grpsample|',
                                              CAST(event_id AS VARCHAR))), 1, 8),
                            event_id) AS rn
        FROM events
    )
    SELECT event_id, event_type, value_cents FROM r WHERE rn <= 50
    """,
)
def q108_group_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 events per event type, drawn in deterministic hash
    order — per-group reservoir sampling without randomness state, so
    the oracle reproduces the SAMPLE itself (same md5 draw), not just
    its size.  One window shuffle on the (5-value) group key."""
    from magi_etl_spark.operators.sampling import sample_n_per_group

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    return sample_n_per_group(e, ["event_type"], "event_id", n=50)


@query(
    "q109_unigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM vocab)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln((v.c + 0.5) / (x.n_total + 0.5 * x.v_size))), 6)
               AS mean_logprob
    FROM toks t JOIN vocab v USING (tok), tot x
    GROUP BY t.doc_id
    """,
)
def q109_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score per document (the
    KenLM-perplexity filter proxy): smoothed token log-probabilities
    averaged per document, with the vocabulary built from the same
    corpus in the same pass.  Every stage keyed; the only broadcast is
    the 1-row (N, |V|) totals frame."""
    from magi_etl_spark.operators.text import unigram_logprob_scores

    d = load_table(spark, sf_dir, "documents")
    out = unigram_logprob_scores(d, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_logprob", 6).alias("mean_logprob"),
    )


@query(
    "q110_versioned_table",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY 1
    """,
)
def q110_versioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-table lifecycle end to end: an initial commit of
    the even-user half of events, an append of the odd half (txn-id
    recorded), then an OPTIMIZE z-order rewrite — and the current
    version must aggregate exactly like the source table, proving that
    three generations of layout changes never touched the contents.
    The commit log is asserted in-query (write → append → optimize)."""
    from magi_etl_spark.operators.versioned import (
        append_version,
        history,
        optimize_versioned,
        read_version,
        write_version,
    )

    root = tempfile.mkdtemp(prefix="magi_vt_")
    table = os.path.join(root, "events_v")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    write_version(e.where(F.col("user_id") % 2 == 0), table)
    append_version(e.where(F.col("user_id") % 2 == 1), table, txn_id="b1")
    optimize_versioned(spark, table, ["user_id"], n_files=4)
    assert [h["op"] for h in history(table)] == ["write", "append", "optimize"]
    cur = read_version(spark, table)
    return cur.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@query(
    "q111_tfidf_keywords",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf,
               t.tf * (ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0) AS score
        FROM tf t JOIN dfreq d USING (term), n
    ),
    ranked AS (
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
               ROUND(score, 6) AS score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tf, score, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def q111_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (scikit-learn's ln((1+N)/(1+df))+1 convention) — explode, two keyed
    aggregates, a term-keyed join back, one per-document top-k window;
    rank ties break (score desc, term asc) identically in both
    engines because equal (tf, df) pairs produce bit-identical doubles
    within each engine."""
    from magi_etl_spark.operators.ranking import tfidf_keywords

    d = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(d, k=5)


@query(
    "q112_semantic_decontaminate",
    oracle="""
    WITH bench AS (
        SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS b
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    scored AS (
        SELECT e.vec_id, bench.bench_id,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), bench.b)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(bench.b, bench.b))), 6)
                   AS score
        FROM embeddings e, bench
    ),
    flagged AS (SELECT DISTINCT vec_id FROM scored WHERE score >= 0.999)
    SELECT e.vec_id FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.vec_id = e.vec_id)
    """,
)
def q112_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every 50th vector plays the
    benchmark set (which contaminates at least itself — cosine 1.0), and
    the output is the corpus minus everything at cosine >= 0.999 to any
    benchmark item — the paraphrase-leak filter n-gram containment
    can't see.  Broadcast bench side, linear corpus scan, anti join."""
    from magi_etl_spark.operators.decontaminate import embedding_decontaminate

    em = load_table(spark, sf_dir, "embeddings")
    bench = em.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    return embedding_decontaminate(em, bench, threshold=0.999).select("vec_id")


@query(
    "q113_corpus_curation",
    oracle=r"""
    WITH RECURSIVE docs0 AS (
        SELECT doc_id,
               trim(regexp_replace(lower(
                   regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g')),
                   '\s+', ' ', 'g')) AS text
        FROM documents
    ),
    docs1 AS (SELECT * FROM docs0 WHERE text <> ''),
    tq AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS t
        FROM docs1
    ),
    q AS (
        SELECT doc_id, text FROM tq
        WHERE len(t) >= 5
          AND round(LEAST(len(t) / 50.0, 1.0) * 0.4
                    + LEAST(len(list_filter(t,
                          x -> x IN ('the','a','of','and','to','in')))
                          / len(t) * 5.0, 1.0) * 0.3
                    + len(list_distinct(t)) / len(t) * 0.3, 6) >= 0.3
    ),
    ex AS (
        SELECT q.doc_id, q.text FROM q
        JOIN (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
              FROM q GROUP BY 1) w
          ON md5(q.text) = w.h AND q.doc_id = w.doc_id
    ),
    t2 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS toks
        FROM ex
    ),
    s AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                   THEN list_transform(range(1, len(toks) - 1),
                        i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM t2
    ),
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
    verified AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.sh, sb.sh)) AS n_inter,
               len(sa.sh) AS n_a, len(sb.sh) AS n_b
        FROM cand c
        JOIN sig sa ON c.doc_a = sa.doc_id
        JOIN sig sb ON c.doc_b = sb.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM verified
        WHERE n_inter / (n_a + n_b - n_inter) >= 0.5
    ),
    sym AS (
        SELECT doc_a AS v, doc_b AS n FROM pairs
        UNION ALL
        SELECT doc_b AS v, doc_a AS n FROM pairs
    ),
    walk AS (
        SELECT v, n AS reach FROM sym
        UNION
        SELECT w.v, s2.n FROM walk w JOIN sym s2 ON w.reach = s2.v
    ),
    comp AS (
        SELECT v AS doc_id, LEAST(v, MIN(reach)) AS component
        FROM walk GROUP BY v
    ),
    clean AS (
        SELECT e.doc_id FROM ex e
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.doc_id = e.doc_id
                            AND c.doc_id <> c.component)
    )
    SELECT doc_id,
           CASE WHEN u < 'e6666666' THEN 'train'
                WHEN u < 'f3333333' THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 substr(md5(concat('curate|', CAST(doc_id AS VARCHAR))), 1, 8)
                     AS u
          FROM clean) c
    """,
)
def q113_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end curation DAG over the corpus —
    normalization, quality floor (>=5 tokens, score >= 0.3), exact
    dedup, MinHash-LSH near-dedup collapsed via connected components,
    deterministic 90/5/5 split — verified STAGE FOR STAGE against one
    recursive-CTE oracle assembled from the per-operator oracle shapes
    (q65 normalize, q21/q94 quality, q23 exact, q25 LSH, q59
    components, q84 split)."""
    from magi_etl_spark.pipelines.curation import curate_corpus

    d = load_table(spark, sf_dir, "documents")
    curated, _report = curate_corpus(
        d,
        min_tokens=5,
        min_quality=0.3,
        near_dup_threshold=0.5,
        splits={"train": 0.9, "val": 0.05, "test": 0.05},
        seed="curate",
    )
    return curated.select("doc_id", "split")


# --- r5 additions: the persistent-index family + PageRank get their
# side-effect-safe gate shapes (r4 VERDICT items 4 and 5).  The q110
# versioned-table pattern is the template: all side effects land in a
# fresh tempdir created INSIDE the query function, so the gate query is
# rerunnable and the oracle sees only the returned DataFrame.

# Distinct word-3-gram shingle sets — same CTE the q24/q25 oracles use
# (magi_etl_spark/queries/dedup.py), repeated here because oracle
# strings are self-contained SQL.
_SHINGLES = r"""
    t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')
                     AS toks
          FROM documents),
    s AS (SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3
                      THEN list_transform(range(1, len(toks) - 1),
                           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                      ELSE CAST([] AS VARCHAR[]) END) AS sh
          FROM t)
"""


@query(
    "q114_incremental_lsh_index",
    oracle=f"""
    WITH {_SHINGLES},
    sig AS (
        SELECT doc_id,
               list_min(list_transform(sh, x -> md5(concat('0|', x)))) AS m0,
               list_min(list_transform(sh, x -> md5(concat('1|', x)))) AS m1,
               list_min(list_transform(sh, x -> md5(concat('2|', x)))) AS m2,
               list_min(list_transform(sh, x -> md5(concat('3|', x)))) AS m3
        FROM s WHERE len(sh) > 0
    ),
    flagged AS (SELECT *, (doc_id % 10 = 0) AS is_new FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM flagged a JOIN flagged b
          ON a.doc_id < b.doc_id
         AND (concat(a.m0, '|', a.m1) = concat(b.m0, '|', b.m1)
              OR concat(a.m2, '|', a.m3) = concat(b.m2, '|', b.m3))
         AND (a.is_new OR b.is_new)
    )
    SELECT c.doc_a, c.doc_b,
           ROUND((CAST(sa.m0 = sb.m0 AS INTEGER) + CAST(sa.m1 = sb.m1 AS INTEGER)
                + CAST(sa.m2 = sb.m2 AS INTEGER) + CAST(sa.m3 = sb.m3 AS INTEGER))
                / 4.0, 6) AS est_jaccard
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.doc_id
    JOIN sig sb ON c.doc_b = sb.doc_id
    """,
)
def q114_incremental_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent incremental MinHash-LSH index, gate-shaped: the
    corpus history (doc_id % 10 != 0) is signed ONCE into an on-disk
    index, then the increment (doc_id % 10 == 0) is signed alone and
    band-joined against the index — only pairs touching a new document
    come back, with the standard MinHash similarity estimate
    (fraction of agreeing signature hashes).  The oracle recomputes the
    same signatures, bands, and new-touching filter from scratch in
    SQL, so a green row certifies the whole persist → load → increment
    path, not just the math.  Old↔old pairs are excluded by
    construction — they were reported when their documents arrived."""
    from magi_etl_spark.operators.lsh_index import (
        build_lsh_index,
        incremental_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    hist = d.where(F.col("doc_id") % 10 != 0)
    inc = d.where(F.col("doc_id") % 10 == 0)
    root = tempfile.mkdtemp(prefix="magi_lshidx_")
    path = os.path.join(root, "lsh")
    build_lsh_index(hist, path, n=3, n_hashes=4)
    return incremental_lsh_pairs(inc, path, n=3, n_hashes=4, band_size=2)


@query(
    "q115_incremental_ivf_index",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS list_id,
               v AS c
        FROM (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0
              ORDER BY vec_id LIMIT 8)
    ),
    assigned AS (
        SELECT vec_id, v, list_id FROM (
            SELECT e.vec_id, e.v, cent.list_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(e.v) + 1),
                           i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))) ASC,
                       cent.list_id ASC) AS rn
            FROM e, cent
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    probes AS (
        SELECT query_id, qv, list_id FROM (
            SELECT q.query_id, q.qv, cent.list_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                       list_sum(list_transform(range(1, len(q.qv) + 1),
                           i -> (q.qv[i] - cent.c[i]) * (q.qv[i] - cent.c[i]))) ASC,
                       cent.list_id ASC) AS pr
            FROM q, cent
        ) WHERE pr <= 2
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, a.v AS av, p.qv AS bv
        FROM assigned a JOIN probes p
          ON a.list_id = p.list_id AND a.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id,
               list_sum(list_transform(range(1, len(av) + 1), i -> av[i] * bv[i]))
               / (sqrt(list_sum(list_transform(av, x -> x * x)))
                  * sqrt(list_sum(list_transform(bv, x -> x * x)))) AS s,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY
                    list_sum(list_transform(range(1, len(av) + 1), i -> av[i] * bv[i]))
                    / (sqrt(list_sum(list_transform(av, x -> x * x)))
                       * sqrt(list_sum(list_transform(bv, x -> x * x)))) DESC,
                    vec_id) AS INTEGER) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, ROUND(s, 6) AS score, rn
    FROM ranked WHERE rn <= 10
    """,
)
def q115_incremental_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent incremental IVF index, gate-shaped: the history
    (vec_id % 10 != 0) builds a deterministic sampled-centroid index
    persisted PARTITIONED BY list_id, the increment (vec_id % 10 == 0)
    is assigned to the EXISTING centroids and appended into the same
    layout, and the probe runs over the RELOADED index.  The oracle
    recomputes centroids (history-only), assigns the FULL corpus, and
    probes 2 of 8 lists from scratch — a green row certifies that build
    + append + reload reconstruct exactly the assignment the math
    demands.  The file-level pruning contract is asserted in-query: a
    probe plan over two lists must carry the list_id PartitionFilters
    (directories outside the probe are never opened)."""
    from magi_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        load_ivf_index,
        probe_plan,
        save_ivf_index,
    )
    from magi_etl_spark.operators.similarity import ivf_index_sampled, ivf_topk

    em = load_table(spark, sf_dir, "embeddings")
    hist = em.where(F.col("vec_id") % 10 != 0)
    inc = em.where(F.col("vec_id") % 10 == 0)
    root = tempfile.mkdtemp(prefix="magi_ivfidx_")
    path = os.path.join(root, "ivf")
    assigned, centroids = ivf_index_sampled(hist, n_lists=8, init="first")
    save_ivf_index(assigned, centroids, path)
    n_appended = append_to_ivf_index(inc, path)
    assert n_appended > 0
    plan = probe_plan(spark, path, [0, 1])
    assert "PartitionFilters" in plan and "list_id" in plan
    loaded, cents = load_ivf_index(spark, path)
    return ivf_topk(loaded, cents, em.where(F.col("vec_id") < 3), k=10, n_probe=2)


def _pagerank_oracle(iterations: int, damping: float) -> str:
    """Unrolled power-iteration SQL: one (dangling-mass, contribution,
    rank) CTE triple per iteration — recursive CTEs cannot aggregate
    over their own reference, so the loop is unrolled instead.  Exactly
    mirrors operators/graph.py: uniform init over src∪dst vertices,
    per-edge contribution rank/out-degree with parallel-edge
    multiplicity, dangling mass redistributed uniformly."""
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
    nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    r0 AS MATERIALIZED (SELECT v, 1.0 / nv.n AS rank FROM vertices CROSS JOIN nv)"""
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
        SELECT vert.v,
               (1.0 - {damping!r}) / nv.n
               + {damping!r} * (COALESCE(c.contrib, 0.0) + d{i}.mass / nv.n)
                   AS rank
        FROM vertices vert
        LEFT JOIN c{i} c ON vert.v = c.v
        CROSS JOIN nv CROSS JOIN d{i}
    )"""
        )
        prev = f"r{i}"
    return (
        head
        + ","
        + ",".join(blocks)
        + f"""
    SELECT v AS vertex, ROUND(rank, 6) AS rank FROM {prev}
    """
    )


@query("q116_pagerank", oracle=_pagerank_oracle(10, 0.85))
def q116_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph (an edge per
    lineitem through its order; suppliers are offset into their own id
    space and have no out-edges, so the dangling-mass redistribution
    path is exercised on every iteration).  10 damped power iterations;
    the oracle unrolls the identical iteration as chained SQL CTEs, so
    a green row certifies the distributed loop — including the r5
    rework that folds the dangling mass into the lazy plan (one job per
    iteration) — against an independent scalar implementation.  Rank
    deviations from summation order are ~1e-15, six orders inside the
    6-dp grid."""
    from magi_etl_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    out = pagerank(edges, iterations=10, damping=0.85)
    return out.select("vertex", F.round("rank", 6).alias("rank"))
