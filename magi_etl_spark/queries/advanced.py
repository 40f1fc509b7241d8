"""Advanced operator inventory: sketches (SimHash, SRP-LSH), semi-
structured parsing, calendar functions, vector stats, OLAP extensions
(rollup/pivot), sparse-cosine recommendations, and a composed
quality->dedup corpus pipeline.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table

_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"
_H_SQL = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"

SIMHASH_BITS = 16


@query(
    "q32_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, t -> {_H_SQL}) AS hs
          FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST((
    {" + ".join(f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {b}) & 1 = 1)) > len(hs) THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS))}
           ) AS BIGINT) AS simhash
    FROM h
    """,
)
def q32_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document sketch: per bit, majority vote over the md5-derived
    token hashes; near-dup docs land at small Hamming distance.  Pure
    bit-arithmetic Column expressions — portable to the oracle engine."""
    from magi_etl_spark.functions.text import md5_long, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens(F.col("text")))
    base = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.transform(F.col("toks"), md5_long).alias("hs"),
        )
        .transform(materialize, eager=False)  # interpreted HOFs: hash once
    )
    ones = lambda b: F.size(  # noqa: E731
        F.filter(F.col("hs"), lambda x: x.bitwiseAND(F.lit(1 << b)) != 0)
    )
    bit = lambda b: F.when(2 * ones(b) > F.size("hs"), F.lit(1 << b)).otherwise(0)  # noqa: E731
    simhash = bit(0)
    for b in range(1, SIMHASH_BITS):
        simhash = simhash + bit(b)
    return base.select("doc_id", simhash.cast("long").alias("simhash"))


@query(
    "q43_simhash_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, t -> {_H_SQL}) AS hs
          FROM t WHERE len(toks) > 0),
    s AS (
        SELECT doc_id,
               CAST((
    {" + ".join(f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {b}) & 1 = 1)) > len(hs) THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS))}
               ) AS BIGINT) AS simhash
        FROM h
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
)
def q43_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming distance over the 16-bit
    sketches (bit_count of xor).  At corpus scale the pair generation is
    banded (join on sketch bytes) instead of this exact all-pairs form;
    the sketch comparison itself is identical."""
    sigs = materialize(q32_simhash(spark, sf_dir), eager=False)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .where(hamming <= 1)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


@query(
    "q33_kv_parse",
    oracle="""
    WITH kv AS (
        SELECT doc_id,
               concat('{{confidence=0.', CAST(doc_id % 10 AS VARCHAR),
                      ', value=', lang, '}}') AS cell
        FROM documents
    )
    SELECT doc_id,
           CAST(json_extract_string(
               regexp_replace(
                   regexp_replace(replace(replace(cell, '{{', '{'), '}}', '}'),
                                  '([a-zA-Z_]+)=', '"\\1":', 'g'),
                   ':([a-zA-Z][a-zA-Z0-9_]*)', ':"\\1"', 'g'),
               '$.confidence') AS DOUBLE) AS confidence,
           json_extract_string(
               regexp_replace(
                   regexp_replace(replace(replace(cell, '{{', '{'), '}}', '}'),
                                  '([a-zA-Z_]+)=', '"\\1":', 'g'),
                   ':([a-zA-Z][a-zA-Z0-9_]*)', ':"\\1"', 'g'),
               '$.value') AS value
    FROM kv
    """,
)
def q33_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``{k=v, ...}`` cell parsing (reference ``taxonomy_field_to_dict_list``,
    ``dash_app/tasks.py:290-313``): regex-normalize the pseudo-dict to JSON,
    then schema'd extraction — no Python parsing in the row path.  The
    ``{{...}}`` cells are synthesized from table columns so the oracle sees
    identical input."""
    d = load_table(spark, sf_dir, "documents")
    cell = F.concat(
        F.lit("{{confidence=0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(", value="),
        F.col("lang"),
        F.lit("}}"),
    )
    normalized = F.regexp_replace(
        F.regexp_replace(
            F.replace(F.replace(cell, F.lit("{{"), F.lit("{")), F.lit("}}"), F.lit("}")),
            r"([a-zA-Z_]+)=",
            '"$1":',
        ),
        r":([a-zA-Z][a-zA-Z0-9_]*)",
        ':"$1"',
    )
    return d.select(
        "doc_id",
        F.get_json_object(normalized, "$.confidence").cast("double").alias("confidence"),
        F.get_json_object(normalized, "$.value").alias("value"),
    )


@query(
    "q34_date_functions",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_items,
           AVG(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)))
               AS avg_ship_days,
           MIN(CAST(last_day(o.o_orderdate) AS DATE)) AS month_last_day
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY order_month
    """,
)
def q34_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar function pack: trunc/last_day/datediff (reference §2.8
    date functions incl. AnchorCalendar derivations, ``biutils.py:467-483``)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.avg(F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))).alias(
                "avg_ship_days"
            ),
            F.min(F.last_day("o_orderdate")).alias("month_last_day"),
        )
    )


@query(
    "q35_vector_stats",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm,
           ROUND(list_sum(v) / len(v), 6) AS mean_val,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive
    FROM e
    """,
)
def q35_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats via higher-order functions (array math parity pack
    for the embedding column)."""
    from magi_etl_spark.functions.vectors import as_double, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    base = e.select("vec_id", v.alias("v"))
    total = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x)
    return base.select(
        "vec_id",
        F.round(l2_norm(F.col("v")), 6).alias("l2_norm"),
        F.round(total / F.size("v"), 6).alias("mean_val"),
        F.size(F.filter(F.col("v"), lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "q36_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q36_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (capability extension the reference lacks —
    SURVEY.md A12 — free on Spark)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "q37_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase
    FROM events GROUP BY day
    """,
)
def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide per-category counts (the dynamic-metric wide layout
    the reference assembles by hand, A10)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
        .na.fill(0, ["click", "view", "purchase"])
    )


@query(
    "q82_grouping_sets",
    oracle="""
    SELECT event_type,
           CAST(isodow(ts) - 1 AS BIGINT) AS dow,
           CAST(GROUPING(event_type) * 2 + GROUPING(isodow(ts) - 1) AS BIGINT)
               AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    GROUP BY GROUPING SETS ((event_type, isodow(ts) - 1), (event_type),
                            (isodow(ts) - 1), ())
    """,
)
def q82_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: the detail grain plus both one-dimension margins
    plus the grand total in ONE pass over the fact table (A12 capability
    extension alongside q36 ROLLUP / q37 pivot).  ``GROUPING()`` bits
    disambiguate "aggregated-away" NULLs from data NULLs — required for
    a correct hash-compare because ``dow`` is genuinely nullable here.
    Spark expands the sets into a single Expand + aggregate, so the fact
    scans once regardless of how many margins are requested."""
    e = load_table(spark, sf_dir, "events")
    # weekday(): Monday=0..Sunday=6, matching DuckDB's isodow()-1 (Spark
    # dayofweek() counts Sunday=1..7 — an engine-portability trap)
    return spark.sql(
        """
        SELECT event_type,
               CAST(weekday(ts) AS BIGINT) AS dow,
               CAST(GROUPING(event_type) * 2 + GROUPING(weekday(ts))
                    AS BIGINT) AS gid,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS users
        FROM {e}
        GROUP BY GROUPING SETS ((event_type, weekday(ts)), (event_type),
                                (weekday(ts)), ())
        """,
        e=e,
    ).select(
        "event_type",
        "dow",
        "gid",
        F.col("n").cast("long").alias("n"),
        F.col("users").cast("long").alias("users"),
    )


def _srp_planes(n_planes: int = 4, dim: int = 64, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)]


@query(
    "q38_srp_lsh_buckets",
    oracle=None,  # filled below (needs the generated plane literals)
)
def q38_srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucketing — the ANN scale path: bucket
    id = sign bits of fixed random planes; neighbors collide.  Output is
    bucket occupancy."""
    from magi_etl_spark.operators.similarity import srp_lsh_buckets

    e = load_table(spark, sf_dir, "embeddings")
    buckets = srp_lsh_buckets(e, seed_planes=_srp_planes())
    return buckets.groupBy("bucket").agg(F.count("*").alias("n_vectors"))


def _srp_oracle() -> str:
    planes = _srp_planes()
    bits = []
    for p in planes:
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(
            "(CASE WHEN list_sum(list_transform(range(1, len(v) + 1),"
            f" i -> v[i] * ({arr})[i])) >= 0 THEN '1' ELSE '0' END)"
        )
    expr = " || ".join(bits)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT {expr} AS bucket, COUNT(*) AS n_vectors
    FROM e GROUP BY bucket
    """


from magi_etl_spark.queries import ORACLE  # noqa: E402

ORACLE["q38_srp_lsh_buckets"] = _srp_oracle()


@query(
    "q39_token_cosine_pairs",
    oracle=r"""
    WITH t AS (SELECT doc_id, list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS toks
               FROM documents),
    feats0 AS (
        SELECT doc_id AS id, unnest(toks) AS feature,
               1.0 / sqrt(len(toks)) AS value
        FROM t WHERE len(toks) > 0
    ),
    nd AS (SELECT COUNT(DISTINCT id) AS n FROM feats0),
    rare AS (
        SELECT feature FROM feats0, nd
        GROUP BY feature, nd.n HAVING COUNT(*) <= 0.76 * nd.n
    ),
    feats AS (SELECT f.id, f.feature, f.value
              FROM feats0 f JOIN rare r ON f.feature = r.feature),
    norms AS (SELECT id, sqrt(sum(value * value)) AS norm FROM feats GROUP BY id),
    dots AS (
        SELECT a.id AS id_a, b.id AS id_b, sum(a.value * b.value) AS dot
        FROM feats a JOIN feats b ON a.feature = b.feature AND a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT d.id_a, d.id_b,
           ROUND(d.dot / (na.norm * nb.norm), 6) AS similarity
    FROM dots d
    JOIN norms na ON d.id_a = na.id
    JOIN norms nb ON d.id_b = nb.id
    WHERE d.dot / (na.norm * nb.norm) >= 0.9
    """,
)
def q39_token_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity over token features WITH stop-word pruning
    — the 100TB-safe registration.  Features occurring in more than 76%
    of documents are dropped before the feature-keyed self-join (the
    join's intermediate is Σ df², so popular features are the quadratic
    term); norms are recomputed over the kept features, so the result is
    exact cosine in the pruned subspace (classic stop-word removal — the
    per-doc 1/sqrt(|toks|) weights cancel).  The unpruned small-N parity
    form is q51."""
    from magi_etl_spark.functions.text import tokens
    from magi_etl_spark.operators.recommend import cosine_similarity_pairs

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens(F.col("text")))
    feats = (
        d.select(F.col("doc_id").alias("id"), toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "id",
            F.explode("toks").alias("feature"),
            (F.lit(1.0) / F.sqrt(F.size("toks"))).alias("value"),
        )
        .transform(materialize, eager=False)
    )
    return cosine_similarity_pairs(
        feats, min_similarity=0.9, max_feature_doc_freq=0.76
    ).select("id_a", "id_b", F.round("similarity", 6).alias("similarity"))


@query(
    "q51_exact_token_cosine_pairs",
    oracle=r"""
    WITH t AS (SELECT doc_id, list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS toks
               FROM documents),
    feats AS (
        SELECT doc_id AS id, unnest(toks) AS feature,
               1.0 / sqrt(len(toks)) AS value
        FROM t WHERE len(toks) > 0
    ),
    dots AS (
        SELECT a.id AS id_a, b.id AS id_b, sum(a.value * b.value) AS dot
        FROM feats a JOIN feats b ON a.feature = b.feature AND a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(dot, 6) AS similarity
    FROM dots WHERE dot >= 0.9
    """,
)
def q51_exact_token_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT (unpruned) sparse token cosine — small-N parity form only.
    With binary token features the row L2 norm is sqrt(|tokens|), so
    value = 1/sqrt(n) and cosine = plain dot.  The unpruned feature
    self-join is quadratic in posting-list length; use q39 (pruned)
    at scale."""
    from magi_etl_spark.functions.text import tokens
    from magi_etl_spark.operators.recommend import cosine_similarity_pairs

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens(F.col("text")))
    feats = (
        d.select(F.col("doc_id").alias("id"), toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "id",
            F.explode("toks").alias("feature"),
            (F.lit(1.0) / F.sqrt(F.size("toks"))).alias("value"),
        )
        .transform(materialize, eager=False)
    )
    return cosine_similarity_pairs(feats, min_similarity=0.9).select(
        "id_a", "id_b", F.round("similarity", 6).alias("similarity")
    )


@query(
    "q42_window_benchmark",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(DISTINCT user_id) AS users
        FROM events GROUP BY day, event_type
    )
    SELECT day, event_type, users,
           ROUND(AVG(users) OVER (
               PARTITION BY event_type, dayofweek(day)
               ORDER BY day
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 6) AS benchmark_users
    FROM daily
    """,
)
def q42_window_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-weekday rolling benchmark as a frame-spec window — the
    Spark-native form of the reference's 4-week comparison join (SURVEY.md
    W3: ``avg(users) over (partition by wiki, dow order by date
    rowsBetween(-4,-1))``; the join form lives in pipelines/trending.py
    for oracle parity)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.countDistinct("user_id").alias("users"))
    w = (
        W.partitionBy("event_type", F.dayofweek("day"))
        .orderBy("day")
        .rowsBetween(-4, -1)
    )
    return daily.select(
        "day", "event_type", "users",
        F.round(F.avg("users").over(w), 6).alias("benchmark_users"),
    )


@query(
    "q40_corpus_pipeline",
    oracle=r"""
    WITH t AS (SELECT doc_id, lang, text,
                      list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    quality AS (
        SELECT doc_id, lang, text FROM t
        WHERE len(toks) >= 30
          AND len(list_distinct(toks)) / len(toks) >= 0.3
    ),
    kept AS (
        SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    )
    SELECT q.lang, COUNT(*) AS docs_kept
    FROM quality q JOIN kept k ON q.doc_id = k.doc_id
    GROUP BY q.lang
    """,
)
def q40_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-corpus pipeline: quality gate (length + lexical
    diversity) -> exact dedup by content hash keeping the min id -> per-
    language corpus counts.  The canonical filter->dedup->stat flow."""
    from magi_etl_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    quality = d.select("doc_id", "lang", "text", toks.alias("toks")).where(
        (F.size("toks") >= 30)
        & ((F.size(F.array_distinct("toks")) / F.size("toks")) >= 0.3)
    )
    kept = quality.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    return (
        quality.join(kept, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count("*").alias("docs_kept"))
    )


@query(
    "q60_quantize_embeddings",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127 AS scale
          FROM e),
    q AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> CAST(GREATEST(-127, LEAST(127,
                     ROUND(x / scale))) AS INTEGER)) AS codes
          FROM s WHERE scale > 0)
    SELECT vec_id,
           CAST(len(codes) AS INTEGER) AS n_dims,
           ROUND(scale, 6) AS scale_r,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           CAST(list_min(codes) AS INTEGER) AS q_min,
           CAST(list_max(codes) AS INTEGER) AS q_max,
           ROUND(list_max(list_transform(range(1, len(codes) + 1),
                 i -> abs(v[i] - codes[i] * scale))), 6) AS max_abs_err
    FROM q
    """,
)
def q60_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus: per-vector
    scale, integer code checksums (hash-exact across engines), and the
    max reconstruction error.  Pure array Columns, zero shuffles; the
    integer q_sum/q_min/q_max verify the actual codes, not just sizes."""
    from magi_etl_spark.operators.quantize import (
        quantize_embeddings,
        reconstruction_error,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e)
    q = reconstruction_error(q).where(F.col("scale") > 0)
    code_sum = F.aggregate(
        F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + c.cast("long")
    )
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.round("scale", 6).alias("scale_r"),
        code_sum.alias("q_sum"),
        F.array_min("codes").alias("q_min"),
        F.array_max("codes").alias("q_max"),
        F.round("max_abs_err", 6).alias("max_abs_err"),
    )
