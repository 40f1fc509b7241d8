"""The hashing trick (feature hashing, Weinberger et al. ICML'09):
project an unbounded token vocabulary into a fixed ``n_buckets``-dim
feature space with a signed hash — the representation behind
fastText-style linear classifiers and the seed-quality filters of
CCNet-family curation (cf. operators/classifier.py, which learns on
explicit token features; hashing makes the feature space O(1) memory at
any corpus size, which is the 100 TB point).

Bucket and sign are md5-derived (the repo-wide derandomization idiom):
``bucket = h32(seed|tok) mod n_buckets``, ``sign = ±1`` from an
independent hash bit.  Everything is integer and replayable in SQL.

Scale shape: tokenize → hash → aggregate; one keyed shuffle per
aggregation grain, no vocabulary table anywhere (that's the trick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32, words


def hashed_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: str = "hash",
) -> DataFrame:
    """One row per token occurrence: ``doc_id, tok, bucket, sign``."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    bucket = md5_u32(F.concat_ws("|", F.lit(f"{seed}|b"), F.col("tok")))
    sign = md5_u32(F.concat_ws("|", F.lit(f"{seed}|s"), F.col("tok")))
    return toks.select(
        "doc_id",
        "tok",
        (bucket % n_buckets).alias("bucket"),
        F.when(sign % 2 == 0, 1).otherwise(-1).alias("sign"),
    )


def doc_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: str = "hash",
) -> DataFrame:
    """Sparse hashed features per document:
    ``doc_id, bucket, signed_count`` (zero entries omitted)."""
    return (
        hashed_tokens(df, id_col, text_col, n_buckets, seed)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("signed_count"))
        .where(F.col("signed_count") != 0)
    )


def bucket_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: str = "hash",
) -> DataFrame:
    """Corpus-level load profile of the hashed feature space:
    ``bucket, n_occurrences, n_distinct_tokens, signed_sum`` — the
    collision diagnostic that says whether ``n_buckets`` is adequate
    (distinct-token load per bucket) and whether sign-cancellation is
    behaving (signed_sum ≪ n_occurrences).

    Two-level aggregation instead of ``count_distinct``: a single-pass
    distinct count plants an Expand that doubles the exploded token
    stream through the shuffle (measured super-linear at the 32×
    probe).  Aggregating per ``(bucket, tok)`` first lets the map-side
    combine collapse the stream to vocabulary size — sign is a pure
    function of ``tok``, so it rides along — and the second aggregate
    runs on the tiny per-type frame."""
    ht = hashed_tokens(df, id_col, text_col, n_buckets, seed)
    per_type = ht.groupBy("bucket", "tok").agg(
        F.count(F.lit(1)).alias("_n"),
        F.first("sign").alias("_sign"),
    )
    return per_type.groupBy("bucket").agg(
        F.sum("_n").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(F.col("_sign") * F.col("_n")).alias("signed_sum"),
    )
