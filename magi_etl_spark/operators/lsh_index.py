"""Persistent MinHash-LSH index: build once, append increments, find
near-duplicate candidates of NEW documents without re-hashing the
corpus.

At 100 TB the daily reality is an incremental one: yesterday's corpus
is already signed, today's increment is a sliver.  Re-running
``minhash_lsh_dedup`` over the union re-tokenizes and re-hashes the
whole history every day; this module stores the signatures (k small
hash columns per doc — a ~100-byte row regardless of document size)
and makes the daily pass proportional to the INCREMENT:

- ``build_lsh_index``: sign the corpus once, write signatures +
  a parameter sidecar (shingle width / hash count are part of the
  index identity — mixing parameters silently produces garbage
  candidates, so appends verify the sidecar and refuse mismatches).
- ``incremental_lsh_pairs``: sign only the new documents, band-join
  them against old+new signatures, and keep only pairs touching a new
  document — old↔old pairs were already reported when their documents
  arrived.  Output carries ``est_jaccard`` (fraction of agreeing
  signature hashes — the standard MinHash similarity estimator) so
  callers can rank/threshold candidates before any exact verification
  against retained text.
- ``append_to_lsh_index``: commit the increment's signatures so the
  next increment sees them.

Shapes: signing is a linear scan of the increment; the band join
shuffles (band_key)-keyed rows; nothing rescans old text.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

_PARAMS = "_lsh_params.json"


def _params_path(path: str) -> str:
    return os.path.join(path, _PARAMS)


def _check_params(path: str, n: int, n_hashes: int) -> None:
    with open(_params_path(path)) as fh:
        p = json.load(fh)
    if (p["n"], p["n_hashes"]) != (n, n_hashes):
        raise ValueError(
            f"index at {path} was built with n={p['n']}, "
            f"n_hashes={p['n_hashes']}; refusing mismatched n={n}, "
            f"n_hashes={n_hashes} (signatures would not be comparable)"
        )


def build_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 4,
) -> None:
    """Sign ``docs`` and persist the signature table + parameter
    sidecar at ``path``."""
    sigs = minhash_signatures(docs, id_col, text_col, n=n, n_hashes=n_hashes)
    sigs.write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    with open(_params_path(path), "w") as fh:
        json.dump({"n": n, "n_hashes": n_hashes}, fh)


def read_lsh_index(spark: SparkSession, path: str) -> DataFrame:
    """All committed signatures: the base ``signatures`` table plus any
    per-batch increment directories (``increments/batch=N`` — written
    idempotently by ``append_to_lsh_index(batch_id=...)``)."""
    sigs = spark.read.parquet(os.path.join(path, "signatures"))
    inc_root = os.path.join(path, "increments")
    if os.path.isdir(inc_root):
        batches = sorted(
            os.path.join(inc_root, d)
            for d in os.listdir(inc_root)
            if d.startswith("batch=")
        )
        if batches:
            inc = spark.read.option("basePath", inc_root).parquet(*batches)
            sigs = sigs.unionByName(inc.select(*sigs.columns))
    return sigs


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 4,
    band_size: int = 2,
) -> DataFrame:
    """Near-duplicate candidates ``(doc_a, doc_b, est_jaccard)`` where
    at least one side is a NEW document; old↔old pairs are excluded by
    construction.  Only the increment is tokenized."""
    _check_params(index_path, n, n_hashes)
    spark = new_docs.sparkSession
    old = read_lsh_index(spark, index_path).withColumn("_new", F.lit(False))
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, n=n, n_hashes=n_hashes
    ).withColumn("_new", F.lit(True))
    # a re-delivered id supersedes its indexed signature.  The reused
    # frame goes through the chkpt barrier, not persist(): an explicit
    # persist stays registered in the cache manager until someone
    # unpersists it, which leaked one cached frame per micro-batch in
    # the streaming caller (r5 ADVICE item 2); checkpoint blocks are
    # released by the ContextCleaner as soon as the frame goes out of
    # scope, and the eager materialization also truncates the union
    # lineage.
    sigs = materialize(
        old.join(new_sigs.select("doc_id"), "doc_id", "left_anti")
        .unionByName(new_sigs)
    )
    bands = [
        [f"m{j}" for j in range(i, min(i + band_size, n_hashes))]
        for i in range(0, n_hashes, band_size)
    ]
    cands = lsh_candidate_pairs(sigs, bands)
    flags = sigs.select("doc_id", "_new", *[f"m{j}" for j in range(n_hashes)])
    a = flags.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_new").alias("_na"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    b = flags.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_new").alias("_nb"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    agree = sum(
        (F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(n_hashes)),
        start=F.lit(0),
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .where(F.col("_na") | F.col("_nb"))
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(n_hashes)), 6).alias("est_jaccard"),
        )
    )


def append_to_lsh_index(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 4,
    batch_id: int | None = None,
) -> None:
    """Commit the increment's signatures so the next increment's
    candidate pass sees them.

    With ``batch_id`` the write is IDEMPOTENT: the increment goes to
    ``increments/batch=<id>`` in overwrite mode, so a checkpoint-
    replayed streaming micro-batch rewrites the same directory instead
    of appending duplicate signature rows into the index forever (r5
    ADVICE item 3 — the standard foreachBatch exactly-once-per-batch
    layout).  Without ``batch_id`` (one-shot batch callers) the legacy
    parquet append to ``signatures`` is kept."""
    _check_params(index_path, n, n_hashes)
    sigs = minhash_signatures(new_docs, id_col, text_col, n=n, n_hashes=n_hashes)
    if batch_id is None:
        sigs.write.mode("append").parquet(os.path.join(index_path, "signatures"))
    else:
        sigs.write.mode("overwrite").parquet(
            os.path.join(index_path, "increments", f"batch={int(batch_id)}")
        )
