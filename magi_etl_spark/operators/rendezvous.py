"""Rendezvous (highest-random-weight) shard assignment.

The size-balanced shard planner (operators/shards.py, q165) packs by
cumulative byte size; rendezvous hashing is the STATELESS counterpart:
every key independently computes one md5 weight per shard and lands on
the argmax — no coordination, no metadata, and removing a shard only
remaps the keys that lived on it (the minimal-disruption property that
makes HRW the standard for cache/shard routing).

Pure expression-level: the per-key weight array is a fixed-width
``array(struct(hash, shard))`` whose ``array_max`` is the assignment —
no explode, no shuffle beyond the caller's aggregate.  Ties (md5
collisions) break toward the higher shard id via the struct ordering,
identically in the SQL replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32


def rendezvous_shard(
    key: Column, n_shards: int = 16, seed: str = "hrw"
) -> Column:
    """The HRW shard id (int) for ``key``: argmax over shards of the
    32-bit md5 weight ``md5(seed|shard|key)``."""
    weights = [
        F.struct(
            md5_u32(
                F.concat_ws("|", F.lit(seed), F.lit(s), key.cast("string"))
            ).alias("w"),
            F.lit(s).alias("shard"),
        )
        for s in range(n_shards)
    ]
    return F.array_max(F.array(*weights)).getField("shard")


def shard_assignment_profile(
    df: DataFrame,
    key_col: str,
    n_shards: int = 16,
    seed: str = "hrw",
) -> DataFrame:
    """Per shard: key count, min/max key — the balance evidence for a
    proposed shard count (HRW balance follows the max of n_shards
    uniforms; expect counts within a few percent of n/n_shards for
    realistic key volumes)."""
    assigned = df.select(
        F.col(key_col).alias("key"),
        rendezvous_shard(F.col(key_col), n_shards, seed).alias("shard"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )
