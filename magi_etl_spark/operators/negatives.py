"""Derandomized negative-edge sampling for link-prediction training.

q136's hard-negative mining picks CLOSE non-matches in embedding
space; this operator is the graph counterpart: for every source
vertex, draw pseudo-random destination vertices that are NOT already
linked — the contrastive negatives a link-prediction or two-tower
trainer consumes alongside the positive edge list.

The draw is scalable without any global vertex index: destinations are
hashed into ``n_buckets`` buckets, each (src, trial) pair is hashed to
one bucket, and the candidate is the md5-argmin destination WITHIN
that bucket — a keyed equi-join on the bucket id, never a cross join,
never a corpus-wide window.  Existing edges are removed with one
anti-join; everything is md5 arithmetic, so the sample is
deterministic, repartition-stable, and SQL-replayable.

Scale shape: the candidate stream is ``n_src x n_trials x (n_dst /
n_buckets)`` rows, each paying one md5 — so the BUCKET SIZE
``n_dst / n_buckets`` is the per-trial work and must stay O(1) as the
graph grows.  A fixed bucket count makes the operator quadratic in
vertex count (the r9 bench measured exactly that: 64 buckets over a
20k-destination graph = 312-wide buckets = a 19M-row md5 stream,
44 s at sf0.1).  The default therefore DERIVES ``n_buckets`` from the
destination count (one 1-row aggregate) targeting ~64 destinations
per bucket; pass an explicit ``n_buckets`` only when the oracle needs
a pinned modulus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import md5_u32


def auto_bucket_count(n_dst: int, target: int = 64) -> int:
    """Bucket count for ~``target`` destinations per bucket: the next
    power of two of ``n_dst / target``, floored at 64.  Mirrored by the
    q211 oracle in SQL (GREATEST/POWER/CEIL/LOG2 over the same exact
    double division), so keep the two in lockstep."""
    return max(64, 1 << max(0, math.ceil(math.log2(max(n_dst, 1) / target))))


def negative_edge_samples(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_trials: int = 4,
    n_buckets: int | None = None,
    seed: str = "neg",
) -> DataFrame:
    """Per source vertex: up to ``n_trials`` distinct non-adjacent
    destinations, as ``src, trial, dst``.  A trial whose bucket is
    empty, or whose candidate happens to be adjacent (or the source
    itself), yields no row — callers oversample ``n_trials`` for a
    target count, keeping the operator join-shaped instead of
    rejection-looped.

    ``n_buckets=None`` (the default) derives the bucket count from the
    destination-vertex count so buckets hold ~64 destinations each
    (power of two, floor 64) — the O(1)-bucket-size contract that keeps
    the candidate stream linear in ``n_src`` at any graph scale.  An
    explicit ``n_buckets`` is honored verbatim (oracles pin it).

    The within-bucket pick is keyed by ``(src, trial, dst)`` — NOT by
    ``dst`` alone (the r7 ADVICE defect: a dst-only rank made every
    bucket elect one global winner, capping the corpus-wide negative
    vocabulary at ``n_buckets`` distinct destinations and duplicating
    the (src, dst) pair whenever two trials of one source hashed to the
    same bucket).  Trial-dependent ranking gives every (src, trial) an
    independent draw from its bucket, so collisions across trials are
    hash-coincidences, not structural.

    The edge list is materialized ONCE at entry (r15 optimization —
    the chkpt barrier): it feeds FOUR downstream subtrees (distinct
    sources, distinct destinations + their count, and the positive-pair
    anti-join side), and left lazy each reference recompiled the
    caller's upstream edge derivation (q211's orders x lineitem join
    compiled 6x)."""
    edges = materialize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    src_col, dst_col = "src", "dst"
    src = edges.select(F.col(src_col).alias("src")).distinct()
    dst = edges.select(F.col(dst_col).alias("dst")).distinct()
    if n_buckets is None:
        # one 1-row aggregate (the PageRank dangling-mass idiom)
        n_buckets = auto_bucket_count(dst.count())
    dstb = dst.select(
        "dst",
        (
            md5_u32(F.concat_ws("|", F.lit(f"{seed}|b"), F.col("dst")))
            % n_buckets
        ).alias("_b"),
    )
    trials = src.select(
        "src",
        F.explode(F.array(*[F.lit(t) for t in range(n_trials)])).alias(
            "trial"
        ),
    ).withColumn(
        "_b",
        md5_u32(F.concat_ws("|", F.lit(f"{seed}|t"), F.col("src"), F.col("trial")))
        % n_buckets,
    )
    rank = md5_u32(
        F.concat_ws(
            "|", F.lit(f"{seed}|p"), F.col("src"), F.col("trial"), F.col("dst")
        )
    )
    # r15 optimization (guide §1.2 "per-task work"): the within-bucket
    # argmin was ``min_by(dst, struct(rank, dst))`` — a struct-ordered
    # declarative aggregate whose buffer is not hash-mutable, so Spark
    # compiled it to SortAggregate and SORTED the full candidate stream
    # twice (partial + final; 2.3M rows at sf0.1, q211's hottest node).
    # For integral destinations the (rank, dst) lexicographic order is
    # isomorphic to one DECIMAL(38,0) key ``rank * 2^64 + (dst + 2^63)``
    # (rank < 2^32 and the shift maps any signed-64 dst to [0, 2^64)
    # order-preserved, so the product never exceeds 2^96 < 10^38 and the
    # min is exact integer arithmetic) — a mutable-buffer ``min`` that
    # compiles to HashAggregate.  Measured at sf0.1: agg phase
    # 6.8-7.6 -> 4.8 s, identical draws.  Non-integral destinations keep
    # the struct form (the encoding needs a bounded integer domain).
    dst_type = dict(trials.join(dstb, "_b").dtypes)["dst"]
    if dst_type in ("bigint", "int", "smallint", "tinyint"):
        two64 = F.expr("CAST('18446744073709551616' AS DECIMAL(38,0))")
        two63 = F.expr("CAST('9223372036854775808' AS DECIMAL(38,0))")
        key = rank.cast("decimal(38,0)") * two64 + (
            F.col("dst").cast("decimal(38,0)") + two63
        )
        cand = (
            trials.join(dstb, "_b")
            .groupBy("src", "trial")
            .agg(F.min(key).alias("_k"))
            .select(
                "src",
                "trial",
                (F.pmod(F.col("_k"), two64) - two63)
                .cast("long")
                .cast(dst_type)
                .alias("dst"),
            )
        )
    else:
        cand = (
            trials.join(dstb, "_b")
            .groupBy("src", "trial")
            .agg(
                F.min_by(
                    "dst", F.struct(rank.alias("_hp"), F.col("dst"))
                ).alias("dst")
            )
        )
    # r15 optimization (guide §2.4): no ``.distinct()`` on the anti-join
    # side — anti-join semantics ignore build-side multiplicity, so the
    # dedup was a pure extra edge-scale exchange + aggregate
    pos = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    return (
        cand.where(F.col("dst") != F.col("src"))
        .join(pos, ["src", "dst"], "left_anti")
        .select("src", "trial", "dst")
    )
