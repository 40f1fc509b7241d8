"""Temperature-scaled domain sampling on top of the deterministic
mixing machinery (LLM-data-pipeline extension; no counterpart in the
tabular-only reference).

Multi-domain / multilingual pretraining rarely trains on the natural
source distribution: small domains drown.  The standard remedy samples
source d with probability ``p_d ∝ n_d ** alpha`` (alpha=1 natural,
alpha=0 uniform over sources, the usual 0.3–0.7 band up-weights small
sources) and realizes the mixture by per-source keep/replicate rates.

This module only derives the per-source WEIGHTS; the row-level sampling
is ``operators.mixing.weighted_mix`` unchanged — pure hash functions of
(seed, key), stable across runs, engines, partitionings, and task
retries.  Scale shape: one count aggregate whose collected result is
one row per SOURCE (domains/languages number in the dozens — the driver
holds counts, never rows), then project + filter + bounded explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32
from magi_etl_spark.operators.mixing import weighted_mix


def temperature_weights(
    counts: dict[str, int], alpha: float, target_rows: int | None = None
) -> dict[str, float]:
    """Per-source mixture weights at temperature ``alpha``: source d is
    drawn with probability ``p_d ∝ n_d ** alpha``; the returned weight
    ``w_d = T * p_d / n_d`` feeds ``weighted_mix`` so the expected
    output size is ``target_rows`` (default: the input total, i.e. pure
    re-balancing).  Weights above 1 mean fractional epochs over the
    small source — exactly what ``weighted_mix`` implements."""
    if not counts:
        raise ValueError("counts must not be empty")
    if any(n <= 0 for n in counts.values()):
        raise ValueError(f"source counts must be positive, got {counts}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    total = sum(counts.values())
    t = total if target_rows is None else target_rows
    z = sum(n**alpha for n in counts.values())
    return {d: t * (n**alpha / z) / n for d, n in counts.items()}


def sample_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    n: int,
    seed: str = "grpsample",
) -> DataFrame:
    """Exactly ``min(n, group_size)`` rows per group, chosen by hash
    order — the deterministic distributed replacement for per-group
    reservoir sampling (same stability contract as the rest of this
    module: pure function of (seed, key), so re-runs, retries, and
    repartitioning cannot change the sample).  One window shuffle on
    the group key; complements the FRACTION-based stratified sampler
    by guaranteeing exact per-group counts."""
    from pyspark.sql import Window as W

    from magi_etl_spark.operators.mixing import uniform_hex

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = uniform_hex(F.col(key_col), seed)
    w = W.partitionBy(*group_cols).orderBy(u.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_rows: int | None = None,
    seed: str = "tmix",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """``weighted_mix`` with weights derived from the observed source
    sizes at temperature ``alpha`` (one count aggregate collected as one
    row per source)."""
    rows = df.groupBy(source_col).count().collect()
    counts = {r[0]: r[1] for r in rows}
    w = temperature_weights(counts, alpha, target_rows)
    return weighted_mix(
        df, w, source_col, key_col, seed=seed, copy_col=copy_col
    )


def weighted_sample_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    n: int,
    id_col: str,
    seed: str = "wsample",
) -> DataFrame:
    """Exactly-``n`` (or all, for smaller groups) WEIGHTED sample per
    group — Efraimidis–Spirakis A-ES reservoir sampling, derandomized:
    each row draws ``u = (hex32(md5(seed|id)) + 1) / 2^32`` and ranks
    by the ES key ``ln(u) / w`` (the monotone log form of ``u^(1/w)``);
    the top ``n`` keys per group are the sample, with inclusion
    probability proportional to weight in the without-replacement
    sense.  Deterministic, repartition-stable, engine-portable (the
    same md5 arithmetic runs in a SQL oracle).

    Rows with null or non-positive weight are excluded — a zero-weight
    row must never be sampled, and ES is undefined for w <= 0.  One
    keyed shuffle (the per-group top-n window, WindowGroupLimit-
    planned); nothing collected."""
    from pyspark.sql import Window as W

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # 32 bits: ample sampling entropy
    u32 = md5_u32(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string")))
    u = (u32 + 1).cast("double") / F.lit(float(2 ** 32))
    key = F.log(u) / F.col(weight_col)
    w = W.partitionBy(*group_cols).orderBy(F.desc("_es_key"), F.asc(id_col))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_es_key", key)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_es_key", "_rn")
    )
