"""k-anonymity suppression — the data-governance gate a training-data
platform runs before releasing event-level or user-level extracts: a
row is releasable only when its quasi-identifier combination (the
attribute tuple an adversary could link on) is shared by at least
``k`` rows.  Groups below ``k`` are suppressed wholesale (Sweeney's
original suppression model; generalization — coarsening a column until
groups merge past ``k`` — is the complementary lever, provided here as
bucketing helpers).

This composes with ``operators/text.py``'s PII redaction: redaction
removes direct identifiers from free text, k-anonymity bounds the
re-identification risk of the structured columns that remain.

Scale shape: one keyed aggregate over the quasi-identifier tuple, and
(for row-level filtering) one join back on the same key — the shuffle
partitioning is reused between the two, and the profile frame is
group-cardinality-sized.  No collects, no windows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32


def bucketize(col: Column, width: float) -> Column:
    """Generalization helper: floor-bucket a numeric column into
    ``width``-sized bins (emitted as the bin's ordinal, a long)."""
    return F.floor(col / F.lit(width)).cast("long")


def k_anonymity_profile(
    df: DataFrame, quasi_cols: Sequence[str | Column], k: int
) -> DataFrame:
    """Group sizes over the quasi-identifier tuple plus the suppression
    verdict: ``(*quasi, n_rows, suppressed)`` — ``suppressed`` is true
    for groups smaller than ``k``."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    ).withColumn("suppressed", F.col("n_rows") < k)


def l_diversity_profile(
    df: DataFrame,
    quasi_cols: Sequence[str | Column],
    sensitive_col: str,
    l: int,
) -> DataFrame:
    """l-diversity audit — k-anonymity's complement: a quasi-identifier
    group is safe only when it contains at least ``l`` DISTINCT values
    of the sensitive attribute (a size-100 group that is all one
    diagnosis still leaks it).  ``(*quasi, n_rows, n_distinct,
    diverse)`` in one keyed aggregate; the exact ``count_distinct`` is
    the correctness mode, with ``operators/sketches.py`` the approx
    path at extreme group counts."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias(
            "n_distinct"
        ),
    ).withColumn("diverse", F.col("n_distinct") >= l)


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str | Column],
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """Differentially-private-STYLE noisy group counts with a
    DERANDOMIZED Laplace draw: the noise is Laplace(1/epsilon) via
    inverse-CDF over a uniform derived from md5(seed|group key) — the
    same engine-portable derandomization trick as the weighted sampler
    (Efraimidis-Spirakis, q131).  Deterministic noise is NOT
    differential privacy (a true DP release needs fresh randomness per
    release); this is the reproducible-pipeline variant used for
    regression-testable privacy plumbing, with the seed as the
    release nonce.  The uniform's 2^-32 granularity clamps the
    inverse-CDF log away from its poles.

    Output: ``(*group_cols, noisy_count)`` — the true count plus the
    per-group noise, rounded to 6 decimals.  One keyed aggregate; the
    noise is a projection over the group key, no extra pass."""
    # NULL-safe key: concat_ws silently DROPS null members, which would
    # give (NULL, 'x') and ('x',) the same noise draw — coalesce every
    # member to a sentinel no real value prints as
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"),
            F.lit("\x00null"),
        )
        for c in group_cols
    ]
    key = F.concat_ws("\x1f", *parts)
    u = md5_u32(F.concat(F.lit(f"{seed}|"), key)) / F.lit(4294967296.0)
    x = u - F.lit(0.5)
    b = F.lit(1.0 / float(epsilon))
    noise = -b * F.signum(x) * F.log(
        F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(x), F.lit(1.0 / 4294967296.0))
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            *group_cols,
            F.round(F.col("_n") + noise, 6).alias("noisy_count"),
        )
    )


def k_anonymize(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Suppression filter: keep only rows whose quasi-identifier group
    has at least ``k`` members.  Implemented as a semi-join against the
    surviving groups so the row payload never rides the aggregate."""
    keep = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= k)
        .select(*quasi_cols)
    )
    return df.join(keep, list(quasi_cols), "semi")
