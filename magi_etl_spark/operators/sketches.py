"""Mergeable cardinality / frequency sketches, deterministic by
construction so the driver can hash-check them against SQL oracles.

At 100 TB, exact ``COUNT(DISTINCT)`` over a high-cardinality column is
a full shuffle of the distinct key space, and exact per-key frequency
tables for heavy-hitter questions materialize the whole vocabulary.
The production answer is sketches (reference: ``tasks.py`` exposes
Presto's ``approx_distinct``/``approx_most_frequent`` to its metric
registry): fixed-size state per group, map-side mergeable, one narrow
aggregation.  Spark's built-in ``approx_count_distinct`` is a
HyperLogLog++ whose register layout is engine-private — fine in
production, impossible to oracle-check.  These implementations use the
same md5-derived hashing the rest of the repo standardizes on, so the
identical arithmetic runs in DuckDB:

- ``kmv_distinct``: K-Minimum-Values estimator (Bar-Yossef et al.
  2002).  State = the k smallest 32-bit hashes of the distinct values;
  estimate = (k-1) / normalized k-th minimum.  Unbiased, mergeable
  (union the hash sets, re-take k smallest), and exact below k.
- ``hll_distinct``: classic HyperLogLog (Flajolet et al. 2007) with
  m=64 registers: bucket = hash mod m, register = max leading-zero
  rank of the remaining bits.  The harmonic-mean estimate sums exact
  powers of two, so the float aggregation is order-independent —
  deterministic under any partitioning.
- ``cms_counts``: Count-Min sketch (Cormode & Muthukrishnan 2005),
  depth d salted hash rows × width w counters; a key's estimate is the
  MIN over its d counters — always >= the true count, with overcounts
  only from bucket collisions.  Build is d map-side-combined integer
  aggregations; the sketch itself is d*w rows (broadcast-sized).

Scale shapes: every sketch is built by one pass over the data plus a
bounded-state aggregation; nothing holds the distinct key space except
KMV's per-group top-k (k rows per group by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV distinct estimate: ``group_cols..., n_seen,
    est_distinct`` where ``n_seen`` is the number of distinct hashes
    retained (= min(k, true distinct up to hash collisions)).

    If fewer than ``k`` distinct values exist the estimate IS the exact
    distinct count; otherwise est = (k-1) / (kth_min / 2^32).  The
    distinct-hash frame is one shuffle; the k-th minimum is a per-group
    top-k window over it (k rows of state per group survive)."""
    h = md5_u32(F.concat(F.lit(f"{salt}|"), F.col(value_col).cast("string")))
    hashes = df.select(*group_cols, h.alias("_h")).distinct()
    w = W.partitionBy(*group_cols).orderBy(F.asc("_h"))
    kept = hashes.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    agg = kept.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("_h").alias("_kth")
    )
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("_kth").cast("double") / F.lit(float(2**32)))
    )
    return agg.select(
        *group_cols, "n_seen", F.round(est, 4).alias("est_distinct")
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HyperLogLog estimate with m=64 registers:
    ``group_cols..., n_buckets, est_distinct``.

    Register math is all-integer: the bucket and the rank bits come
    from DISJOINT md5 hex substrings (no integer division on a >2^53
    value, which double-typed division would corrupt), and the rank
    uses the binary-digit-length identity ``rho = 41 - len(bin(rest))``
    over a 40-bit rest.  The harmonic sum adds exact multiples of
    2^-41 bounded by m — every partial sum is exactly representable in
    a double, so the float aggregation is order-independent and the
    same expression runs in the oracle.  Small-range correction
    (linear counting) applies below 2.5*m, using the empty-register
    count."""
    m = 64
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(value_col).cast("string")))
    # hex chars 11-12 (8 bits) -> bucket; chars 1-10 (40 bits) -> rank
    bucket = F.conv(F.substring(h, 11, 2), 16, 10).cast("long") % m
    rest = F.conv(F.substring(h, 1, 10), 16, 10).cast("long")
    rho = F.when(rest == 0, F.lit(41)).otherwise(
        F.lit(41) - F.length(F.bin(rest))
    )
    regs = (
        df.select(*group_cols, bucket.alias("_b"), rho.alias("_rho"))
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_reg"))
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.pow(F.lit(0.5), F.col("_reg"))).alias("_hsum"),
    )
    # absent buckets contribute 2^0 = 1 to the harmonic sum
    hsum = F.col("_hsum") + (F.lit(m) - F.col("n_buckets")).cast("double")
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = F.lit(alpha * m * m) / hsum
    zeros = (F.lit(m) - F.col("n_buckets")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_group.select(
        *group_cols, "n_buckets", F.round(est, 4).alias("est_distinct")
    )


def cms_counts(
    keyed: DataFrame,
    key_col: str,
    freq_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-Min estimates for every key of a ``(key, freq)`` frame:
    input columns + ``est_freq`` (bigint, >= true freq).

    The sketch is built by exploding each key into its ``depth``
    (row, bucket) cells and summing freq per cell — one map-side-
    combined integer aggregation producing ``depth*width`` rows, which
    broadcast-join back to the keys for the min-over-rows estimate.
    The input is assumed pre-aggregated (one row per key); point
    queries against a sketch built from a corpus stream are the same
    join against the same cell frame."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    md5_u32(
                        F.concat(F.lit(f"{salt}{j}|"), F.col(key_col).cast("string"))
                    )
                    % width
                ).alias("b"),
            )
            for j in range(depth)
        ]
    )
    exploded = keyed.select(
        key_col, freq_col, F.explode(cells).alias("c")
    ).select(key_col, freq_col, F.col("c.j").alias("j"), F.col("c.b").alias("b"))
    sketch = exploded.groupBy("j", "b").agg(
        F.sum(freq_col).alias("cell_sum")
    )
    est = (
        exploded.join(F.broadcast(sketch), ["j", "b"])
        .groupBy(key_col)
        .agg(F.min("cell_sum").alias("est_freq"))
    )
    return keyed.join(est, key_col)


def kmv_set_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """KMV sketch ALGEBRA — the production reason sketches beat exact
    counting: estimate |A|, |B|, |A ∪ B|, |A ∩ B|, and Jaccard between
    two value sets from their k-min signatures alone (Beyer et al.
    2007), never materializing either distinct set.

    Sets are ``value_col`` values where ``group_col`` equals ``group_a``
    / ``group_b``.  The union sketch is the k smallest of the merged
    signatures; resemblance rho = |union-k ∩ sig(A) ∩ sig(B)| / k; the
    intersection estimate is rho * est_union.  Returns ONE row:
    ``est_a, est_b, est_union, est_intersection, jaccard``.

    Scale shape: per-set signatures are the same bounded top-k as
    ``kmv_distinct`` (k rows of state per set); the merge/estimate math
    runs on two k-element arrays built by SCALAR collect aggregates —
    bounded at 2k values by construction, never a data-sized collect.
    """
    h = md5_u32(F.concat(F.lit(f"{salt}|"), F.col(value_col).cast("string")))
    hashes = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .select(group_col, h.alias("_h"))
        .distinct()
    )
    w = W.partitionBy(group_col).orderBy(F.asc("_h"))
    kept = hashes.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )

    def sig(g: str, name: str) -> DataFrame:
        return kept.where(F.col(group_col) == g).agg(
            F.array_sort(F.collect_list("_h")).alias(name)
        )

    both = sig(group_a, "_sa").crossJoin(F.broadcast(sig(group_b, "_sb")))

    def est(arr, n):
        kth = F.element_at(arr, k)
        return F.when(n < k, n.cast("double")).otherwise(
            F.lit(float(k - 1)) / (kth.cast("double") / F.lit(float(2**32)))
        )

    merged = F.slice(
        F.array_sort(F.array_union("_sa", "_sb")), 1, k
    )
    n_union = F.size(merged)
    in_both = F.size(
        F.array_intersect(merged, F.array_intersect("_sa", "_sb"))
    )
    est_u = F.when(n_union < k, n_union.cast("double")).otherwise(
        F.lit(float(k - 1))
        / (F.element_at(merged, k).cast("double") / F.lit(float(2**32)))
    )
    # both sets empty => rho 0.0, not a division error (ANSI mode)
    rho = F.when(n_union == 0, F.lit(0.0)).otherwise(
        in_both / F.least(n_union, F.lit(k))
    )
    return both.select(
        F.round(est(F.col("_sa"), F.size("_sa")), 4).alias("est_a"),
        F.round(est(F.col("_sb"), F.size("_sb")), 4).alias("est_b"),
        F.round(est_u, 4).alias("est_union"),
        F.round(rho * est_u, 4).alias("est_intersection"),
        F.round(rho, 4).alias("jaccard"),
    )


def grid_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    lo: float,
    hi: float,
    n_bins: int = 128,
    decimals: int = 4,
) -> DataFrame:
    """Mergeable fixed-grid quantile estimates per group:
    ``group_cols..., q, est`` — one row per requested quantile, the
    estimate linearly interpolated inside the histogram bucket where
    the cumulative count crosses q * n (midpoint convention at exact
    bucket boundaries is avoided by interpolating on the continuous
    CDF).  Values are clamped into [lo, hi); out-of-range mass lands in
    the edge buckets, biasing edge quantiles toward the clamp — size
    the grid from known value bounds.

    This is the percentile shape that SURVIVES merging: the state is
    ``n_bins`` integers per group (map-side combined, union-mergeable
    across days/partitions), unlike exact ``percentile`` (a per-group
    sort buffer) — the trade Spark's own ``percentile_approx`` makes,
    but on a deterministic grid an external engine can replay exactly.
    Accuracy is bounded by the bucket width (hi - lo) / n_bins.
    """
    width = (hi - lo) / n_bins
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    cells = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, b.alias("_b"))
        .groupBy(*group_cols, "_b")
        .agg(F.count("*").cast("double").alias("_c"))
    )
    w = W.partitionBy(*group_cols).orderBy("_b")
    cdf = cells.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(W.partitionBy(*group_cols))
    )
    out = None
    for q in quantiles:
        # the bucket where the CDF crosses q*n: smallest _b with
        # _cum >= q*n; interpolate within it
        target = F.lit(q) * F.col("_n")
        hit = (
            cdf.where(F.col("_cum") >= target)
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(*group_cols).orderBy("_b")
                ),
            )
            .where(F.col("_rn") == 1)
        )
        frac = (target - (F.col("_cum") - F.col("_c"))) / F.col("_c")
        est = F.lit(lo) + (F.col("_b") + frac) * F.lit(width)
        row = hit.select(
            *group_cols,
            F.lit(float(q)).alias("q"),
            F.round(est, decimals).alias("est"),
        )
        out = row if out is None else out.unionByName(row)
    return out
