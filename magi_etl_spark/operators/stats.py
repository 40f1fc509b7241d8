"""Robust per-group statistics: winsorization and median/IQR scaling.

The reference scales features with min-max over collected pandas frames
(reference ``dash_app/tasks.py`` recommend family — our A11/M3); min-max
is outlier-dominated, so warehouse practice clips at exact group
percentiles (winsorize) or centers on median/IQR before ML featurization
or anomaly thresholds.

Scale shape: one map-side-combined aggregate producing TWO numbers per
group, joined back (broadcast by default — bounds frames are one row per
group; pass ``broadcast_bounds=False`` for ultra-high-cardinality
groups, where the join shuffles both sides on the group key instead).
``approx=True`` swaps the exact sort-based ``percentile`` for
``percentile_approx`` — at 100 TB the exact form pays a per-group sort
buffer, the sketch form is one bounded-memory pass; same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import md5_u32


def _join_bounds(
    df: DataFrame, bounds: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Join the per-group bounds frame back null-safely: ``groupBy``
    emits a bounds row for the NULL group, but a plain equi-join never
    matches it, silently DROPPING every NULL-keyed input row from the
    output (r4 ADVICE).  ``eqNullSafe`` per key keeps them, clipped or
    scaled against their own group's bounds like any other group."""
    cond = None
    for c in group_cols:
        eq = df[c].eqNullSafe(bounds[c])
        cond = eq if cond is None else cond & eq
    joined = df.join(bounds, cond)
    # drop the bounds side's duplicate key columns
    return joined.drop(*[bounds[c] for c in group_cols])


def group_percentile_bounds(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """One row per group: ``*group_cols, _plo, _phi`` — the exact (or
    sketched) ``lo``/``hi`` percentiles of ``value_col``."""
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"need 0 <= lo <= hi <= 1, got {lo}, {hi}")
    p = F.percentile_approx if approx else F.percentile
    return df.groupBy(*group_cols).agg(
        p(value_col, lo).alias("_plo"), p(value_col, hi).alias("_phi")
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
    approx: bool = False,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """Clip ``value_col`` to its group's [lo, hi] percentile band; the
    clipped value lands in ``out_col`` (default ``{value_col}_w``).
    NULL values stay NULL — guarded explicitly, because Spark's
    ``least``/``greatest`` SKIP nulls rather than propagate them, which
    would silently rewrite NULL to the lower bound."""
    out = out_col or f"{value_col}_w"
    bounds = group_percentile_bounds(df, group_cols, value_col, lo, hi, approx)
    if broadcast_bounds:
        bounds = F.broadcast(bounds)
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("_plo")), F.col("_phi")),
    )
    return (
        _join_bounds(df, bounds, group_cols)
        .withColumn(out, clipped)
        .drop("_plo", "_phi")
    )


def robust_scale(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str | None = None,
    approx: bool = False,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """Median/IQR standardization: ``(x - median) / (p75 - p25)`` per
    group — the outlier-robust alternative to z-scores.  A zero IQR
    (constant group) yields NULL rather than an infinity: callers decide
    whether constant features are dropped or imputed."""
    out = out_col or f"{value_col}_rs"
    p = F.percentile_approx if approx else F.percentile
    bounds = df.groupBy(*group_cols).agg(
        p(value_col, 0.5).alias("_med"),
        (p(value_col, 0.75) - p(value_col, 0.25)).alias("_iqr"),
    )
    if broadcast_bounds:
        bounds = F.broadcast(bounds)
    scaled = F.when(
        F.col("_iqr") != 0, (F.col(value_col) - F.col("_med")) / F.col("_iqr")
    )
    return (
        _join_bounds(df, bounds, group_cols)
        .withColumn(out, scaled)
        .drop("_med", "_iqr")
    )


def group_ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    decimals: int = 4,
) -> DataFrame:
    """Per-group simple linear regression (OLS) from the closed-form
    sufficient statistics: ``group_cols..., n, slope, intercept, r2``
    (rounded to ``decimals``).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept from the means,
    r2 = squared Pearson correlation — everything derives from ONE
    map-side-combined aggregation of {n, Sx, Sy, Sxy, Sxx, Syy}, so the
    operator is a single keyed shuffle no matter how long each series
    is.  The trend-detection question ("is this metric drifting up?")
    every monitoring pass asks, as a grouped aggregate.

    Degenerate groups (n < 2 or zero x-variance) return NULL slope/
    intercept/r2 rather than dividing by zero; zero y-variance (a flat
    series) returns slope 0 with r2 NULL (correlation undefined).
    """
    # cast BEFORE multiplying: integer inputs would overflow long in
    # the cross products under ANSI mode at scale
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    sums = df.groupBy(*group_cols).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    vx = n * F.col("_sxx") - sx * sx
    vy = n * F.col("_syy") - sy * sy
    cov = n * F.col("_sxy") - sx * sy
    slope = F.when((n >= 2) & (vx != 0), cov / vx)
    intercept = F.when(
        (n >= 2) & (vx != 0), (sy - (cov / vx) * sx) / n
    )
    r2 = F.when((n >= 2) & (vx != 0) & (vy != 0), (cov * cov) / (vx * vy))
    return sums.select(
        *group_cols,
        n.cast("long").alias("n"),
        F.round(slope, decimals).alias("slope"),
        F.round(intercept, decimals).alias("intercept"),
        F.round(r2, decimals).alias("r2"),
    )


def wilson_interval(
    df: DataFrame,
    group_cols: list[str],
    success_col,
    z: float = 1.96,
    decimals: int = 4,
) -> DataFrame:
    """Per-group binomial proportion with the Wilson score interval:
    ``group_cols..., n, n_success, rate, ci_lo, ci_hi`` (rounded).
    ``success_col`` is a boolean Column or column name.

    The Wilson interval stays inside [0, 1] and behaves at small n —
    the right default for conversion-rate dashboards, and closed-form
    (one conditional-count aggregate), so the SQL oracle replays it
    exactly.
    """
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    agg = df.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(s.cast("long")).cast("long").alias("n_success"),
    )
    n = F.col("n").cast("double")
    p = F.col("n_success") / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return agg.select(
        *group_cols,
        "n",
        "n_success",
        F.round(p, decimals).alias("rate"),
        F.round(center - half, decimals).alias("ci_lo"),
        F.round(center + half, decimals).alias("ci_hi"),
    )


def ab_assign_and_compare(
    df: DataFrame,
    unit_col: str,
    success_col,
    salt: str = "ab",
    z: float = 1.96,
    decimals: int = 4,
) -> DataFrame:
    """Deterministic A/B analysis scaffold: units hash 50/50 into
    'control'/'treatment' (md5 split — the repo-standard derandomized
    draw, so assignment is reproducible in any engine), then per-variant
    conversion with Wilson intervals plus the two-sample z statistic on
    the pooled proportion.

    Returns one row per variant: ``variant, n, n_success, rate, ci_lo,
    ci_hi, z_stat`` (z_stat identical on both rows; its sign is
    treatment minus control).  All closed-form — one aggregation, one
    broadcast self-join of the 2-row variant frame.
    """
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    h = md5_u32(F.concat(F.lit(f"{salt}|"), F.col(unit_col).cast("string")))
    assigned = df.withColumn(
        "variant",
        F.when(h % 2 == 0, F.lit("control")).otherwise(F.lit("treatment")),
    )
    per = wilson_interval(assigned, ["variant"], s, z=z, decimals=decimals)
    wide = (
        per.groupBy()
        .pivot("variant", ["control", "treatment"])
        .agg(
            F.first("n").alias("n"), F.first("n_success").alias("s")
        )
    )
    pc = F.col("control_s") / F.col("control_n")
    pt = F.col("treatment_s") / F.col("treatment_n")
    pool = (F.col("control_s") + F.col("treatment_s")) / (
        F.col("control_n") + F.col("treatment_n")
    )
    se = F.sqrt(
        pool
        * (1.0 - pool)
        * (1.0 / F.col("control_n") + 1.0 / F.col("treatment_n"))
    )
    zstat = F.when(se == 0, F.lit(0.0)).otherwise((pt - pc) / se)
    return per.crossJoin(
        F.broadcast(wide.select(F.round(zstat, decimals).alias("z_stat")))
    )


def mutual_information(
    df: DataFrame,
    a_col,
    b_col,
    decimals: int = 4,
) -> DataFrame:
    """Mutual information (bits) between two categorical columns, plus
    each marginal's Shannon entropy: one row ``mi, h_a, h_b, nmi``
    (``nmi = mi / min(h_a, h_b)``, NULL when either entropy is 0).

    MI = sum over (a, b) cells of p(a,b) * log2(p(a,b) / (p(a)p(b))) —
    the dependence-detection / feature-selection primitive, computed
    from one joint-count aggregation (|A| x |B| cells) with the
    marginals derived by re-aggregating the SAME cell frame, so the
    whole statistic is two narrow shuffles over bounded state.
    """
    a = a_col if not isinstance(a_col, str) else F.col(a_col)
    b = b_col if not isinstance(b_col, str) else F.col(b_col)
    cells = (
        df.select(a.alias("_a"), b.alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").cast("double").alias("_c"))
    )
    n = cells.agg(F.sum("_c").alias("_n"))
    ma = cells.groupBy("_a").agg(F.sum("_c").alias("_ca"))
    mb = cells.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    joined = (
        cells.join(F.broadcast(ma), "_a")
        .join(F.broadcast(mb), "_b")
        .crossJoin(F.broadcast(n))
    )
    ln2 = F.lit(0.6931471805599453)
    pj = F.col("_c") / F.col("_n")
    mi_term = pj * F.log(F.col("_c") * F.col("_n") / (F.col("_ca") * F.col("_cb"))) / ln2
    ha_term = (F.col("_ca") / F.col("_n")) * F.log(F.col("_ca") / F.col("_n")) / ln2
    hb_term = (F.col("_cb") / F.col("_n")) * F.log(F.col("_cb") / F.col("_n")) / ln2
    mi = joined.agg(F.sum(mi_term).alias("_mi"))
    ha = ma.crossJoin(F.broadcast(n)).agg((-F.sum(ha_term)).alias("_ha"))
    hb = mb.crossJoin(F.broadcast(n)).agg((-F.sum(hb_term)).alias("_hb"))
    out = mi.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    nmi = F.when(
        F.least("_ha", "_hb") > 0, F.col("_mi") / F.least("_ha", "_hb")
    )
    return out.select(
        F.round("_mi", decimals).alias("mi"),
        F.round("_ha", decimals).alias("h_a"),
        F.round("_hb", decimals).alias("h_b"),
        F.round(nmi, decimals).alias("nmi"),
    )


def concentration(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    top_k: int = 4,
    decimals: int = 4,
) -> DataFrame:
    """Market-concentration audit per group: ``group_cols..., n_keys,
    hhi, crk`` — the Herfindahl-Hirschman index (sum of squared value
    shares across keys; 1/n_keys = even, 1.0 = monopoly) and the
    top-``top_k`` concentration ratio (their combined share).

    Per-key totals are one keyed aggregation; HHI folds them with a
    second; CR_k ranks per group with a window over the per-key totals
    frame — never over raw rows, and Catalyst pushes the rank filter
    into a map-side ``WindowGroupLimit`` (verified in the physical
    plan), so only ``top_k`` rows per group survive the shuffle even
    when a group holds billions of keys.
    """
    per_key = df.groupBy(*group_cols, key_col).agg(
        F.sum(F.col(value_col).cast("double")).alias("_v")
    )
    totals = per_key.groupBy(*group_cols).agg(
        F.sum("_v").alias("_tot"), F.count("*").cast("long").alias("n_keys")
    )
    shared = per_key.join(F.broadcast(totals), [*group_cols])
    share = F.col("_v") / F.col("_tot")
    hhi = shared.groupBy(*group_cols, "n_keys").agg(
        F.round(F.sum(share * share), decimals).alias("hhi")
    )
    w = W.partitionBy(*group_cols).orderBy(
        F.desc("_v"), *[F.asc(key_col)]
    )
    crk = (
        shared.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= top_k)
        .groupBy(*group_cols)
        .agg(F.round(F.sum(share), decimals).alias("crk"))
    )
    return hhi.join(crk, [*group_cols]).select(
        *group_cols, "n_keys", "hhi", "crk"
    )


def correlation_matrix(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    decimals: int = 4,
) -> DataFrame:
    """Pairwise Pearson correlations among ``value_cols`` per group in
    long format: ``group_cols..., col_a, col_b, n, corr`` for every
    unordered pair (col_a < col_b positionally) — the feature-redundancy
    screen before training, from ONE map-side-combined aggregation of
    all the sufficient statistics (k means + k squares + k*(k-1)/2
    cross products), then a narrow unpivot of the single result row per
    group.  Zero-variance columns yield NULL correlations.
    """
    cols = {c: F.col(c).cast("double") for c in value_cols}
    aggs = [F.count("*").cast("double").alias("_n")]
    for c, x in cols.items():
        aggs.append(F.sum(x).alias(f"_s_{c}"))
        aggs.append(F.sum(x * x).alias(f"_q_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(value_cols) for b in value_cols[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(cols[a] * cols[b]).alias(f"_x_{a}_{b}"))
    sums = df.groupBy(*group_cols).agg(*aggs)
    n = F.col("_n")

    def corr(a: str, b: str):
        va = n * F.col(f"_q_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}")
        vb = n * F.col(f"_q_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}")
        cov = n * F.col(f"_x_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")
        return F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb))

    out = None
    for a, b in pairs:
        row = sums.select(
            *group_cols,
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            n.cast("long").alias("n"),
            F.round(corr(a, b), decimals).alias("corr"),
        )
        out = row if out is None else out.unionByName(row)
    return out
