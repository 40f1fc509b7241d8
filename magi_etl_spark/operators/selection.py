"""Exact distributed order statistics WITHOUT a global sort: the
iterative histogram-narrowing selection algorithm (the classic
distributed k-th-smallest — Blum et al.'s selection problem in its
aggregation-friendly form).  ``grid_quantiles`` (operators/sketches.py)
answers the same question APPROXIMATELY in one pass; this operator is
the exact complement for when the answer must be the true order
statistic (SLA percentiles, exact medians for robust scaling) and the
column is too large to sort.

Round r: one map-side-combinable aggregation buckets the in-range
values into ``n_bins`` equal-width integer bins and counts each; the
driver walks the ≤``n_bins`` counts to find the bin containing the
k-th value, rebases k, and narrows [lo, hi] to that bin.  The integer
range shrinks ≥``n_bins``× per round, so a 64-bit key needs at most
``ceil(64 / log2(n_bins))`` rounds (8 at the default 256) — each a
single scan-side aggregate with ≤``n_bins`` rows crossing the driver
(the bounded-collect idiom of ``coreset.kcenter_select``).  No shuffle
of the data itself, ever: the only exchange is the ≤256-row partial-
aggregate merge.

Determinism: pure integer arithmetic end to end — bin ids are floor
divisions, k-th is the standard 1-indexed order statistic over the
multiset (duplicates counted), so a SQL oracle replays it as
``ORDER BY v LIMIT 1 OFFSET k-1``.

Scope note: the reference app computes percentiles with pandas
``quantile`` driver-side (dash_app/analytics.py); here the exact
answer is produced by bounded aggregation rounds that never hold the
column anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def _prepared(df: DataFrame, col: str) -> DataFrame:
    """The single-column long projection the selection rounds scan."""
    return df.select(F.col(col).cast("long").alias("_v")).where(
        F.col("_v").isNotNull()
    )


def kth_smallest(
    df: DataFrame,
    col: str,
    k: int,
    n_bins: int = 256,
) -> int:
    """The exact k-th smallest (1-indexed, duplicates counted) of an
    integer column, via histogram-narrowing rounds.  Raises on an empty
    frame or out-of-range ``k``.

    The projected column is a lazy ``chkpt`` barrier, filled by the
    first round: every narrowing round re-aggregates the same
    single-column frame, and without the barrier each of the
    ~log_bins(range) rounds would re-read the source scan — a 12×
    source-scan bill at 100 TB for a 3-quantile call."""
    return _kth_prepared(materialize(_prepared(df, col), eager=False), k, n_bins)


def _kth_prepared(vals: DataFrame, k: int, n_bins: int = 256) -> int:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    row = vals.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if row["n"] == 0 or k > row["n"]:
        raise ValueError(f"k={k} out of range for n={row['n']}")
    lo, hi = int(row["lo"]), int(row["hi"])
    while lo < hi:
        width = (hi - lo) // n_bins + 1
        # one aggregation: counts per equal-width bin inside [lo, hi].
        # Bin id is exact floor division (`DIV` on named columns — the
        # epochs idiom, no value splicing): a double `/` would lose
        # precision past 2**53 and misroute boundary values.  The
        # subtraction runs in decimal(38,0) — the codebase's wrap-free
        # idiom — because the first round's span ``hi - lo`` can exceed
        # LONG_MAX (lo near LONG_MIN with non-negative values), where a
        # BIGINT subtraction raises under ANSI Spark (the 4.x default)
        # or silently wraps to a negative bin id the 0..n_bins driver
        # walk never visits, re-running the same round forever (r10
        # ADVICE).  ``width`` itself always fits: span/n_bins ≤ 2**56.
        hist = dict(
            vals.where((F.col("_v") >= lo) & (F.col("_v") <= hi))
            .select(
                "_v",
                F.lit(lo).alias("_lo"),
                F.lit(width).alias("_w"),
            )
            .groupBy(
                F.expr(
                    "(CAST(_v AS DECIMAL(38,0))"
                    " - CAST(_lo AS DECIMAL(38,0))) DIV _w"
                ).alias("_b")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        acc = 0
        for b in range(n_bins + 1):
            c = hist.get(b, 0)
            if acc + c >= k:
                k -= acc
                lo, hi = lo + b * width, min(hi, lo + b * width + width - 1)
                break
            acc += c
    return lo


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[tuple[int, int]],
    n_bins: int = 256,
) -> DataFrame:
    """Exact quantiles at ratios ``num/den`` (e.g. ``(1, 2)`` = median,
    ``(9, 10)`` = p90) as ``q_num, q_den, k, value`` — the lower
    empirical quantile convention ``k = ceil(q * n)`` (exact integer
    arithmetic, no float boundary).  The projected column is materialized
    ONCE across all ratios (see :func:`kth_smallest` for why), and the
    narrowing rounds for ALL ratios run in LOCKSTEP (r15 optimization):
    each round is ONE aggregation computing a histogram per DISTINCT
    active [lo, hi] range (ratios sharing a range — always true in
    round 1 — share one histogram with no row expansion; diverged
    ranges are tagged and unioned through one explode), prefixed by the
    union-of-ranges filter, as the old per-ratio WHERE was.  The old
    shape ran an independent round loop per ratio (~4 passes per ratio
    instead of ~4 total).  The per-ratio walk is unchanged, so every
    returned order statistic is identical."""
    spark: SparkSession = df.sparkSession
    vals = materialize(_prepared(df, col), eager=False)
    row = vals.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    n = int(row["n"])
    if n == 0:
        raise ValueError("exact_quantiles on an empty frame")
    glo, ghi = int(row["lo"]), int(row["hi"])
    # state per ratio: (k remaining, lo, hi)
    state: list[list[int]] = []
    for num, den in qs:
        k = max(1, -((-num * n) // den))  # ceil(num*n/den), ints only
        state.append([k, glo, ghi])
    while any(lo < hi for _, lo, hi in state):
        # distinct active ranges; ratios sharing a range share a
        # histogram (identical width => identical bin ids)
        ranges: dict[tuple[int, int], list[int]] = {}
        for i, s in enumerate(state):
            if s[1] < s[2]:
                ranges.setdefault((s[1], s[2]), []).append(i)
        rlist = sorted(ranges)
        in_any = None
        for lo, hi in rlist:
            c = (F.col("_v") >= lo) & (F.col("_v") <= hi)
            in_any = c if in_any is None else (in_any | c)
        scoped = vals.where(in_any)

        def bin_expr(lo: int, width: int) -> F.Column:
            # same exact-integer bin id as _kth_prepared: decimal
            # subtraction (wrap-free under ANSI), floor division
            return F.expr(
                f"(CAST(_v AS DECIMAL(38,0))"
                f" - CAST({lo} AS DECIMAL(38,0))) DIV {width}"
            ).cast("long")

        hists: dict[int, dict[int, int]] = {}
        if len(rlist) == 1:
            (lo, hi), width = rlist[0], (rlist[0][1] - rlist[0][0]) // n_bins + 1
            hists[0] = {
                int(r["_b"]): int(r["c"])
                for r in scoped.groupBy(
                    bin_expr(lo, width).alias("_b")
                ).agg(F.count(F.lit(1)).alias("c")).collect()
            }
        else:
            branches = []
            for ri, (lo, hi) in enumerate(rlist):
                width = (hi - lo) // n_bins + 1
                branches.append(
                    F.when(
                        (F.col("_v") >= lo) & (F.col("_v") <= hi),
                        F.struct(
                            F.lit(ri).alias("i"),
                            bin_expr(lo, width).alias("b"),
                        ),
                    )
                )
            for r in (
                scoped.select(
                    F.explode(
                        F.filter(
                            F.array(*branches), lambda s: s.isNotNull()
                        )
                    ).alias("s")
                )
                .groupBy(F.col("s.i").alias("i"), F.col("s.b").alias("b"))
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            ):
                hists.setdefault(int(r["i"]), {})[int(r["b"])] = int(r["c"])
        for ri, (rlo, rhi) in enumerate(rlist):
            width = (rhi - rlo) // n_bins + 1
            hist = hists.get(ri, {})
            for i in ranges[(rlo, rhi)]:
                k = state[i][0]
                acc = 0
                for b in range(n_bins + 1):
                    c = hist.get(b, 0)
                    if acc + c >= k:
                        state[i][0] = k - acc
                        state[i][1] = rlo + b * width
                        state[i][2] = min(rhi, rlo + b * width + width - 1)
                        break
                    acc += c
    rows = [
        (num, den, max(1, -((-num * n) // den)), state[j][1])
        for j, (num, den) in enumerate(qs)
    ]
    return spark.createDataFrame(
        rows, "q_num int, q_den int, k long, value long"
    )
