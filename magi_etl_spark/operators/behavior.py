"""User-behavior analytics operators: funnel progression, cohort
retention, Markov event transitions, and RFM segmentation.

The reference's product-analytics layer answers "how do users move
through the product" questions with sessionized count queries
(``tasks.py``'s session/user aggregates and the trending pipeline's
per-cohort counts); these operators are the Spark-first generalization
of that family — every one is a composition of keyed aggregations and
keyed joins, no global windows, no driver loops.

Scale shapes (100 TB events):

- ``funnel_stages``: one ``groupBy(user)`` aggregate per stage plus one
  user-keyed join per stage transition — state is one row per user that
  reached the stage, strictly shrinking down the funnel.  The final
  stage-count frame is |stages| rows; conversion ratios come from
  joining that tiny frame to itself on ``stage_idx`` (broadcast), not
  from an unpartitioned window.
- ``cohort_retention``: first-touch per user (one agg), distinct
  (user, week) activity (one agg), one user-keyed join, one
  (cohort, offset) agg.  Cohort sizes re-join broadcast-style from the
  offset-0 slice — per-cohort state only.
- ``markov_transitions``: ``lead()`` over a per-user window (events
  per user are bounded; the window partitions by the same key the
  groupBy shuffles on, so AQE coalesces to one exchange) then a
  (src, dst)-keyed count with map-side combine.
- ``rfm_segments``: per-customer aggregate, then scoring against
  GLOBAL quartile thresholds computed as a 1-row scalar aggregate and
  broadcast back — deliberately NOT ``ntile()`` over all customers,
  which would funnel 100 TB of per-customer rows through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def funnel_stages(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap_s: int | None = None,
) -> DataFrame:
    """Strict-order funnel: a user reaches stage ``i`` if they have a
    ``stages[i]`` event at-or-after their first qualifying ``stages[i-1]``
    event (first-touch semantics, ties inclusive) — and, with
    ``max_gap_s``, no later than ``max_gap_s`` seconds after it (the
    conversion window every funnel product exposes).

    Returns one row per stage: ``stage_idx, stage, n_users,
    conv_from_prev, conv_from_first`` (ratios rounded to 4; stage 0's
    ``conv_from_prev`` is 1.0 by convention).

    NULL users: a NULL ``user_col`` group counts once at stage 0 but
    can never progress (equi-joins drop NULL keys) — identical
    semantics in Spark and SQL engines, so oracle parity holds; filter
    NULLs upstream if the feed can contain them.

    Eager-construction CONTRACT (r14 ADVICE): per-stage reach frames
    pass through ``chkpt.materialize`` at CALL time (see the inline
    note), so constructing the returned DataFrame runs one bounded
    Spark job per stage.  The same contract applies to the other
    fan-out operators in this family (``similarity_join``,
    ``weighted_jaccard_scores``, ``longest_common_runs``,
    ``quantile_line``).  They follow the process-wide checkpoint mode:
    plan-only tooling opts out with
    ``magi_etl_spark.chkpt.set_checkpoint_mode("off")``, and a cluster
    picks the fault-tolerant ``reliable`` mode instead of the
    executor-local default.
    """
    if not stages:
        raise ValueError("funnel_stages needs at least one stage")
    # each stage frame is an eager barrier (the q250/setjoin posture;
    # never a bare persist()): stage k's frame is referenced by stage
    # k+1 AND by the counts union, whose three final references
    # otherwise re-derive the whole stage chain — the compiled plan
    # carried 10 corpus scans for a 4-stage funnel.  The per-stage
    # frame is one (user, first-ts) row per reaching user, far below
    # corpus size.
    reached = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
        .transform(materialize)
    )
    per_stage = [reached]
    for s in stages[1:]:
        step = (
            df.filter(F.col(type_col) == s)
            .join(per_stage[-1].select(user_col, F.col("_t").alias("_prev")), user_col)
            .filter(F.col(ts_col) >= F.col("_prev"))
        )
        if max_gap_s is not None:
            step = step.filter(
                F.col(ts_col)
                <= F.expr(f"timestampadd(SECOND, {int(max_gap_s)}, _prev)")
            )
        reached = (
            step.groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
            .transform(materialize)
        )
        per_stage.append(reached)
    counts = None
    for i, (s, frame) in enumerate(zip(stages, per_stage)):
        row = frame.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i).alias("stage_idx"), F.lit(s).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    prev = counts.select(
        (F.col("stage_idx") + 1).alias("stage_idx"),
        F.col("n_users").alias("_n_prev"),
    )
    first = counts.filter(F.col("stage_idx") == 0).select(
        F.col("n_users").alias("_n_first")
    )

    def ratio(num: F.Column, den: F.Column) -> F.Column:
        # an empty upstream stage yields 0.0, not a division error
        return F.round(
            F.when(den == 0, F.lit(0.0)).otherwise(num / den), 4
        )

    return (
        counts.join(F.broadcast(prev), "stage_idx", "left")
        .crossJoin(F.broadcast(first))
        .select(
            "stage_idx",
            "stage",
            "n_users",
            F.when(F.col("_n_prev").isNull(), F.lit(1.0))
            .otherwise(ratio(F.col("n_users"), F.col("_n_prev")))
            .alias("conv_from_prev"),
            ratio(F.col("n_users"), F.col("_n_first")).alias("conv_from_first"),
        )
    )


def cohort_retention(
    df: DataFrame,
    max_offset: int = 4,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week (Monday-truncated) of
    the user's first event; a user counts as retained at offset ``k`` if
    they have any event in cohort_week + k weeks.

    Returns ``cohort_week (date), week_offset, n_users, retention``
    (ratio vs the cohort's offset-0 size, rounded to 4).
    """
    first = df.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("cohort_week")
    )
    activity = df.select(
        user_col, F.date_trunc("week", ts_col).cast("date").alias("_week")
    ).distinct()
    per_offset = (
        activity.join(first, user_col)
        .withColumn(
            "week_offset",
            (F.datediff("_week", "cohort_week") / 7).cast("int"),
        )
        .filter(
            (F.col("week_offset") >= 0) & (F.col("week_offset") <= max_offset)
        )
        .groupBy("cohort_week", "week_offset")
        # (user, week) is distinct, so count(*) is distinct users
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    size = per_offset.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("_size")
    )
    return (
        per_offset.join(F.broadcast(size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            F.round(F.col("n_users") / F.col("_size"), 4).alias("retention"),
        )
    )


def markov_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: ``src_type, dst_type, n_trans, prob`` where ``prob`` is
    row-normalized per ``src_type`` (rounded to 4).

    Sequence order is (ts, tiebreak) so equal timestamps are
    deterministic across engines.  The window partitions by user —
    per-user event counts bound the task state.
    """
    w = W.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(type_col).alias("src_type"),
            F.lead(type_col).over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
    )
    counts = pairs.groupBy("src_type", "dst_type").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    totals = counts.groupBy("src_type").agg(
        F.sum("n_trans").cast("long").alias("_total")
    )
    return counts.join(F.broadcast(totals), "src_type").select(
        "src_type",
        "dst_type",
        "n_trans",
        F.round(F.col("n_trans") / F.col("_total"), 4).alias("prob"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """RFM segmentation with threshold scoring: per customer compute
    recency (epoch day of last order), frequency (order count), and
    monetary (total spend); score each 1-4 against the GLOBAL quartiles
    of the per-customer distribution (strictly-greater comparisons, so
    score = 1 + #quartile-thresholds exceeded — 4 is best).

    Returns per-segment rollup: ``r_score, f_score, m_score,
    n_customers, avg_monetary`` (the exact unrounded dollar average
    ``sum_cents / n / 100`` — rounding is deferred to the caller /
    compare grid).

    Quartiles come from one scalar ``percentile`` aggregate broadcast
    back — NOT ``ntile()`` over every customer, which is an
    unpartitioned global sort (the exact shape the plan linter rejects).
    Threshold scoring changes tie handling vs ntile (equal values always
    land in the same bucket) — the right trade at scale.

    Monetary is INTEGER CENTS end-to-end (the repo's money rule): the
    earlier round-the-double-sum version survived sf0.001/sf0.01 but
    flipped an ``avg_monetary`` cell at the 6-dp grid at sf0.1 — a
    summation-order last-ulp landing on a ROUND boundary.  With cents,
    the per-customer sum and the segment total are exact BIGINTs, the
    quartile interpolation is dyadic-exact on integer inputs, and the
    final average is a single division chain — bit-identical anywhere.
    """
    per_cust = orders.groupBy(cust_col).agg(
        F.datediff(F.max(date_col).cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("recency"),
        F.count("*").cast("double").alias("frequency"),
        F.sum(F.round(F.col(amount_col) * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    per_cust = per_cust.withColumn(
        "monetary", F.col("monetary_cents").cast("double")
    )
    qs = per_cust.agg(
        *[
            F.expr(f"percentile({m}, array(0.25, 0.5, 0.75))").alias(f"_q_{m}")
            for m in ("recency", "frequency", "monetary")
        ]
    )

    def score(metric: str) -> F.Column:
        q = F.col(f"_q_{metric}")
        return (
            F.lit(1)
            + (F.col(metric) > q[0]).cast("int")
            + (F.col(metric) > q[1]).cast("int")
            + (F.col(metric) > q[2]).cast("int")
        )

    return (
        per_cust.crossJoin(F.broadcast(qs))
        .select(
            score("recency").alias("r_score"),
            score("frequency").alias("f_score"),
            score("monetary").alias("m_score"),
            F.col("monetary_cents"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            # exact bigint total, then ONE division chain — never an
            # order-dependent double average
            (
                F.sum("monetary_cents").cast("double")
                / F.count("*")
                / F.lit(100.0)
            ).alias("avg_monetary"),
        )
    )


def last_touch_attribution(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    lookback_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch revenue attribution: each conversion event is
    credited to the user's most recent preceding touch event (of any
    type in ``touch_types``) no older than ``lookback_s`` seconds;
    conversions with no in-window touch land in the ``'(none)'``
    channel.

    Returns ``channel, n_conversions, attributed_value`` (value summed
    and rounded to 2).

    Shape: one per-user window pass — ``last(..., ignorenulls=True)``
    carries the latest touch (type, ts) forward over the (ts, tiebreak)
    ordered event sequence — then a channel-keyed aggregate.  Per-user
    partitions bound the window state; no self-join of events against
    events (the naive lookback join is events x touches per user).
    """
    w = (
        W.partitionBy(user_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_touch = F.col(type_col).isin(*touch_types)
    touch_struct = F.when(
        is_touch, F.struct(F.col(type_col).alias("t"), F.col(ts_col).alias("at"))
    )
    tagged = df.withColumn("_touch", F.last(touch_struct, ignorenulls=True).over(w))
    conv = tagged.filter(F.col(type_col) == conversion_type)
    in_window = F.col("_touch").isNotNull() & (
        F.col(ts_col)
        <= F.expr(f"timestampadd(SECOND, {int(lookback_s)}, _touch.at)")
    )
    return (
        conv.select(
            F.when(in_window, F.col("_touch.t"))
            .otherwise(F.lit("(none)"))
            .alias("channel"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.round(F.sum("_v"), 2).alias("attributed_value"),
        )
    )


def multi_touch_attribution(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    lookback_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    conversion's credit is split over its in-lookback touch path —
    first and last touch get 0.40 each, the interior splits the
    remaining 0.20 evenly (one touch takes 1.0, two take 0.5 each);
    conversions with no in-window touch credit the ``'(none)'``
    channel — the complement of ``last_touch_attribution``'s
    winner-takes-all rule.

    Returns ``channel, n_touches, credit`` where ``credit`` is the
    channel's total fractional conversions (rounded to 6; per-credit
    arithmetic is pure IEEE so the SQL oracle reproduces each term).

    Shape: one reversed per-user window pass assigns every touch its
    NEXT conversion (no events x events self-join), one per-conversion
    window ranks the in-window path ends, then a channel-keyed
    aggregate; an anti-join adds the untouched conversions."""
    is_conv = F.col(type_col) == conversion_type
    w_rev = (
        W.partitionBy(user_col)
        .orderBy(F.desc(ts_col), F.desc(tiebreak_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    conv_struct = F.when(
        is_conv,
        F.struct(F.col(ts_col).alias("at"), F.col(tiebreak_col).alias("cid")),
    )
    tagged = df.withColumn(
        "_conv", F.last(conv_struct, ignorenulls=True).over(w_rev)
    )
    touches = tagged.filter(
        F.col(type_col).isin(*touch_types)
        & F.col("_conv").isNotNull()
        & (~is_conv)
        & (
            F.col(ts_col)
            >= F.expr(f"timestampadd(SECOND, -{int(lookback_s)}, _conv.at)")
        )
    ).select(
        F.col("_conv.cid").alias("_cid"),
        F.col(type_col).alias("channel"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
    )
    w_path = W.partitionBy("_cid").orderBy("_ts", "_tb")
    w_cnt = W.partitionBy("_cid")
    ranked = touches.select(
        "_cid",
        "channel",
        F.row_number().over(w_path).alias("_pos"),
        F.count(F.lit(1)).over(w_cnt).alias("_n"),
    )
    n = F.col("_n")
    edge = (F.col("_pos") == 1) | (F.col("_pos") == n)
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(edge, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2).cast("double"))
    )
    credited = ranked.select("_cid", "channel", credit.alias("_credit"))
    convs = df.filter(is_conv).select(F.col(tiebreak_col).alias("_cid"))
    untouched = convs.join(
        credited.select("_cid").distinct(), "_cid", "left_anti"
    ).select(
        "_cid", F.lit("(none)").alias("channel"), F.lit(1.0).alias("_credit")
    )
    return (
        credited.unionByName(untouched)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(F.sum("_credit"), 6).alias("credit"),
        )
    )


def _journey_transitions(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-journey transition counts for the Markov attribution model:
    a journey is a user's touch sequence up to its NEXT conversion
    (the reversed-window assignment ``multi_touch_attribution`` uses;
    trailing touches with no later conversion form a null journey).
    States: ``(start)`` -> first touch, touch -> touch, last touch ->
    ``(conv)`` or ``(null)``.  One window pass + one keyed count."""
    is_conv = F.col(type_col) == conversion_type
    w_rev = (
        W.partitionBy(user_col)
        .orderBy(F.desc(ts_col), F.desc(tiebreak_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    conv_id = F.when(is_conv, F.col(tiebreak_col))
    tagged = df.withColumn(
        "_cid", F.last(conv_id, ignorenulls=True).over(w_rev)
    )
    touches = tagged.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("_u"),
        # null journeys share one id per user: tag -1
        F.coalesce(F.col("_cid"), F.lit(-1)).alias("_jid"),
        F.col(type_col).alias("_state"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
    )
    w_j = W.partitionBy("_u", "_jid").orderBy("_ts", "_tb")
    seq = touches.withColumn("_prev", F.lag("_state").over(w_j)).withColumn(
        "_next", F.lead("_state").over(w_j)
    )
    internal = seq.select(
        F.coalesce(F.col("_prev"), F.lit("(start)")).alias("src"),
        F.col("_state").alias("dst"),
    )
    ends = seq.where(F.col("_next").isNull()).select(
        F.col("_state").alias("src"),
        F.when(F.col("_jid") >= 0, F.lit("(conv)"))
        .otherwise(F.lit("(null)"))
        .alias("dst"),
    )
    # conversions with no touches: (start) -> (conv) directly
    conv_ids = df.filter(is_conv).select(
        F.col(user_col).alias("_u"), F.col(tiebreak_col).alias("_jid")
    )
    untouched = conv_ids.join(
        touches.select("_u", "_jid").distinct(), ["_u", "_jid"], "left_anti"
    ).select(F.lit("(start)").alias("src"), F.lit("(conv)").alias("dst"))
    return (
        internal.unionByName(ends)
        .unionByName(untouched)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def markov_attribution(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    n_iter: int = 25,
) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the third leg
    of the attribution family after last-touch (q148) and U-shaped
    (q182): build the journey transition chain, compute the absorbing
    conversion probability from ``(start)``, and credit each channel
    by its REMOVAL EFFECT — how much the conversion probability drops
    when the channel's state is deleted (its outgoing mass falls
    through to ``(null)``; Anderl et al.'s removal-effect model).
    ``share`` normalizes the effects to 1.

    Scale shape: transition counting is the corpus-scale pass (one
    window + one keyed count); the chain itself is |channels|+3 states
    — the solve COLLECTS the tiny matrix and runs ``n_iter`` fixed
    value-iteration steps per scenario driver-side (the BPE-trainer
    lesson: never launch a job cascade over a driver-trivial frame).
    The fixed iteration count makes the arithmetic replayable: a SQL
    oracle unrolls the same iterations over the same counts.

    Returns ``(channel, removal_effect, share)``, both rounded to 6;
    ``p_conv`` for the full chain rides every row for reference."""
    spark = df.sparkSession
    trans = _journey_transitions(
        df, touch_types, conversion_type, user_col, ts_col, type_col,
        tiebreak_col,
    ).collect()
    # sorted: summation order inside the solve is then run-independent
    counts: dict[tuple[str, str], int] = {
        (r["src"], r["dst"]): int(r["n"])
        for r in sorted(trans, key=lambda r: (r["src"], r["dst"]))
    }
    totals: dict[str, int] = {}
    for (s, _), n in counts.items():
        totals[s] = totals.get(s, 0) + n

    def p_conv(removed: str | None) -> float:
        # removed channel: all its outgoing mass becomes (null) — the
        # standard removal semantics (visits to it never convert)
        p: dict[str, float] = {c: 0.0 for c in totals}
        p["(conv)"], p["(null)"] = 1.0, 0.0
        for _ in range(n_iter):
            nxt = {}
            for s, tot in totals.items():
                if s == removed:
                    nxt[s] = 0.0
                    continue
                acc = 0.0
                for (src, dst), n in counts.items():
                    if src != s:
                        continue
                    target = 0.0 if dst == removed else p.get(dst, 0.0)
                    acc += (n / tot) * target
                nxt[s] = acc
            for s, v in nxt.items():
                p[s] = v
        return p.get("(start)", 0.0)

    base = p_conv(None)
    effects = []
    for c in touch_types:
        pc = p_conv(c)
        effects.append((c, 1.0 - (pc / base) if base > 0 else 0.0))
    total_eff = sum(e for _, e in effects)
    rows = [
        (
            c,
            round(e, 6),
            round(e / total_eff, 6) if total_eff > 0 else None,
            round(base, 6),
        )
        for c, e in effects
    ]
    return spark.createDataFrame(
        rows,
        "channel string, removal_effect double, share double, "
        "p_conv double",
    )


def top_event_paths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    max_steps: int = 8,
    k: int = 20,
) -> DataFrame:
    """The corpus's ``k`` most common user-day event paths: per (user,
    calendar day), the first ``max_steps`` event types in time order
    joined with ``>``, then ``path, n_user_days`` ranked
    (count desc, path asc) for a deterministic cut.  The classic
    product-analytics "what do sessions look like" sweep; capping at
    ``max_steps`` keeps heavy users from generating unique-by-length
    paths that never aggregate.

    Shape: ONE keyed aggregate builds each user-day's ordered type list
    (collect_list of (ts, tiebreak, type) structs, array_sort — struct
    order gives the time-then-tiebreak sort without a window), a second
    counts paths, and the cut is TakeOrdered.  Per-group state is
    bounded by events-per-user-day; nothing corpus-sized is collected
    or windowed."""
    day = F.to_date(F.col(ts_col)).alias("_day")
    per_day = (
        df.select(
            F.col(user_col).alias("_u"),
            day,
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tiebreak_col).alias("tb"),
                F.col(type_col).alias("et"),
            ).alias("_s"),
        )
        .groupBy("_u", "_day")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list("_s")),
                        lambda s: s["et"],
                    ),
                    1,
                    max_steps,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        per_day.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), F.asc("path"))
        .limit(k)
    )
