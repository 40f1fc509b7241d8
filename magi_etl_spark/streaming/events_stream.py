"""Streaming ingestion of the events table.

Batch pipelines (trending, metric queries) stay the parity surface; these
operators show the same aggregations as incremental streams: tumbling
daily/hourly rollups with watermarks for late data, and
``session_window`` sessionization (the streaming form of the batch
gap-join in ``pipelines/trending.py``).

Timestamp-unit caveat: the streaming parquet source needs a declared
schema up front, so — unlike ``tables.load_table``, which adapts lazily —
the ``ts`` physical type is sniffed from the first footer already present
under ``path``: epoch-nanos sources (int64 or TIMESTAMP(NANOS), the
pre-r3 testdata layout) are declared LONG and truncated to micros with
integer division; micro/milli timestamp sources are read natively (declared as
TIMESTAMP, not NTZ — watermarks/session windows require an event-time
column with a timezone; the session runs UTC, so values match the
naive-parquet batch reads).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_NS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)

EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _ts_is_epoch_nanos(path: str) -> bool:
    """True when the first parquet footer under ``path`` (a file or a
    directory of files) stores ``ts`` as epoch-nanos — either a raw int64
    (our ns-long sink contract) or parquet TIMESTAMP(NANOS), which Spark
    can't read natively.  Missing/empty sources default to native
    timestamps (the current testdata layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    candidate = path
    if os.path.isdir(path):
        # recurse: partitioned layouts (path/date=…/part-*.parquet) keep
        # their files below the top level
        found = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            hits = sorted(f for f in files if f.endswith(".parquet"))
            if hits:
                found = os.path.join(root, hits[0])
                break
        if found is None:
            return False
        candidate = found
    try:
        field = pq.read_schema(candidate).field("ts")
    except Exception:
        return False
    if pa.types.is_integer(field.type):
        return True
    return pa.types.is_timestamp(field.type) and field.type.unit == "ns"


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 16,
    ts_unit: str | None = None,
) -> DataFrame:
    """File-based event stream with micro-batch file throttling.

    ``ts_unit`` pins the source layout (``"ns_long"`` for epoch-nanos
    int64 / TIMESTAMP(NANOS) writers, ``"timestamp"`` for native
    micro/milli) — REQUIRED when the landing directory is empty at
    stream-definition time and the eventual writer produces nanos,
    because the footer sniff below can only see files already present
    and defaults to native timestamps."""
    if ts_unit not in (None, "ns_long", "timestamp"):
        raise ValueError(f"ts_unit must be 'ns_long' or 'timestamp', got {ts_unit!r}")
    is_nanos = ts_unit == "ns_long" if ts_unit else _ts_is_epoch_nanos(path)
    if is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENTS_NS_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(path)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(EVENTS_TS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window rollup with late-data watermark: the streaming form
    of the daily conditional-agg rollups (q12)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "approx_users",
            "value_c",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session aggregation via ``session_window`` — the streaming
    counterpart of the batch lag/cumsum sessionizer (A7/J4)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _atomic_swap_write(merged: DataFrame, target_path: str) -> None:
    """Replace ``target_path`` with ``merged``, crash-safely.

    parquet has no atomic overwrite-while-reading: write the merge to a
    staging dir (fully materializing the read of the old target), then
    swap via two metadata renames — a crash at any point leaves either
    the old or the new copy recoverable, never a half-written target.
    (On an object store use Delta/manifest commit instead;
    rename-as-commit is a filesystem-semantics pattern.)"""
    import os
    import shutil

    tmp = target_path + ".staging"
    old = target_path + ".old"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_staging(target_path: str) -> None:
    """Crash recovery: a missing target with a staging copy means we died
    between the two renames in :func:`_atomic_swap_write` — promote the
    good copy; otherwise clear stale staging/old dirs."""
    import os
    import shutil

    tmp = target_path + ".staging"
    if not os.path.exists(target_path) and os.path.exists(tmp):
        os.rename(tmp, target_path)
    shutil.rmtree(target_path + ".old", ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: list[str],
) -> None:
    """Checkpointed micro-batch upsert sink: each batch merges into the
    parquet target via unionByName + left_anti (Delta MERGE shape without
    Delta).  The checkpoint makes reprocessing exactly-once at the batch
    level — a second run over the same input is a no-op."""
    from magi_etl_spark.operators.upsert import upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        import os

        _recover_staging(target_path)
        if os.path.exists(target_path):
            prior = spark.read.parquet(target_path)
            merged = upsert(batch_df, prior, keys)
        else:
            merged = batch_df
        _atomic_swap_write(merged, target_path)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_versioned(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_path: str,
) -> None:
    """Stream → versioned table: every micro-batch commits one APPEND
    version (``operators/versioned.py``), so downstream readers get
    atomic, time-travelable snapshots of the stream — a reader pinned
    to version N never sees later batches, and the current-version
    pointer moves with one rename per batch.

    Exactly-once without Delta: the batch id is recorded as the
    manifest's transaction id, so a checkpoint-replayed batch (crash
    between commit and checkpoint advance) is recognized and skipped —
    the append is idempotent even though the batch function ran
    twice."""
    from magi_etl_spark.operators.versioned import append_version

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_version(batch_df, table_path, txn_id=f"batch-{batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_cdc(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
) -> None:
    """Checkpointed CDC merge sink: each micro-batch of change events
    (upserts + delete tombstones) is compacted into the parquet
    dimension state via :func:`operators.upsert.apply_cdc`.

    The stored state is the TOMBSTONE-INCLUSIVE compacted log
    (:func:`operators.upsert.latest_changes`): each key's winning
    ``ts``/tiebreak row, deletes included, so recency comparison spans
    batches and a late-arriving upsert OLDER than a delete cannot
    resurrect the key.  Read the live dimension with
    :func:`read_cdc_state` (filters tombstones).  Because compaction is
    idempotent over any replay of the log, batch-level reprocessing
    after a crash converges to the same state — the streaming leg of
    the batch q92 gate's operator."""
    from magi_etl_spark.operators.upsert import latest_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        import os

        _recover_staging(target_path)
        changes = batch_df
        if os.path.exists(target_path):
            # stored rows re-enter carrying their ORIGINAL ts/tiebreak,
            # so recency comparison spans batches
            prior = spark.read.parquet(target_path)
            changes = prior.unionByName(batch_df)
        merged = latest_changes(changes, keys, ts_col, tiebreak_cols)
        _atomic_swap_write(merged, target_path)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_cdc_state(
    spark: SparkSession, target_path: str, op_col: str = "op", delete_op: str = "D"
) -> DataFrame:
    """The live dimension behind a :func:`run_foreach_batch_cdc` target:
    the stored compacted log minus delete tombstones."""
    return spark.read.parquet(target_path).where(F.col(op_col) != F.lit(delete_op))


def run_to_memory(stream_df: DataFrame, table_name: str) -> None:
    """Drain all available input into an in-memory table (test/dev sink);
    production sinks write parquet/Delta with checkpointing."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` were already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``) —
    the streaming form of the batch hash-dedup (q23).

    State is bounded by the watermark: a key's fingerprint is evicted
    once the event-time watermark passes it, so state size tracks the
    duplicate-arrival window, not the stream's lifetime — the property
    that keeps this runnable forever at production volume (plain
    ``dropDuplicates`` on a stream accumulates state without bound)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right-stream events to
    a left-stream event of the same ``key`` that happened at most
    ``within`` BEFORE it (attribution-style: click joined to the view
    that preceded it).

    Both sides carry watermarks and the join condition bounds the
    event-time distance, so Spark can size the join state to
    ``watermark + within`` per side and evict — the two requirements
    without which a stream-stream join buffers forever."""
    l = left.select(
        F.col(key).alias("l_key"), F.col("ts").alias("l_ts")
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("r_key"), F.col("ts").alias("r_ts")
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_key").alias(key), "l_ts", "r_ts"
    )


def run_to_memory_append(stream_df: DataFrame, table_name: str) -> None:
    """Drain all available input into an in-memory table in APPEND mode
    (for row-wise operators: dedup, stream-stream joins)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_lsh_index(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    n: int = 3,
    n_hashes: int = 4,
    band_size: int = 2,
) -> None:
    """Streaming near-duplicate detection against the PERSISTENT
    MinHash-LSH index (``operators/lsh_index.py``): each micro-batch of
    documents is signed ONCE, band-joined against the index to emit its
    near-duplicate candidate pairs (appended to ``pairs_path``), and
    committed into the index so the NEXT batch sees it — the daily-
    increment dedup loop as a stream, with per-batch cost proportional
    to the increment (the 8x-history scale probe shows the incremental
    pass is flat in corpus history).

    Idempotence (r5 ADVICE item 3): the INDEX append is exactly-once
    per batch — every batch's signatures go to ``increments/batch=N``
    in overwrite mode, so a checkpoint-replayed batch (crash on either
    side of the pairs write) rewrites the same directory instead of
    permanently duplicating signature rows.  The bootstrap writes an
    EMPTY base index so even batch 0 commits through the idempotent
    increment path.  pairs_path appends remain at-least-once —
    deduplicate downstream on (doc_a, doc_b) when exactness matters (or
    route them through the versioned sink for exactly-once); candidate
    queries over the index itself stay correct either way (re-delivered
    ids supersede via the left-anti in ``incremental_lsh_pairs``)."""
    import os

    from magi_etl_spark.operators.lsh_index import (
        append_to_lsh_index,
        build_lsh_index,
        incremental_lsh_pairs,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # not chkpt: these blocks live for this call only, on the stream's
        # own thread, so chkpt.release() must neither keep nor drop them
        batch_df = batch_df.persist()
        try:
            if not os.path.exists(os.path.join(index_path, "_lsh_params.json")):
                # bootstrap: an empty base index (schema + params only);
                # batch 0's rows then commit through the same idempotent
                # increment path as every other batch
                build_lsh_index(
                    batch_df.limit(0), index_path, n=n, n_hashes=n_hashes
                )
            pairs = incremental_lsh_pairs(
                batch_df, index_path, n=n, n_hashes=n_hashes,
                band_size=band_size,
            )
            pairs.write.mode("append").parquet(pairs_path)
            append_to_lsh_index(
                batch_df, index_path, n=n, n_hashes=n_hashes,
                batch_id=batch_id,
            )
        finally:
            batch_df.unpersist(blocking=False)

    q = (
        doc_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_drift_baseline(
    df: DataFrame,
    baseline_path: str,
    group_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 350.0,
    n_bins: int = 10,
) -> None:
    """Persist the fixed-width histogram a drift monitor compares
    against (``operators/drift.bin_counts`` over a trusted reference
    window).  |groups| x n_bins rows — re-baselining is cheap and
    explicit, never implicit in the stream."""
    from magi_etl_spark.operators.drift import bin_counts

    bin_counts(df, group_col, value_col, lo, hi, n_bins).write.mode(
        "overwrite"
    ).parquet(baseline_path)


def run_foreach_batch_drift_monitor(
    event_stream: DataFrame,
    baseline_path: str,
    monitor_path: str,
    checkpoint_path: str,
    group_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 350.0,
    n_bins: int = 10,
) -> None:
    """Continuous distribution-drift monitoring: every micro-batch is
    binned and PSI-scored against the persisted baseline histogram, and
    the per-group scores land under ``monitor_path/batch=N`` — one
    small parquet per batch, a queryable drift time series.

    Per-batch cost is one conditional-count aggregation over the batch
    plus a broadcast-sized join against the |groups| x n_bins baseline —
    the monitor adds no corpus-sized state to the stream.  The write is
    exactly-once per batch: a checkpoint-replayed batch overwrites its
    own ``batch=N`` directory (the ``increments/batch=N`` idiom the LSH
    index sink uses) instead of appending duplicate score rows.
    """
    from magi_etl_spark.operators.drift import bin_counts, psi_between

    spark = event_stream.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # re-read per batch: a DataFrame created once outside the loop
        # caches its file listing, so a re-baseline mid-stream would be
        # silently ignored (or crash on vacuumed files)
        baseline = spark.read.parquet(baseline_path)
        cur = bin_counts(batch_df, group_col, value_col, lo, hi, n_bins)
        scores = psi_between(baseline, cur, group_col, n_bins)
        scores.write.mode("overwrite").parquet(
            os.path.join(monitor_path, f"batch={batch_id}")
        )

    q = (
        event_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_drift_monitor(spark: SparkSession, monitor_path: str) -> DataFrame:
    """The monitor's drift time series: every batch's per-group PSI
    rows with their ``batch`` partition column."""
    return spark.read.option("basePath", monitor_path).parquet(
        os.path.join(monitor_path, "batch=*")
    )


def run_foreach_batch_dp_release(
    event_stream: DataFrame,
    release_path: str,
    checkpoint_path: str,
    group_cols: list[str] | None = None,
    epsilon: float = 1.0,
    seed: str = "dp",
) -> None:
    """Continuous privacy-budgeted count releases: every micro-batch's
    group counts are published with derandomized Laplace noise
    (``operators/anonymize.dp_noisy_counts``) under
    ``release_path/batch=N``.

    The noise nonce is ``seed|batch_id`` — each release draws FRESH
    deterministic noise (the per-release-randomness requirement a
    fixed seed would violate), while a checkpoint-replayed batch
    regenerates the SAME noise and overwrites its own ``batch=N``
    directory, so replays are byte-identical instead of double-spending
    the privacy budget with a second draw.  Per-batch cost is one
    keyed aggregate over the batch; no corpus-sized state."""
    from magi_etl_spark.operators.anonymize import dp_noisy_counts

    cols = list(group_cols or ["event_type"])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = dp_noisy_counts(
            batch_df, cols, epsilon=epsilon, seed=f"{seed}|{batch_id}"
        )
        out.write.mode("overwrite").parquet(
            os.path.join(release_path, f"batch={batch_id}")
        )

    q = (
        event_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_dp_releases(spark: SparkSession, release_path: str) -> DataFrame:
    """Every published release with its ``batch`` partition column."""
    return spark.read.option("basePath", release_path).parquet(
        os.path.join(release_path, "batch=*")
    )


def run_foreach_batch_cusum_monitor(
    event_stream: DataFrame,
    params_path: str,
    monitor_path: str,
    checkpoint_path: str,
    series_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Continuous CUSUM changepoint monitoring: each micro-batch
    contributes one integer observation per series (the batch's cent
    total), applied to the persisted all-integer CUSUM state under the
    FIXED calibration at ``params_path`` (series, k, h — computed from
    a baseline window by ``operators/changepoint.cusum_params``; a
    monitor that re-estimates its own drift allowance from the stream
    it is testing would chase the level shift it exists to catch).

    State is versioned per batch: processing batch N reads the newest
    ``state/batch=M`` with M < N and overwrites ``state/batch=N`` —
    so a checkpoint-replayed batch re-reads its ORIGINAL predecessor
    state and rewrites byte-identical output instead of double-applying
    its observation (the ``increments/batch=N`` idempotence idiom of
    the LSH-index and DP-release sinks).  Per-batch cost: one keyed
    aggregate over the batch + one |series|-sized full-outer join; no
    corpus-sized state anywhere.
    """
    from magi_etl_spark.operators.changepoint import cusum_step

    spark = event_stream.sparkSession
    state_root = os.path.join(monitor_path, "state")

    def _prev_state(batch_id: int) -> DataFrame | None:
        if not os.path.isdir(state_root):
            return None
        prior = [
            int(d.split("=", 1)[1])
            for d in os.listdir(state_root)
            if d.startswith("batch=") and int(d.split("=", 1)[1]) < batch_id
        ]
        if not prior:
            return None
        return spark.read.parquet(
            os.path.join(state_root, f"batch={max(prior)}")
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        params = spark.read.parquet(params_path)
        obs = batch_df.groupBy(F.col(series_col).alias("series")).agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("x")
        )
        prev = _prev_state(batch_id)
        if prev is None:
            prev = spark.createDataFrame(
                [], "series string, cusum_pos long, cusum_neg long"
            )
        new_state = cusum_step(prev, obs, params, "series", "x")
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_root, f"batch={batch_id}")
        )

    q = (
        event_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_cusum_monitor(spark: SparkSession, monitor_path: str) -> DataFrame:
    """Every batch's CUSUM state/alarm rows with the ``batch`` column."""
    return spark.read.option(
        "basePath", os.path.join(monitor_path, "state")
    ).parquet(os.path.join(monitor_path, "state", "batch=*"))
