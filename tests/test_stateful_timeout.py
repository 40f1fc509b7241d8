"""EventTimeTimeout sessionization: sessions close via the data path (gap
exceeded by a later event) or the timeout path (watermark passes
session_end + gap), and the closed set equals a batch lag/cumsum gap
sessionization of the same events."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window as W
from pyspark.sql import functions as F

GAP = "30 minutes"
GAP_MS = 30 * 60 * 1000
BASE_US = 1_700_000_000_000_000  # epoch micros
HOUR_US = 3_600_000_000


def _write_events(path, rows):
    """rows: (user_id, hours_offset) — ts written as naive timestamp[us]."""
    users, hours = zip(*rows)
    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [BASE_US + int(h * HOUR_US) for h in hours],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["x"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, path)


def test_gap_sessions_event_timeout_matches_batch(spark, tmp_path):
    from magi_etl_spark.streaming.events_stream import stream_events
    from magi_etl_spark.streaming.stateful import gap_sessions_event_timeout

    src = tmp_path / "src"
    src.mkdir()
    # one file per micro-batch (maxFilesPerTrigger=1); the watermark after
    # each batch is that batch's max event time (0s delay), so timeouts
    # fire deterministically in the NEXT batch
    _write_events(src / "a.parquet", [(1, 0.0), (1, 0.2), (2, 0.1)])
    # b: u1 returns after >gap -> data path closes u1's first session;
    # watermark jumps to 5.1h
    _write_events(src / "b.parquet", [(1, 5.0), (3, 5.1)])
    # c: watermark 5.1h > u2's 0.1h+gap -> u2 times out; u1 s2 (5.5h) and
    # u3 (5.6h) survive; watermark jumps to 12h
    _write_events(src / "c.parquet", [(4, 12.0)])
    # d: watermark 12h -> u1 s2 and u3 time out; then availableNow runs a
    # final timer batch at watermark 24h, closing u4 too — only u5's
    # session is still open when the stream drains
    _write_events(src / "d.parquet", [(5, 24.0)])
    # the file source takes files in modification-time order (ms);
    # files written back to back can share one, so give each its own
    t0 = time.time() - 60
    for i, name in enumerate("abcd"):
        os.utime(src / f"{name}.parquet", (t0 + i, t0 + i))

    stream = stream_events(spark, str(src), max_files_per_trigger=1)
    q = (
        gap_sessions_event_timeout(stream, gap=GAP)
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("select * from closed_sessions").collect()
    )

    # expected: u1 [0, 0.2h] n=2, u1 [5h, 5h], u2 [0.1h, 0.1h],
    # u3 [5.1h, 5.1h], u4 [12h, 12h]; u5 still open -> absent
    assert [(u, n) for (u, _s, _e, n, _v) in got] == [
        (1, 2), (1, 1), (2, 1), (3, 1), (4, 1)
    ]

    # batch equivalence: lag/cumsum gap sessionizer over ALL events,
    # restricted to sessions closed w.r.t. the final watermark (24h)
    batch = spark.read.parquet(str(src)).withColumn(
        "ts", F.col("ts").cast("timestamp")  # naive parquet -> TIMESTAMP (UTC)
    )
    w = W.partitionBy("user_id").orderBy("ts")
    sessions = (
        batch.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev").isNull()
                | (
                    F.unix_millis("ts") - F.unix_millis("prev")
                    > F.lit(GAP_MS)
                )
            ).cast("long"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    wm_ms = (BASE_US + 24 * HOUR_US) // 1000  # final watermark
    closed_batch = sessions.where(
        F.unix_millis("session_end") + F.lit(GAP_MS) <= F.lit(wm_ms)
    )
    expected = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in closed_batch.collect()
    )
    assert got == expected
