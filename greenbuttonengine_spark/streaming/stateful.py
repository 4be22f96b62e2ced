"""Custom stateful streaming operators (SURVEY §2.7 engine surface).

The reference has no streaming runtime; these are the engine-level
capabilities a continuous ingest needs, expressed with Structured
Streaming primitives:

  windowed_key_counts     event-time sliding-window per-key counts with a
                          watermark (late data beyond the watermark is
                          dropped) — the stream-legal half of trending
                          top-k, whose rank_topk half runs per batch.
  dedup_stream            first arrival per key within the watermark.
  sessionize_stream       custom stateful sessionization via
                          applyInPandasWithState: per-user session state
                          (start, last-seen, count) persists across
                          micro-batches; a session is emitted exactly
                          once when later data crosses the inactivity
                          gap — the streaming analog of the batch
                          sessionize_events query.

Stream-stream interval joins live in ``joins.py``.

State scale notes: state is partitioned by the grouping key across
executors; the ``ROCKSDB_STATE_STORE`` confs switch the provider to the
bundled RocksDB store (state spills off-heap/disk — required once keyed
state exceeds executor memory at 100 TB).  Sessions close on OBSERVED
data by default; pass ``idle_timeout_ms`` to also flush sessions of
users who stop sending entirely via ProcessingTimeTimeout — the timeout
fires when any later micro-batch runs after the deadline, emitting the
idle user's open session and removing their state (bounding state
size).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 30 * 60

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
    event_time_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins; re-arrivals
    within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state by event
    time — keys older than the watermark are evicted, so state size is
    O(keys per watermark window), not O(all keys ever) — the property
    that makes continuous ingest dedup viable at 100 TB (the streaming
    analog of the batch ``exact_duplicates`` operator).
    """
    key_cols = key_cols or ["event_id"]
    return events.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _emit(user_id, closed: list[tuple[int, int, int]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
            "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
            "n_events": [c for _, _, c in closed],
        }
    )


def _make_sessionize_group(idle_timeout_ms: int | None):
    """Closure factory (the group fn pickles to executors; the timeout
    setting rides along as a captured constant)."""

    def _sessionize_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        if idle_timeout_ms is not None and state.hasTimedOut:
            # idle flush: the open session closes as-is, state is freed
            if state.exists:
                start_us, last_us, n = state.get
                state.remove()
                yield _emit(user_id, [(start_us, last_us, n)])
            return

        ts_us: list[int] = []
        for pdf in batches:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        ts_us.sort()

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_us[0], ts_us[0], 0

        closed: list[tuple[int, int, int]] = []
        gap_us = SESSION_GAP_SECONDS * 1_000_000
        for t in ts_us:
            if t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1

        state.update((start_us, last_us, n))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)

        if closed:
            yield _emit(user_id, closed)

    return _sessionize_group


def sessionize_stream(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator: streaming sessionization with a
    30-minute inactivity gap, state per user across micro-batches.

    ``idle_timeout_ms`` arms a ProcessingTimeTimeout per user: if no
    event for that user arrives within the duration, the next
    micro-batch (triggered by ANY data or an empty trigger) flushes the
    user's open session and removes their state — idle users' sessions
    eventually emit, and state stays bounded."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize_group(idle_timeout_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


# Session confs for the bundled RocksDB state-store provider — the
# production configuration once keyed state (sessions, dedup horizon)
# exceeds executor heap: state lives off-heap/on-disk per task with
# changelog checkpointing, instead of the default in-memory HDFS-backed
# map.  The application that runs the streams sets them on its session.
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def windowed_key_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding-window per-key counts — the stream-legal half of the
    trending-top-k pipeline.  Sliding (not tumbling) windows give
    overlap so a burst is visible as soon as its first window closes;
    the watermark bounds lateness and aggregation state.  Emits
    (window_start, window_end, key, n) in append mode once the
    watermark passes window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), F.col(key_col).alias("key"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "key",
            F.col("n").cast("long").alias("n"),
        )
    )


def rank_topk(windowed: DataFrame, k: int = 3) -> DataFrame:
    """Per-window top-k rank over the windowed AGGREGATE (O(keys) rows
    per window, never the stream).  Spark rejects window functions on
    a streaming aggregation, so on a live stream this runs inside
    ``foreachBatch`` on the watermark-closed rows of
    :func:`windowed_key_counts` (a closed window arrives in exactly one
    micro-batch, so ranking within the batch IS ranking within the
    window); the same function doubles as the batch/backfill path, so
    stream and batch can never diverge."""
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("window_start", "window_end").orderBy(
            F.desc("n"), F.col("key")
        )
    )
    return (
        windowed.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )
