"""Streaming observability: capture per-micro-batch progress metrics
(rows in, throughput, batch duration, state size) into an analyzable
DataFrame — the ops surface every production stream needs before
anyone trusts it with a 100 TB feed.

Built on ``StreamingQueryListener`` (the engine's own metrics bus, so
recording costs the pipeline nothing) rather than polling
``query.recentProgress`` (a bounded ring buffer that silently drops
history under load).  The recorder keeps plain dict rows on the
driver — O(batches), tiny — and ``to_df`` lifts them into Spark for
the same windowed/threshold analytics the rest of the engine runs on
events (lag spikes, throughput drops, state growth trends).

At scale: one recorder per driver observes every query on the
session; persist ``to_df`` per hour to parquet and the health queries
(`trending_topk_events`-style z-scores over batch_duration_ms) run
downstream like any other table.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("query_name", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("input_rows_per_second", T.DoubleType()),
        T.StructField("processed_rows_per_second", T.DoubleType()),
        T.StructField("batch_duration_ms", T.LongType()),
        T.StructField("state_rows_total", T.LongType()),
        T.StructField("state_memory_bytes", T.LongType()),
    ]
)


class ProgressRecorder(StreamingQueryListener):
    """Accumulates one row per micro-batch progress event.

    Thread-safe: listener callbacks arrive on the engine's listener
    bus thread.  ``rows`` is bounded by batch count (a number per
    batch, not per record) — at one batch per second that is ~86k
    rows/day, driver-trivial."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: list[dict] = []

    # -- StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = 0
        state_mem = 0
        for op in p.stateOperators or []:
            state_rows += int(getattr(op, "numRowsTotal", 0) or 0)
            state_mem += int(getattr(op, "memoryUsedBytes", 0) or 0)
        dur = p.durationMs or {}
        row = {
            "query_id": str(p.id),
            "run_id": str(p.runId),
            "query_name": p.name,
            "batch_id": int(p.batchId),
            "timestamp": p.timestamp,
            "num_input_rows": int(p.numInputRows or 0),
            "input_rows_per_second": float(p.inputRowsPerSecond or 0.0),
            "processed_rows_per_second": float(p.processedRowsPerSecond or 0.0),
            "batch_duration_ms": int(dur.get("triggerExecution", 0) or 0),
            "state_rows_total": state_rows,
            "state_memory_bytes": state_mem,
        }
        with self._lock:
            self.rows.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- analysis --------------------------------------------------------
    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.rows)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.snapshot(), PROGRESS_SCHEMA)


def attach_progress_recorder(spark: SparkSession) -> ProgressRecorder:
    """Create + register a recorder on this session's listener bus.
    Caller owns removal: ``spark.streams.removeListener(rec)``."""
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    return rec
