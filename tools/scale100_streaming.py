"""Bounded-state soak for the streaming surface (r10 VERDICT item 6).

The state claims in streaming/joins.py and streaming/stateful.py are
analytical ("state is O(rate x horizon), not O(stream length)"); this
tool MEASURES them: a 1M-event stream (≈100x the sf0.001 events table)
plays through 50 ordered micro-batches with steadily advancing event
time, and a ProgressRecorder (the engine's own listener-bus metrics)
captures per-batch state rows/bytes for

  * dedup_stream            (dropDuplicatesWithinWatermark, 10 min wm)
  * sessionize_stream       (applyInPandasWithState + RocksDB provider)
  * interval_join_streams   (stream-stream, 30 min wm + 10 min delay)

PASS = state plateaus: the max over the last 10 batches is not above
1.15x the max over the mid-run batches (20-40), i.e. no per-batch
growth once the watermark is in steady state, and total state is a
small fraction of rows ingested.  Results go into SCALING.md.

Usage: python tools/scale100_streaming.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_FILES = 50
ROWS_PER_FILE = 20_000
USERS = 10_000
FILE_SPAN_S = 3600  # one hour of event time per micro-batch

BASE = "/tmp/scale100_stream"


def build_corpus(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(BASE):
        shutil.rmtree(BASE)
    os.makedirs(BASE)
    t0 = 1_750_000_000  # fixed epoch base; event time advances per file
    for f in range(N_FILES):
        df = (
            spark.range(ROWS_PER_FILE)
            .select(
                (F.lit(f * ROWS_PER_FILE) + F.col("id")).alias("event_id"),
                F.timestamp_seconds(
                    F.lit(t0 + f * FILE_SPAN_S)
                    + (F.col("id") * FILE_SPAN_S / ROWS_PER_FILE).cast("long")
                ).alias("ts"),
                (F.col("id") % USERS).alias("user_id"),
                F.when((F.col("id") % 5) == 0, "purchase")
                .otherwise("view")
                .alias("event_type"),
                F.lit(1.0).alias("value"),
            )
            .coalesce(1)
        )
        df.write.parquet(f"{BASE}/f{f:03d}")
    # file source processes oldest mtime first: force play order
    now = time.time()
    for f in range(N_FILES):
        d = f"{BASE}/f{f:03d}"
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (now - N_FILES + f,) * 2)


def run_stream(spark, name, make_query, ckpt) -> list[dict]:
    from greenbuttonengine_spark.streaming.monitor import attach_progress_recorder

    schema = spark.read.parquet(f"{BASE}/f000").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{BASE}/f*")
    )
    rec = attach_progress_recorder(spark)
    try:
        q = (
            make_query(stream)
            .writeStream.outputMode("append")
            .format("noop")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        t0 = time.time()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        wall = time.time() - t0
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = [r for r in rec.snapshot() if r["num_input_rows"] > 0]
            if sum(r["num_input_rows"] for r in rows) >= N_FILES * ROWS_PER_FILE:
                break
            time.sleep(0.5)
        rows = sorted(
            (r for r in rec.snapshot() if r["num_input_rows"] > 0),
            key=lambda r: r["batch_id"],
        )
        total = sum(r["num_input_rows"] for r in rows)
        states = [r["state_rows_total"] for r in rows]
        mems = [r["state_memory_bytes"] for r in rows]
        mid = max(states[20:40]) if len(states) >= 40 else max(states)
        tail = max(states[-10:])
        plateau = tail <= 1.15 * mid
        print(
            f"{name}: {total} rows in {wall:.1f}s "
            f"({total / wall / 1000:.0f}k rows/s), {len(rows)} batches; "
            f"state rows peak {max(states)} mid {mid} tail {tail} "
            f"({'PLATEAU' if plateau else 'GROWING'}); "
            f"state mem peak {max(mems) / 1e6:.1f} MB",
            flush=True,
        )
        assert plateau, f"{name}: state grows per batch ({states})"
        return rows
    finally:
        spark.streams.removeListener(rec)


def main() -> None:
    from greenbuttonengine_spark.session import get_spark
    from greenbuttonengine_spark.streaming.joins import interval_join_streams
    from greenbuttonengine_spark.streaming.stateful import (
        ROCKSDB_STATE_STORE,
        dedup_stream,
        sessionize_stream,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="scale100_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    build_corpus(spark)
    print(f"corpus: {N_FILES} files x {ROWS_PER_FILE} rows, {USERS} users")

    run_stream(
        spark,
        "soak_dedup",
        lambda s: dedup_stream(s, key_cols=["event_id"], watermark="10 minutes"),
        f"{BASE}/ckpt_dedup",
    )

    for key, value in ROCKSDB_STATE_STORE.items():
        spark.conf.set(key, value)
    run_stream(
        spark,
        "soak_sessionize",
        lambda s: sessionize_stream(s),
        f"{BASE}/ckpt_sess",
    )

    run_stream(
        spark,
        "soak_interval_join",
        lambda s: interval_join_streams(
            s.filter(F.col("event_type") == "view"),
            s.filter(F.col("event_type") == "purchase"),
            max_delay="10 minutes",
            watermark="30 minutes",
        ),
        f"{BASE}/ckpt_ij",
    )


if __name__ == "__main__":
    main()
