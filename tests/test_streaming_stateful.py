"""Streaming windowed aggregation + custom stateful sessionization,
driven by a file-backed stream of the synthetic events table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def event_stream(spark, tmp_path, sf_dir):
    from greenbuttonengine_spark.sources.catalog import load_table

    src = load_table(spark, "events", sf_dir)  # normalizes the nanos ts column
    # split by TIME (not randomly) so micro-batches arrive in event-time
    # order, as a real ingest would; one file per trigger -> two batches,
    # so the watermark advances between them and state crosses batches
    split = src.selectExpr("percentile(cast(ts as double), 0.5) p").first().p
    data_dir = tmp_path / "events_stream"
    # the session writes parquet as TIMESTAMP_MILLIS for ESPI golden
    # parity; keep full microseconds here so stream == batch input
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        src.filter(F.col("ts").cast("double") <= split).coalesce(1).write.parquet(
            str(data_dir / "a")
        )
        src.filter(F.col("ts").cast("double") > split).coalesce(1).write.parquet(
            str(data_dir / "b")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    # the file source processes oldest-mtime first; force a < b so
    # micro-batches arrive in event-time order
    import os
    import time as _time

    now = _time.time()
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            early = "/a/" in root + "/" or root.endswith("/a")
            os.utime(os.path.join(root, f), (now - 60, now - 60) if early else (now, now))
    stream = (
        spark.readStream.schema(src.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    return stream, src


def test_windowed_event_counts(spark, event_stream):
    from greenbuttonengine_spark.streaming.stateful import windowed_key_counts

    stream, src = event_stream
    agg = windowed_key_counts(
        stream, window="60 minutes", slide="60 minutes", watermark="1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT CAST(sum(n) AS BIGINT) AS total FROM win_counts"
        ).first()
        # append mode emits only watermark-closed windows; all but the last
        # open window of the bounded input must be present
        assert got.total is not None and got.total > 0.9 * src.count()
        row = spark.sql("SELECT * FROM win_counts LIMIT 1").first()
        assert row.window_end > row.window_start
    finally:
        q.stop()


def test_sessionize_stream_matches_batch(spark, event_stream):
    from greenbuttonengine_spark.streaming.stateful import sessionize_stream

    stream, src = event_stream
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM sessions").collect()
        # sessions still open (no later batch crossed the gap) are held in
        # state; everything emitted must be a genuine closed session
        assert emitted, "expected some closed sessions from a 30-day corpus"
        for r in emitted[:50]:
            assert r.session_end >= r.session_start
            assert r.n_events >= 1

        # cross-check against the batch sessionizer: every emitted closed
        # session must exist in the batch result with identical bounds
        from greenbuttonengine_spark.plans.advanced_queries import sessionize_events

        batch = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in sessionize_events(spark, "/root/testdata/sf0.001").collect()
        }
        stream_set = {
            (r.user_id, r.session_start, r.session_end, r.n_events) for r in emitted
        }
        missing = stream_set - batch
        assert not missing, f"stream sessions absent from batch: {list(missing)[:3]}"
    finally:
        q.stop()


def test_idle_timeout_flushes_sessions(spark, tmp_path):
    """A user who stops sending still gets their session emitted: the
    ProcessingTimeTimeout fires when a later micro-batch (any data)
    runs past the deadline, flushing the idle user's open session and
    freeing their state."""
    import time

    from pyspark.sql import Row

    from greenbuttonengine_spark.streaming.stateful import sessionize_stream

    data_dir = tmp_path / "drip"
    data_dir.mkdir()
    mk = lambda uid, sec: Row(  # noqa: E731
        user_id=uid, ts=__import__("datetime").datetime(2024, 1, 1, 0, 0, sec)
    )
    spark.createDataFrame([mk(1, 0), mk(1, 10)]).coalesce(1).write.parquet(
        str(data_dir / "a")
    )
    schema = "user_id bigint, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    q = (
        sessionize_stream(stream, idle_timeout_ms=1000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("idle_sessions")
        .start()
    )

    # NOTE: processAllAvailable() never quiesces with a processing-time
    # timeout armed (the engine keeps scheduling batches so deadlines
    # can fire), so this test synchronizes by polling the sink.
    def wait_for(pred, timeout_s=90.0):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if pred():
                return True
            time.sleep(0.5)
        return False

    try:
        # batch 1 processed: user 1's session exists only as open state
        assert wait_for(lambda: q.lastProgress is not None)
        time.sleep(1.5)  # let user 1's processing-time deadline lapse
        # any later batch triggers the timeout path for idle user 1
        spark.createDataFrame([mk(2, 30)]).coalesce(1).write.parquet(
            str(data_dir / "b")
        )
        assert wait_for(
            lambda: spark.sql(
                "SELECT count(*) c FROM idle_sessions WHERE user_id = 1"
            ).first().c
            == 1
        ), "idle user's session was never flushed"
        row = spark.sql("SELECT * FROM idle_sessions WHERE user_id = 1").first()
        assert row.n_events == 2
        assert row.session_end >= row.session_start
    finally:
        q.stop()


def test_rocksdb_state_store_provider(spark, event_stream):
    """The production RocksDB state-store configuration must actually
    run: same dedup pipeline, state backed by the bundled RocksDB
    provider instead of the in-memory HDFS-backed map."""
    from greenbuttonengine_spark.streaming.stateful import (
        ROCKSDB_STATE_STORE,
        dedup_stream,
    )

    stream, src = event_stream
    prev = {key: spark.conf.get(key, None) for key in ROCKSDB_STATE_STORE}
    for key, value in ROCKSDB_STATE_STORE.items():
        spark.conf.set(key, value)
    q = (
        dedup_stream(stream.union(stream), key_cols=["event_id"], watermark="120 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("deduped_rocks")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM deduped_rocks"
        ).first()
        assert got.n == got.d == src.count()
        # only the RocksDB provider reports rocksdb* metrics
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics
    finally:
        q.stop()
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def test_dedup_stream_drops_rearrivals(spark, event_stream):
    """Duplicates injected across micro-batches within the watermark
    must be dropped; the survivor set equals batch-distinct keys."""
    from greenbuttonengine_spark.streaming.stateful import dedup_stream

    stream, src = event_stream
    # salt the stream with duplicates: every event arrives twice (the
    # union doubles each micro-batch's rows; same event_id, same ts)
    doubled = stream.union(stream)
    q = (
        dedup_stream(doubled, key_cols=["event_id"], watermark="120 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("deduped")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM deduped"
        ).first()
        assert got.n == got.d, "emitted duplicates"
        assert got.n == src.count(), "lost genuine events"
    finally:
        q.stop()


def test_trending_topk_stream_matches_batch(spark, event_stream, tmp_path):
    """The streamed top-k (foreachBatch rank over watermark-closed
    windows) must equal the batch rank over the same windows computed
    directly from the static input — restricted to windows the stream
    actually closed (append mode withholds the final open windows)."""
    from greenbuttonengine_spark.streaming.stateful import (
        rank_topk,
        windowed_key_counts,
    )

    stream, src = event_stream
    out = str(tmp_path / "trending")

    def rank_and_write(batch, _epoch_id):
        if not batch.isEmpty():
            rank_topk(batch, k=2).write.mode("append").parquet(out)

    q = (
        windowed_key_counts(
            stream, window="120 minutes", slide="60 minutes", watermark="1 minute"
        )
        .writeStream.outputMode("append")
        .foreachBatch(rank_and_write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() > 0
    batch = rank_topk(
        windowed_key_counts(src, window="120 minutes", slide="60 minutes"), k=2
    )
    closed = {(r.window_start, r.window_end) for r in got.collect()}
    expect = {
        (r.window_start, r.window_end, r.key, r.n, r.rank)
        for r in batch.collect()
        if (r.window_start, r.window_end) in closed
    }
    assert {
        (r.window_start, r.window_end, r.key, r.n, r.rank) for r in got.collect()
    } == expect


def test_watermark_drops_late_events(spark, tmp_path):
    """An event older than the watermark horizon, arriving in a later
    micro-batch, must not re-open or update a closed window — the
    late-data contract the 100 TB ingest relies on for bounded state.

    Batch separation is forced by a stop/restart cycle on a shared
    checkpoint (file-source batching heuristics may otherwise merge
    small files into one micro-batch), which also pins that the
    watermark PERSISTS across restart — the property that makes
    resumable large-scale ingest state-bounded."""
    import datetime

    from pyspark.sql import Row

    from greenbuttonengine_spark.streaming.stateful import windowed_key_counts

    d = datetime.datetime
    base = d(2026, 3, 1, 10, 0)
    data_dir = tmp_path / "late_stream"

    def ev(i, ts):
        return Row(event_id=i, ts=ts, user_id=1, event_type="view",
                   value=1.0, props="{}")

    from collections import Counter

    out_dir = tmp_path / "late_out"

    def run_once():
        """Run the stream to completion against a persistent parquet
        sink + checkpoint (memory sinks cannot recover), returning the
        multiset of ALL emitted (hour, n) rows so far."""
        schema = spark.read.parquet(str(data_dir / "a")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(data_dir))
        )
        agg = windowed_key_counts(
            stream, window="60 minutes", slide="60 minutes", watermark="1 minute")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return Counter(
            (r.window_start.hour, r.n)
            for r in spark.read.parquet(str(out_dir)).collect())

    # run 1: events at 10:00 and 12:00 -> watermark advances to 11:59,
    # closing the [10:00,11:00) window (end 11:00 <= 11:59), which the
    # no-data micro-batch emits with n=1
    spark.createDataFrame(
        [ev(1, base), ev(2, base + datetime.timedelta(hours=2))]
    ).coalesce(1).write.parquet(str(data_dir / "a"))
    first = run_once()
    assert first[(10, 1)] == 1, first

    # run 2 (restart on the same checkpoint): a 10:30 straggler whose
    # window is already CLOSED (end 11:00 <= persisted watermark 11:59
    # -> must be dropped) plus a fresh 13:02 event that advances the
    # watermark to 13:01, finalizing the [12:00,13:00) window
    spark.createDataFrame(
        [ev(3, base + datetime.timedelta(minutes=30)),
         ev(4, base + datetime.timedelta(hours=3, minutes=2))]
    ).coalesce(1).write.parquet(str(data_dir / "b"))
    second = run_once()
    # run-2 emissions = multiset delta vs run 1: the straggler must
    # not add ANY hour-10 row (a wrongly re-admitted late event would
    # re-emit (10, 1) a second time, or (10, 2))
    delta = second - first
    assert all(h != 10 for h, _ in delta), dict(delta)
    assert delta[(12, 1)] == 1, dict(delta)


def test_progress_recorder_captures_stream_metrics(spark, tmp_path):
    """The listener-bus recorder must capture per-batch metrics (rows
    in, duration, state size for the windowed aggregate) that reconcile
    with what the stream ingested."""
    import time

    from pyspark.sql import Row

    from greenbuttonengine_spark.streaming.monitor import attach_progress_recorder
    from greenbuttonengine_spark.streaming.stateful import windowed_key_counts

    import datetime
    base = datetime.datetime(2026, 4, 1, 9, 0)
    data = tmp_path / "mon_stream"
    spark.createDataFrame(
        [Row(event_id=i, ts=base + datetime.timedelta(minutes=i), user_id=1,
             event_type="view", value=1.0, props="{}") for i in range(10)]
    ).write.parquet(str(data))

    rec = attach_progress_recorder(spark)
    try:
        schema = spark.read.parquet(str(data)).schema
        stream = spark.readStream.schema(schema).parquet(str(data))
        q = (windowed_key_counts(stream, window="60 minutes",
                                 slide="60 minutes", watermark="1 minute")
             .writeStream.outputMode("append").format("memory")
             .queryName("mon_counts")
             .option("checkpointLocation", str(tmp_path / "mon_ckpt"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events arrive async on the bus thread
        deadline = time.time() + 30
        while time.time() < deadline:
            if sum(r["num_input_rows"] for r in rec.snapshot()) >= 10:
                break
            time.sleep(0.5)
        rows = rec.snapshot()
        assert sum(r["num_input_rows"] for r in rows) == 10, rows
        assert any(r["state_rows_total"] > 0 for r in rows), rows
        assert all(r["batch_duration_ms"] >= 0 for r in rows), rows
        progress = rec.to_df(spark)
        assert progress.select("query_id").distinct().count() == 1
        assert progress.groupBy().sum("num_input_rows").first()[0] == 10
    finally:
        spark.streams.removeListener(rec)


def test_stream_stream_interval_join_matches_batch(spark, event_stream):
    """Watermarked stream-stream interval join: the INNER join's row
    set must equal the identical static join, including matches whose
    two sides arrive in different micro-batches."""
    from greenbuttonengine_spark.streaming.joins import (
        attribute_conversions_stream)

    stream, src = event_stream
    q = (
        attribute_conversions_stream(stream, max_delay="60 minutes",
                                     watermark="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.key, r.l_id, r.r_id)
            for r in spark.sql("SELECT * FROM attrib").collect()
        }
        imps = src.filter(F.col("event_type") == "view").selectExpr(
            "user_id k", "event_id l_id", "ts l_ts")
        convs = src.filter(F.col("event_type") == "purchase").selectExpr(
            "user_id rk", "event_id r_id", "ts r_ts")
        batch = {
            (r.k, r.l_id, r.r_id)
            for r in imps.join(
                convs,
                (imps.k == convs.rk)
                & (convs.r_ts >= imps.l_ts)
                & (convs.r_ts <= F.expr("l_ts + INTERVAL 60 minutes")),
            ).collect()
        }
        assert batch, "test corpus has no view->purchase pairs in window"
        assert got == batch, (len(got), len(batch))
        # delay accounting sanity
        for r in spark.sql("SELECT * FROM attrib LIMIT 20").collect():
            assert 0 <= r.delay_sec <= 3600
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_unmatched(spark, event_stream):
    """left_outer: matched rows equal the batch inner join; NULL-right
    rows are genuinely unmatched views whose window the watermark has
    provably closed (the tail of a finite stream stays buffered)."""
    from greenbuttonengine_spark.streaming.joins import (
        attribute_conversions_stream)

    stream, src = event_stream
    q = (
        attribute_conversions_stream(stream, max_delay="60 minutes",
                                     watermark="30 minutes",
                                     join_type="left_outer")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_outer")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM attrib_outer").collect()
        nulls = {r.l_id for r in rows if r.r_id is None}
        assert nulls, "a 30-day corpus must close some unmatched windows"
        imps = src.filter(F.col("event_type") == "view").selectExpr(
            "user_id k", "event_id l_id", "ts l_ts")
        convs = src.filter(F.col("event_type") == "purchase").selectExpr(
            "user_id rk", "event_id r_id", "ts r_ts")
        matched_batch = {
            r.l_id
            for r in imps.join(
                convs,
                (imps.k == convs.rk)
                & (convs.r_ts >= imps.l_ts)
                & (convs.r_ts <= F.expr("l_ts + INTERVAL 60 minutes")),
            ).collect()
        }
        leaked = nulls & matched_batch
        assert not leaked, f"outer join emitted NULL for matched views: {list(leaked)[:3]}"
    finally:
        q.stop()


def test_interval_join_output_schema_pinned(spark, tmp_path):
    """The documented output contract of interval_join_streams: exactly
    6 UNIQUELY-named columns (key, l_id, l_ts, r_id, r_ts, delay_sec).
    A duplicate name would survive Row-attribute access in the parity
    tests but break any parquet write or downstream join on the result
    (VERDICT r10 item 2), so pin the schema and smoke-write it."""
    import datetime

    from pyspark.sql import Row

    from greenbuttonengine_spark.streaming.joins import interval_join_streams

    base = datetime.datetime(2026, 5, 1, 12, 0)
    mk = lambda i, m, et: Row(  # noqa: E731
        event_id=i, ts=base + datetime.timedelta(minutes=m), user_id=7,
        event_type=et)
    left = spark.createDataFrame([mk(1, 0, "view"), mk(2, 120, "view")])
    right = spark.createDataFrame([mk(10, 5, "purchase"),
                                   mk(11, 200, "purchase")])

    # withWatermark is a no-op on batch frames, so the exact production
    # plan (select -> watermark -> time-range join -> project) runs here
    joined = interval_join_streams(left, right, max_delay="10 minutes")
    want = ["key", "l_id", "l_ts", "r_id", "r_ts", "delay_sec"]
    assert joined.columns == want, joined.columns
    assert len(set(joined.columns)) == 6, "duplicate output column name"

    out = tmp_path / "ij_schema_smoke"
    joined.write.parquet(str(out))  # throws on any ambiguous/dup name
    back = spark.read.parquet(str(out))
    assert sorted(back.columns) == sorted(want)
    rows = back.collect()
    assert {(r.l_id, r.r_id) for r in rows} == {(1, 10)}
    assert rows[0].delay_sec == 300.0

    # the streaming form writes through a parquet SINK cleanly too
    ldir, rdir = tmp_path / "ij_l", tmp_path / "ij_r"
    left.write.parquet(str(ldir)); right.write.parquet(str(rdir))
    ls = spark.readStream.schema(left.schema).parquet(str(ldir))
    rs = spark.readStream.schema(right.schema).parquet(str(rdir))
    q = (interval_join_streams(ls, rs, max_delay="10 minutes")
         .writeStream.outputMode("append").format("parquet")
         .option("path", str(tmp_path / "ij_sink"))
         .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sunk = spark.read.parquet(str(tmp_path / "ij_sink"))
    assert sunk.columns == want
    assert {(r.l_id, r.r_id) for r in sunk.collect()} == {(1, 10)}
