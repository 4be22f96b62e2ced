"""CLI end-to-end (subprocess-free: main() in-process) and streaming
ingest smoke: drop files -> bronze accumulates -> denormalized whole."""

from __future__ import annotations

import shutil

import pytest

def test_cli_csv_single_file(tmp_path, spark, egd_feed):
    from greenbuttonengine_spark import cli

    out = tmp_path / "out.csv"
    rc = cli.main(["--filetype", "csv", "--out", str(out), "--sort", egd_feed(tmp_path)])
    assert rc == 0
    lines = out.read_text().splitlines()
    assert lines[0].startswith("title,cost,quality,value")
    assert len(lines) == 21  # header + 20 readings


def test_cli_parquet_requires_out(tmp_path, capsys, egd_feed):
    from greenbuttonengine_spark import cli

    rc = cli.main(["--filetype", "parquet", egd_feed(tmp_path)])
    assert rc == 2
    assert "requires --out" in capsys.readouterr().err


def test_streaming_ingest_accumulates(tmp_path, spark, egd_feed):
    from greenbuttonengine_spark.streaming import (
        read_accumulated_timeseries,
        start_ingest_stream,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    egd = egd_feed(tmp_path)  # EGD-shaped, 20 daily readings
    shutil.copy(egd, drop / "a.xml")
    q = start_ingest_stream(spark, str(drop), bronze, ckpt)
    try:
        q.processAllAvailable()
        ts1 = read_accumulated_timeseries(spark, bronze)
        n1 = ts1.count()
        assert n1 == 20

        # drop a second file -> accumulated whole grows (WASM ingest contract)
        shutil.copy(egd, drop / "b.xml")
        q.processAllAvailable()
        ts2 = read_accumulated_timeseries(spark, bronze, include_source_file=True)
        assert ts2.count() == 2 * n1
        assert ts2.select("source_file").distinct().count() == 2

        # strict UTF-8 parity with batch (ADVICE r1): a bad-encoding
        # file must become an error row in bronze, not a U+FFFD-mangled
        # 'successful' parse (the text source's silent behavior)
        (drop / "latin1.xml").write_bytes(
            "<feed><entry><title>caf\xe9</title></entry></feed>".encode("latin-1")
        )
        q.processAllAvailable()
        from greenbuttonengine_spark.espi.schemas import PARSED_SCHEMA
        from greenbuttonengine_spark.streaming.bronze import read_bronze

        errs = (
            read_bronze(spark, bronze, PARSED_SCHEMA)
            .filter("row_kind = 'error'")
            .collect()
        )
        assert len(errs) == 1
        assert "latin1.xml" in errs[0].source_file
        assert "UnicodeDecodeError" in errs[0].error
        # and the accumulated timeseries still excludes the bad file
        assert read_accumulated_timeseries(spark, bronze).count() == 2 * n1
    finally:
        q.stop()


def test_bronze_store_exactly_once(tmp_path, spark):
    """The commit-log protocol: epoch replay is idempotent, uncommitted
    epochs are invisible, since_epoch prunes incrementally."""
    from greenbuttonengine_spark.streaming.bronze import (
        commit_epoch,
        committed_epochs,
        read_bronze,
    )

    bronze = str(tmp_path / "bronze")
    schema = "id bigint, v string"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    df2 = spark.createDataFrame([(3, "c")], schema)

    commit_epoch(df1, bronze, 0)
    # crash-replay of epoch 0 (even with a different plan) must be a no-op
    commit_epoch(df1.union(df1), bronze, 0)
    commit_epoch(df2, bronze, 1)
    assert committed_epochs(bronze) == [0, 1]
    assert read_bronze(spark, bronze, schema).count() == 3

    # an epoch written WITHOUT its marker (simulated crash before
    # publish) must stay invisible
    df2.write.mode("overwrite").parquet(str(tmp_path / "bronze" / "epoch=2"))
    assert read_bronze(spark, bronze, schema).count() == 3
    # incremental consumer: only epochs after the cursor
    rows = read_bronze(spark, bronze, schema, since_epoch=0).collect()
    assert [r.id for r in rows] == [3]


def test_bronze_compaction(tmp_path, spark):
    """compact_bronze merges epochs into one dir with identical rows,
    keeps replay idempotency via tombstones, and survives repeated
    compaction (generations)."""
    import glob as _glob

    from greenbuttonengine_spark.streaming.bronze import (
        commit_epoch,
        committed_epochs,
        compact_bronze,
        read_bronze,
    )

    bronze = str(tmp_path / "bronze")
    schema = "id bigint, v string"
    for e in range(4):
        df = spark.createDataFrame([(e * 10 + i, f"v{e}") for i in range(5)], schema)
        commit_epoch(df, bronze, e)
    before = {(r.id, r.v) for r in read_bronze(spark, bronze, schema).collect()}
    files_before = len(_glob.glob(f"{bronze}/epoch=*/**/*.parquet", recursive=True))

    # compact epochs 0..2, keep 3 as the live tail
    assert compact_bronze(spark, bronze, schema, up_to_epoch=2) == 3
    assert committed_epochs(bronze) == [0, 3]
    after = {(r.id, r.v) for r in read_bronze(spark, bronze, schema).collect()}
    assert after == before
    files_after = len(_glob.glob(f"{bronze}/epoch=*/**/*.parquet", recursive=True))
    assert files_after < files_before

    # replay of a subsumed epoch must stay a no-op (tombstoned marker)
    dup = spark.createDataFrame([(999, "dup")], schema)
    commit_epoch(dup, bronze, 1)
    assert {(r.id, r.v) for r in read_bronze(spark, bronze, schema).collect()} == before

    # incremental read above the compacted range still works
    tail = read_bronze(spark, bronze, schema, since_epoch=0)
    assert {r.v for r in tail.collect()} == {"v3"}

    # second compaction folds the tail in (new generation)
    assert compact_bronze(spark, bronze, schema) == 2
    assert committed_epochs(bronze) == [0]
    assert {(r.id, r.v) for r in read_bronze(spark, bronze, schema).collect()} == before


def test_bronze_cursor(tmp_path, spark):
    from greenbuttonengine_spark.streaming.bronze import BronzeCursor, commit_epoch

    bronze = str(tmp_path / "bronze")
    schema = "id bigint, v string"
    cur = BronzeCursor(str(tmp_path / "cursor"))
    commit_epoch(spark.createDataFrame([(1, "a")], schema), bronze, 0)
    commit_epoch(spark.createDataFrame([(2, "b")], schema), bronze, 1)
    assert {r.id for r in cur.read_new(spark, bronze, schema).collect()} == {1, 2}
    assert cur.advance(bronze) == 1
    assert cur.read_new(spark, bronze, schema).count() == 0  # nothing new
    commit_epoch(spark.createDataFrame([(3, "c")], schema), bronze, 2)
    assert {r.id for r in cur.read_new(spark, bronze, schema).collect()} == {3}
    # crash-replay shape: a cursor re-created from disk resumes correctly
    cur2 = BronzeCursor(cur.path)
    assert cur2.position() == 1


def test_stream_jsonl_good_and_error_channels(spark, tmp_path):
    """Streaming JSONL ingest: shards dropped across micro-batches land
    in the bronze sink; corrupt lines land in quarantine; restart-safe
    via checkpoint (same contract as batch read_jsonl)."""
    import json

    from greenbuttonengine_spark.sources.text_corpus import stream_jsonl

    drop = tmp_path / "drop"
    bronze = str(tmp_path / "bronze")
    quarantine = str(tmp_path / "quarantine")
    drop.mkdir()

    def shard(name, rows, garbage=0):
        with open(drop / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
            for g in range(garbage):
                f.write(f"garbled <<{name}:{g}>>\n")

    doc = lambda i: {"doc_id": i, "text": f"t{i}", "lang": "en", "source": "s", "n_chars": 2}
    shard("a.jsonl", [doc(1), doc(2)])
    good, errors = stream_jsonl(spark, str(drop), max_files_per_trigger=1)
    q1 = (
        good.writeStream.format("parquet")
        .option("path", bronze)
        .option("checkpointLocation", str(tmp_path / "cp_good"))
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        errors.writeStream.format("parquet")
        .option("path", quarantine)
        .option("checkpointLocation", str(tmp_path / "cp_err"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120); q2.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(bronze).collect()} == {1, 2}

    # second drop: one good row + two garbage lines, then resume
    shard("b.jsonl", [doc(3)], garbage=2)
    good, errors = stream_jsonl(spark, str(drop), max_files_per_trigger=1)
    q1 = (
        good.writeStream.format("parquet")
        .option("path", bronze)
        .option("checkpointLocation", str(tmp_path / "cp_good"))
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        errors.writeStream.format("parquet")
        .option("path", quarantine)
        .option("checkpointLocation", str(tmp_path / "cp_err"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120); q2.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(bronze).collect()} == {1, 2, 3}, \
        "shard a must not be re-ingested after restart"
    errs = [r.raw_line for r in spark.read.parquet(quarantine).collect()]
    assert len(errs) == 2 and all(e.startswith("garbled") for e in errs)


def test_admission_stream_dedups_across_drops(spark, tmp_path):
    """Streaming admission: batch-internal copies collapse, and a
    later drop's duplicates of already-accepted docs are rejected via
    the persistent fingerprint store (across separate query runs)."""
    import json

    from greenbuttonengine_spark.streaming.admission import start_admission_stream

    drop = tmp_path / "drop"; drop.mkdir()
    accepted = str(tmp_path / "accepted")
    store = str(tmp_path / "store")
    cp = str(tmp_path / "cp")

    def doc(i, text):
        return {"doc_id": i, "text": text, "lang": "en", "source": "s",
                "n_chars": len(text)}

    def shard(name, rows):
        with open(drop / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # drop 1: two distinct docs + a batch-internal normalized copy
    shard("a.jsonl", [doc(1, "alpha text"), doc(2, "beta text"),
                      doc(3, "ALPHA   TEXT")])
    q = start_admission_stream(spark, str(drop), accepted, store, cp,
                               available_now=True)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert got == {1, 2}, got

    # drop 2 (new query run, same store): a corpus dup + a fresh doc
    shard("b.jsonl", [doc(4, "alpha  TEXT"), doc(5, "gamma text")])
    q = start_admission_stream(spark, str(drop), accepted, store, cp,
                               available_now=True)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert got == {1, 2, 5}, got
    fps = [r.fingerprint for r in spark.read.parquet(store).collect()]
    assert len(set(fps)) == 3


def test_admission_crash_windows_never_lose_rows(spark, tmp_path):
    """Crash-injection for start_admission_stream's documented
    at-least-once posture (r12 VERDICT item 7): simulate BOTH crash
    windows by performing exactly the partial writes a killed
    foreachBatch leaves behind (the checkpoint never commits the
    batch, so starting the real stream afterwards IS the replay).

    Window 1 — crash between the corpus append and the store append:
    replay re-admits the batch (duplicate corpus rows, NEVER silent
    loss; corpus-first write order is what guarantees that), the store
    self-repairs, and the downstream exact-dedup pass removes the
    duplicate.  Window 2 — crash after the store append but before
    checkpoint commit: replay classifies every row dup_of_corpus and
    appends nothing."""
    import json
    from collections import Counter

    from greenbuttonengine_spark.sources.text_corpus import read_jsonl
    from greenbuttonengine_spark.streaming.admission import (
        _read_store,
        admission_decision,
        start_admission_stream,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    accepted = str(tmp_path / "accepted")
    store = str(tmp_path / "store")
    cp = str(tmp_path / "cp")

    def doc(i, text):
        return {"doc_id": i, "text": text, "lang": "en", "source": "s",
                "n_chars": len(text)}

    def shard(name, rows):
        with open(drop / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run_stream():
        q = start_admission_stream(spark, str(drop), accepted, store, cp,
                                   available_now=True)
        q.awaitTermination(120)

    def partial_writes(shard_name, write_store):
        """The exact writes admit() performs, killed mid-way."""
        batch, _ = read_jsonl(spark, str(drop / shard_name))
        ids, acc = admission_decision(batch, _read_store(spark, store),
                                      materialize=True)
        acc.write.mode("append").parquet(accepted)  # corpus append
        if write_store:  # store append (window 2 crashes AFTER this)
            ids.select("fingerprint").write.mode("append").parquet(store)
        # CRASH: checkpoint never commits this batch

    def corpus_counts():
        return Counter(r.doc_id for r in spark.read.parquet(accepted).collect())

    shard("a.jsonl", [doc(1, "alpha text"), doc(2, "beta text")])
    run_stream()
    assert corpus_counts() == {1: 1, 2: 1}

    # WINDOW 1: shard b lands, admit() dies between the two appends
    shard("b.jsonl", [doc(3, "gamma text"), doc(4, "ALPHA   TEXT")])
    partial_writes("b.jsonl", write_store=False)
    assert corpus_counts() == {1: 1, 2: 1, 3: 1}  # doc 4 is a corpus dup
    run_stream()  # replay
    counts = corpus_counts()
    assert counts[3] == 2, "replay must re-admit (duplicate, not loss)"
    assert counts[1] == 1 and counts[2] == 1 and 4 not in counts
    # the downstream exact-dedup pass removes the duplicate row
    from greenbuttonengine_spark.extensions.textstats import fingerprint_col
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    corpus = spark.read.parquet(accepted)
    keeper = (
        corpus.withColumn("fp", fingerprint_col(F.col("text")))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("fp").orderBy("doc_id")))
        .filter(F.col("rn") == 1)
    )
    assert Counter(r.doc_id for r in keeper.collect()) == {1: 1, 2: 1, 3: 1}
    # the store self-repaired on replay: all three fingerprints present
    fps = [r.fingerprint for r in spark.read.parquet(store).collect()]
    assert len(set(fps)) == 3

    # WINDOW 2: shard c lands, admit() dies after BOTH appends but
    # before the checkpoint commit
    shard("c.jsonl", [doc(5, "delta text")])
    partial_writes("c.jsonl", write_store=True)
    assert corpus_counts()[5] == 1
    run_stream()  # replay: fingerprints already in store -> all dups
    counts = corpus_counts()
    assert counts[5] == 1, "window-2 replay must append nothing"
    assert len(set(r.fingerprint for r in spark.read.parquet(store).collect())) == 4
