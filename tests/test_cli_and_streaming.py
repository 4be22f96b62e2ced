"""CLI end-to-end (subprocess-free: main() in-process) and streaming
ingest smoke: drop files -> bronze accumulates -> denormalized whole."""

from __future__ import annotations

import os
import shutil

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
    epochs are invisible."""
    from greenbuttonengine_spark.streaming.bronze import commit_epoch, read_bronze

    bronze = str(tmp_path / "bronze")
    schema = "id bigint, v string"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    df2 = spark.createDataFrame([(3, "c")], schema)

    commit_epoch(df1, bronze, 0)
    # crash-replay of epoch 0 (even with a different plan) must be a no-op
    commit_epoch(df1.union(df1), bronze, 0)
    commit_epoch(df2, bronze, 1)
    assert sorted(os.listdir(tmp_path / "bronze" / "_commits")) == ["0", "1"]
    assert sorted(r.id for r in read_bronze(spark, bronze, schema).collect()) == [1, 2, 3]

    # an epoch written WITHOUT its marker (simulated crash before
    # publish) must stay invisible
    df2.write.mode("overwrite").parquet(str(tmp_path / "bronze" / "epoch=2"))
    assert read_bronze(spark, bronze, schema).count() == 3
