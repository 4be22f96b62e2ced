"""Incremental / streaming ESPI ingest (SURVEY §2.7).

The reference's closest behavior is the WASM session: ``ingest_xml``
appends each dropped file into an accumulated TimeSeries and readers
re-sort the whole (lib/wasm/src/lib.rs:6,15-42).  Structured-Streaming
analog:

* file-source stream over a drop directory (binaryFile — one row per
  file, byte content: the EXACT batch parse input shape, so a
  bad-encoding file routes to the per-file error channel identically
  in both modes; the text source would silently U+FFFD-replace
  invalid UTF-8 and diverge from the reference's strict read)
* the SAME parse stage (espi.source._parse_batches) inside foreachBatch
* accumulation = append-mode parquet of the union-typed parse output
  ("bronze"); ``read_accumulated_timeseries`` runs the batch
  denormalize over bronze on demand — re-sorting the accumulated whole,
  exactly the WASM contract.

No watermarks/event-time windows: ESPI timestamps are DATA, not stream
time (the reference has no late-data semantics to mirror).  The bronze
store is TRANSACTIONAL (streaming.bronze): per-epoch directories +
atomic commit markers give exactly-once across crash/replay — a
replayed epoch overwrites its own directory and re-publishes the same
marker, so readers never see duplicates or partial writes.

At scale this is the continuous-ingest topology: bronze is partitioned
by ingest date; the denormalize query prunes to new partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..espi import denormalize_and_link
from ..espi.schemas import PARSED_SCHEMA
from ..espi.source import _parse_batches
from .bronze import commit_epoch, read_bronze


def start_ingest_stream(
    spark: SparkSession,
    drop_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watch ``drop_dir`` for new XML files; append parsed rows to the
    bronze store with exactly-once checkpointing."""
    # binaryFile, not text: the batch path's strict-UTF-8 decode runs
    # inside _parse_batches, so an invalid-encoding file becomes an
    # error row here exactly as in batch (source.py S2 semantics).
    files = (
        spark.readStream.format("binaryFile")
        .schema(  # binaryFile's fixed schema; streaming sources require it explicitly
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(drop_dir)
        .select("path", "content")
    )

    def _parse_batch(batch: DataFrame, epoch_id: int) -> None:
        parsed = batch.mapInArrow(_parse_batches, schema=PARSED_SCHEMA)
        commit_epoch(parsed, bronze_dir, epoch_id)

    return (
        files.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_parse_batch)
        .start()
    )


def read_accumulated_timeseries(
    spark: SparkSession, bronze_dir: str, include_source_file: bool = False
) -> DataFrame:
    """Denormalize everything ingested so far, sorted (title, time) —
    the WASM ``get_timeseries_chunked`` contract over the accumulated
    whole."""
    parsed = read_bronze(spark, bronze_dir, PARSED_SCHEMA)
    ts = denormalize_and_link(parsed, include_source_file)
    return ts.orderBy("title", "time_period_start_unix")
