"""Transactional bronze store: exactly-once parquet over a commit log.

Plain ``mode("append")`` parquet inside ``foreachBatch`` is only
at-least-once: a crash between the write and the checkpoint advance
replays the epoch and duplicates its rows.  This module upgrades the
bronze layer to exactly-once with the same two-phase protocol Spark's
own file-sink log (``_spark_metadata``) and table formats like Delta
use — without requiring any external library:

1. each epoch writes to its OWN directory ``epoch=<id>/`` with
   ``mode("overwrite")`` — a replayed epoch clobbers its previous
   partial output instead of appending next to it (idempotent write);
2. a zero-byte commit marker ``_commits/<id>`` is then published via
   atomic rename — readers treat the marker directory as the source of
   truth and never see uncommitted or half-written epoch dirs.

Scale notes: one marker file + one directory per epoch; listing cost is
O(epochs) driver-side metadata (the same shape as a streaming file
sink's log).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"


def _epoch_dir(bronze_dir: str, epoch_id: int) -> str:
    return os.path.join(bronze_dir, f"epoch={epoch_id}")


def commit_epoch(batch: DataFrame, bronze_dir: str, epoch_id: int) -> None:
    """Write one epoch's rows transactionally (idempotent on replay)."""
    marker_dir = os.path.join(bronze_dir, _COMMITS)
    marker = os.path.join(marker_dir, str(epoch_id))
    os.makedirs(marker_dir, exist_ok=True)
    if os.path.exists(marker):  # already committed: replay is a no-op
        return
    batch.write.mode("overwrite").parquet(_epoch_dir(bronze_dir, epoch_id))
    fd, tmp = tempfile.mkstemp(dir=marker_dir, prefix=f".{epoch_id}.")
    os.close(fd)
    os.rename(tmp, marker)


def read_bronze(spark: SparkSession, bronze_dir: str, schema) -> DataFrame:
    """Committed rows only: the epochs whose marker is published."""
    marker_dir = os.path.join(bronze_dir, _COMMITS)
    names = os.listdir(marker_dir) if os.path.isdir(marker_dir) else []
    epochs = sorted(int(n) for n in names if not n.startswith("."))
    if not epochs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[_epoch_dir(bronze_dir, e) for e in epochs]
    )
