"""Silver keyed-state table: the CDC upsert (lakehouse MERGE analog)
keeper election.

``bronze.py`` gives exactly-once append; this maintains CURRENT STATE
per key — the "latest row wins, deletes drop the key" table every CDC
consumer ultimately wants.  :func:`cdc_merge_keepers` merges one
micro-batch into the stored rows of the buckets its keys land in:

* ordering: per key, the row with the highest ``seq_col`` wins; ties
  go to the incoming batch (update beats stale state), and a batch
  carrying both an update and a delete at one seq resolves to the
  DELETE (deterministic, conservative); ``op_col`` == 'd' tombstones
  the key;
* tombstones are kept (``__deleted`` plus the epoch that wrote them):
  a later micro-batch carrying an out-of-order update with a LOWER
  seq than the delete must lose to the tombstone instead of
  resurrecting the key;
* re-merging an applied batch into its own result changes nothing (an
  equal-seq batch row wins over the identical stored row).

The declared query ``streaming_silver_upsert`` runs the election on a
batch/state split of the events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_merge_keepers(
    batch_b: DataFrame,
    current: DataFrame,
    data_cols: list[str],
    key_cols: list[str],
    seq_col: str,
    epoch_id: int,
    op_col: str,
) -> DataFrame:
    """The per-key keeper election at the heart of the silver MERGE —
    a pure frame transform, run by the batch-parity oracle gate
    (plans/wave27_queries.py streaming_silver_upsert).

    ``batch_b`` is the incoming micro-batch (data columns + __bucket +
    ``op_col``, whose NULL means update); ``current`` is the stored state of the
    affected buckets (data columns + __bucket + __deleted +
    __del_epoch).  Returns the merged bucket contents: per key the
    winning row under (seq desc, batch-beats-stored, delete-beats-
    update), with tombstones carried as ``__deleted``/``__del_epoch``.
    """
    from pyspark.sql.window import Window

    # NULL / missing op defaults to UPDATE explicitly (CDC feeds
    # commonly omit the op on plain upserts).  Without the
    # coalesce, a NULL-op winner stored __deleted = (NULL == 'd')
    # = NULL — an undefined state the r5 form happened to drop and
    # the r6 tombstone path would have read back as live.
    op = F.coalesce(F.col(op_col), F.lit("u"))
    b_norm = batch_b.withColumn("__op", op).select(
        *data_cols, "__bucket", "__op", F.lit(1).alias("__prio"),
        F.when(F.col("__op") == "d", F.lit(epoch_id))
        .otherwise(F.lit(None)).cast("long").alias("__del_epoch"),
    )
    stored_deleted = F.coalesce(F.col("__deleted"), F.lit(False))
    c_norm = current.select(
        *data_cols, "__bucket",
        F.when(stored_deleted, F.lit("d")).otherwise(F.lit("u")).alias("__op"),
        F.lit(0).alias("__prio"), F.col("__del_epoch"),
    )
    # total order: highest seq wins; at equal seq the batch beats
    # stored state (__prio); a batch carrying BOTH an update and a
    # delete at the same seq resolves deterministically to the
    # DELETE ('d' < 'u', ascending puts it first) — the
    # conservative read of an ambiguous producer, and immune to
    # partition-order / task-retry nondeterminism.
    rn = F.row_number().over(
        Window.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(), F.col("__prio").desc(),
            F.col("__op").asc(),
        )
    )
    return (
        b_norm.unionByName(c_norm)
        .withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select(
            *data_cols, "__bucket",
            (F.col("__op") == "d").alias("__deleted"),
            "__del_epoch",
        )
    )
