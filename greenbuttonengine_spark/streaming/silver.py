"""Silver keyed-state table: CDC upsert (the lakehouse MERGE analog)
with copy-on-write at BUCKET granularity.  :func:`apply_cdc_batch`
merges one micro-batch; a stream wires it as its foreachBatch, whose
epoch ids are monotonic per checkpoint, which is what the marker's
exactly-once guard keys on.

``bronze.py`` gives exactly-once append; this maintains CURRENT STATE
per key — the "latest row wins, deletes drop the key" table every CDC
consumer ultimately wants.  The naive foreachBatch version rewrites
the whole table per trigger; here the table is hash-bucketed on the
key and a micro-batch rewrites ONLY the buckets its keys land in —
the same copy-on-write trade Delta/Hudi/Iceberg make at file level:

* layout: ``gen-<epoch>/__bucket=<b>/`` parquet per rewritten bucket;
  a single JSON marker ``_current`` maps every bucket to the
  generation that last rewrote it (atomic rename = atomic snapshot
  swap; readers never see a half-applied batch);
* apply cost: O(data in affected buckets), not O(table) — size
  ``n_buckets`` so a typical micro-batch touches a small fraction;
* idempotent: the marker records the last applied epoch; replaying a
  crashed epoch overwrites its own generation dirs and republishes —
  a replayed ALREADY-APPLIED epoch is a no-op (exactly-once state);
* ordering: per key, the row with the highest ``seq_col`` wins; ties
  go to the incoming batch (update beats stale state), and a batch
  carrying both an update and a delete at one seq resolves to the
  DELETE (deterministic, conservative); ``op_col`` == 'd' tombstones
  the key.

At 100 TB: buckets are the unit of both rewrite and read
parallelism; old generation dirs are removed lazily (crash-safe — the
marker never references them again), and a periodic compaction can
rewrite cold buckets to fewer files exactly like bronze compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MARKER = "_current"


def _marker_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MARKER)


def _read_state(table_dir: str) -> dict:
    try:
        return json.loads(open(_marker_path(table_dir)).read())
    except OSError:
        return {"epoch": None, "buckets": {}}


def _publish_state(table_dir: str, state: dict) -> None:
    os.makedirs(table_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="._current.")
    with os.fdopen(fd, "w") as fh:
        fh.write(json.dumps(state))
    os.rename(tmp, _marker_path(table_dir))


def _bucket_col(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def _store_schema(schema):
    """On-disk bucket schema: data columns + tombstone metadata.
    Tombstones ARE stored (``__deleted`` plus the epoch that wrote
    them): a later micro-batch carrying an out-of-order update with a
    LOWER seq than the delete must lose to the tombstone instead of
    resurrecting the key — dropping 'd' winners entirely (the r5
    behavior) broke the cross-batch "highest seq wins" contract."""
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    return StructType(
        list(schema.fields)
        + [
            StructField("__deleted", BooleanType(), True),
            StructField("__del_epoch", LongType(), True),
        ]
    )


def _read_bucket_store(
    spark: SparkSession, table_dir: str, store_schema
) -> DataFrame | None:
    """Marker-pruned union of every bucket's latest generation, or
    ``None`` for an empty store — the shared read side of the
    copy-on-write bucket layout (silver state AND matview totals)."""
    state = _read_state(table_dir)
    paths = [
        os.path.join(table_dir, gen, f"__bucket={b}")
        for b, gen in state["buckets"].items()
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.schema(store_schema).parquet(*paths)


def cow_apply_batch(
    incoming: DataFrame,
    table_dir: str,
    store_schema,
    key_cols: list[str],
    epoch_id: int,
    n_buckets: int,
    merge_fn,
) -> None:
    """Shared copy-on-write skeleton for bucket-granular stores: epoch
    guard (replaying an applied epoch is a no-op), bucket assignment,
    affected-bucket discovery, current-state read of ONLY those
    buckets, ``merge_fn(incoming_b, current_b) -> merged`` (columns =
    ``store_schema`` fields + ``__bucket``), generation write, atomic
    marker publish, lazy cleanup.  One copy of the crash-safety
    logic; silver's rank-merge and matview's additive merge differ
    ONLY in ``merge_fn``.

    ``incoming`` is materialized once (eager localCheckpoint) before
    the affected-bucket collect: without it the frame would be
    re-evaluated for the merge write — double cost per micro-batch,
    and a nondeterministic source could disagree between the two
    evaluations, dropping a bucket from the marker update."""
    state = _read_state(table_dir)
    if state["epoch"] is not None and epoch_id <= state["epoch"]:
        return  # replay of an applied epoch: exactly-once no-op
    spark = incoming.sparkSession

    incoming = incoming.withColumn(
        "__bucket", _bucket_col(key_cols, n_buckets)
    ).localCheckpoint(eager=True)
    affected = sorted(
        r[0] for r in incoming.select("__bucket").distinct().collect()
    )
    if affected:
        # current rows of ONLY the affected buckets
        cur_paths = [
            os.path.join(table_dir, state["buckets"][str(b)], f"__bucket={b}")
            for b in affected
            if str(b) in state["buckets"]
        ]
        cur_paths = [p for p in cur_paths if os.path.isdir(p)]
        if cur_paths:
            current = spark.read.schema(store_schema).parquet(*cur_paths).withColumn(
                "__bucket", _bucket_col(key_cols, n_buckets)
            )
        else:
            current = (
                spark.createDataFrame([], store_schema)
                .withColumn("__bucket", F.lit(0))
                .limit(0)
            )
        merged = merge_fn(incoming, current)
        gen = f"gen-{epoch_id}"
        (
            merged.write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(os.path.join(table_dir, gen))
        )
        new_buckets = dict(state["buckets"])
        for b in affected:
            new_buckets[str(b)] = gen
    else:
        new_buckets = state["buckets"]
    _publish_state(table_dir, {"epoch": epoch_id, "buckets": new_buckets})
    _cleanup_unreferenced(table_dir, new_buckets, epoch_id)


def read_current(spark: SparkSession, table_dir: str, schema) -> DataFrame:
    """The committed current state: union of every bucket's latest
    generation (path-pruned — no directory scans outside the marker).
    Tombstoned keys are filtered here; the public contract is
    unchanged (data columns only, deleted keys absent)."""
    store = _read_bucket_store(spark, table_dir, _store_schema(schema))
    if store is None:
        return spark.createDataFrame([], schema)
    data_cols = [f.name for f in schema.fields]
    return (
        store.filter(~F.coalesce(F.col("__deleted"), F.lit(False)))
        .select(*data_cols)
    )


def cdc_merge_keepers(
    batch_b: DataFrame,
    current: DataFrame,
    data_cols: list[str],
    key_cols: list[str],
    seq_col: str,
    epoch_id: int,
    op_col: str | None = None,
    tombstone_retention_epochs: int | None = None,
) -> DataFrame:
    """The per-key keeper election at the heart of the silver MERGE —
    a pure frame transform so the SAME code runs under the streaming
    foreachBatch (:func:`apply_cdc_batch`) and under the batch-parity
    oracle gate (plans/wave27_queries.py streaming_silver_upsert).

    ``batch_b`` is the incoming micro-batch (data columns + __bucket +
    optional ``op_col``); ``current`` is the stored state of the
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
    op = F.coalesce(F.col(op_col), F.lit("u")) if op_col else F.lit("u")
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
    if tombstone_retention_epochs is not None:
        # an expired tombstone stops shielding its key: drop it
        # BEFORE the merge window so state stays bounded
        c_norm = c_norm.filter(
            ~(
                (F.col("__op") == "d")
                & (F.col("__del_epoch")
                   <= F.lit(epoch_id - tombstone_retention_epochs))
            )
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


def apply_cdc_batch(
    batch: DataFrame,
    table_dir: str,
    schema,
    key_cols: list[str],
    seq_col: str,
    epoch_id: int,
    n_buckets: int = 16,
    op_col: str | None = None,
    tombstone_retention_epochs: int | None = None,
) -> None:
    """MERGE one micro-batch into the keyed table (see module doc).
    ``schema`` is the DATA schema (without op_col).

    Deletes persist as tombstones (``__deleted``/``__del_epoch`` in
    the bucket files) so an out-of-order update arriving in a LATER
    micro-batch with a lower seq than the delete still loses.  With
    ``tombstone_retention_epochs`` set, a stored tombstone stops
    shielding once it is that many epochs old (bounded state, same
    trade as Delta's tombstone retention); the default ``None`` keeps
    tombstones forever (one skinny row per deleted key)."""
    data_cols = [f.name for f in schema.fields]

    def merge(batch_b: DataFrame, current: DataFrame) -> DataFrame:
        return cdc_merge_keepers(
            batch_b, current, data_cols, key_cols, seq_col, epoch_id,
            op_col=op_col,
            tombstone_retention_epochs=tombstone_retention_epochs,
        )

    cow_apply_batch(
        batch, table_dir, _store_schema(schema), key_cols, epoch_id,
        n_buckets, merge,
    )


# How many epochs an unreferenced generation survives after being
# superseded.  Retention > 0 keeps the snapshot promise for concurrent
# readers: a reader that loaded the PREVIOUS marker can finish its
# scan before the dirs it references are removed (bounded garbage in
# exchange — the same retention trade Delta's VACUUM makes).
_GEN_RETENTION_EPOCHS = 2


def _cleanup_unreferenced(table_dir: str, buckets: dict, epoch_id: int) -> None:
    """Drop generation dirs no bucket references, but only once they
    are at least ``_GEN_RETENTION_EPOCHS`` behind the current epoch —
    a reader holding an older marker snapshot gets a grace window
    instead of a FileNotFound mid-scan."""
    live = set(buckets.values())
    for name in os.listdir(table_dir):
        if not name.startswith("gen-") or name in live:
            continue
        try:
            gen_epoch = int(name.split("-", 1)[1])
        except ValueError:
            continue
        if gen_epoch <= epoch_id - _GEN_RETENTION_EPOCHS:
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)
