"""Round-12 wave: batch-parity oracle rows for two per-micro-batch
streaming functions (r11 VERDICT item 4), following the
``attribution_interval_join`` pattern (wave20): the gated plan calls
the streaming function itself on batch frames, so the code under the
DuckDB gate is the micro-batch code, not a re-implementation.

* ``streaming_admission_parity`` — the per-micro-batch admission
  decision (``streaming/admission.py admission_decision``): which
  batch ROWS land in the accepted corpus given the persistent
  fingerprint store.
* ``streaming_silver_upsert`` — the per-key keeper election of the
  silver CDC MERGE (``streaming/silver.py cdc_merge_keepers``): the
  merged bucket contents for one micro-batch against stored state,
  tombstones included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..extensions import dedup
from ..sources.catalog import load_table
from .registry import register


@register(
    "streaming_admission_parity",
    r"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents WHERE doc_id % 5 = 4
    ), store AS (
        SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents WHERE doc_id % 5 <> 4
    ), firsts AS (
        SELECT doc_id, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fp
    ), acc AS (
        SELECT doc_id, fingerprint FROM firsts
        WHERE rn = 1
          AND fingerprint NOT IN (SELECT fingerprint FROM store)
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN acc ON acc.doc_id = d.doc_id
            AND acc.fingerprint =
                md5(lower(regexp_replace(trim(d.text), '\s+', ' ', 'g')))
    WHERE d.doc_id % 5 = 4
    """,
    tags=("streaming-parity", "dedup", "incremental"),
    doc="Batch-parity oracle for the streaming corpus-admission path: "
    "the gated plan calls streaming/admission.py admission_decision — "
    "the per-micro-batch decision (incremental_dedup verdicts, then "
    "the (doc_id, "
    "fingerprint) semi-join that lets only the accepted row of an "
    "ambiguous doc_id land) — on a batch/store split of documents "
    "(doc_id%5==4 arrives; the rest are the accepted store).  Where "
    "dedup_incremental gates the VERDICT table, this gates the rows "
    "admission APPENDS to the corpus — the channel a silent "
    "admission bug would corrupt.  Scale shape per micro-batch: "
    "fingerprint the batch only (scan-stage md5), one batch-"
    "side window, a left join against the store (bucketed by "
    "fingerprint at scale: no store shuffle), and a batch-sized "
    "semi-join back.",
)
def streaming_admission_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.admission import admission_decision

    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    store = dedup.exact_duplicates(corpus).select("fingerprint")
    _accepted_ids, accepted = admission_decision(batch, store)
    return accepted


@register(
    "streaming_silver_upsert",
    """
    WITH cur0 AS (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 3 = 0
    ),
    cur AS (
        SELECT user_id, event_id, event_type, value,
               (event_type = 'error') AS deleted,
               CASE WHEN event_type = 'error' THEN 1 END AS del_epoch
        FROM cur0 WHERE rn = 1
    ),
    u AS (
        SELECT user_id, event_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
               1 AS prio,
               CASE WHEN event_type = 'error' THEN 2 END AS del_epoch
        FROM events WHERE event_id % 3 <> 0
        UNION ALL
        SELECT user_id, event_id, event_type, value,
               CASE WHEN deleted THEN 'd' ELSE 'u' END AS op,
               0 AS prio, del_epoch
        FROM cur
    ),
    w AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY event_id DESC, prio DESC, op ASC) AS rn
        FROM u
    )
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id, event_type, value,
           CAST(user_id % 16 AS INT) AS bucket,
           (op = 'd') AS deleted,
           CAST(del_epoch AS BIGINT) AS del_epoch
    FROM w WHERE rn = 1
    """,
    tags=("streaming-parity", "cdc", "window"),
    doc="Batch-parity oracle for the silver CDC MERGE keeper election: "
    "the gated plan calls streaming/silver.py cdc_merge_keepers — the "
    "per-micro-batch merge (total order "
    "(seq desc, batch-beats-stored, delete-beats-update), NULL-op -> "
    "update, tombstones carried as __deleted/__del_epoch) — on a "
    "batch/state split of events: stored state is the max-event_id row "
    "per user among event_id%3==0 (event_type 'error' rows stored as "
    "epoch-1 tombstones), the micro-batch is everything else with "
    "op='d' on 'error'.  event_id is globally unique, so the election "
    "is a deterministic total order (no ties to break "
    "nondeterministically).  The declared bucket column is pmod("
    "user_id, 16) for cross-engine replay.  Scale shape: ONE "
    "key-partitioned window over batch+affected-state (buckets bound "
    "the state read; the merge never scans the table).",
)
def streaming_silver_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.silver import cdc_merge_keepers

    ev = load_table(spark, "events", sf_dir)
    bucket = F.pmod(F.col("user_id"), F.lit(16)).cast("int")
    data_cols = ["user_id", "event_id", "event_type", "value"]
    is_del = F.col("event_type") == "error"
    cur_rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("event_id"))
    )
    current = (
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("rn", cur_rn)
        .filter(F.col("rn") == 1)
        .select(
            *data_cols,
            bucket.alias("__bucket"),
            is_del.alias("__deleted"),
            F.when(is_del, F.lit(1)).cast("long").alias("__del_epoch"),
        )
    )
    batch = ev.filter(F.col("event_id") % 3 != 0).select(
        *data_cols,
        bucket.alias("__bucket"),
        F.when(is_del, F.lit("d")).otherwise(F.lit("u")).alias("op"),
    )
    merged = cdc_merge_keepers(
        batch, current, data_cols, ["user_id"], "event_id",
        epoch_id=2, op_col="op",
    )
    return merged.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "value",
        F.col("__bucket").alias("bucket"),
        F.col("__deleted").alias("deleted"),
        F.col("__del_epoch").cast("long").alias("del_epoch"),
    )
