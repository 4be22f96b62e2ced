"""Streaming corpus admission: continuous JSONL ingest where every
micro-batch is deduplicated against the corpus accepted so far.

The composition a production crawl pipeline runs end to end:

    drop dir --stream_jsonl--> good lines
        --foreachBatch--> incremental_dedup(batch, fingerprint store)
            accept        -> append to the accepted corpus + store
            dup_in_batch  -> dropped (batch-internal copy)
            dup_of_corpus -> dropped (already accepted in a past batch)

State is the FINGERPRINT STORE, not Spark streaming state: admission
history must outlive any one query (restarts, reprocessing, multiple
writers), so it lives as a parquet table appended per batch — the
bounded-state streaming dedup (`stateful.dedup_stream`) covers the
in-flight window; this covers forever.

Failure posture: foreachBatch is at-least-once.  A crash AFTER the
store append (but before checkpoint commit) is self-healing: the
replayed batch finds its fingerprints in the store and classifies
every row dup_of_corpus.  A crash BETWEEN the corpus append and the
store append re-admits that batch's rows on replay — duplicate rows
in the accepted corpus, which the downstream exact-dedup pass removes
(never silent loss; the write order is corpus-first deliberately,
since store-first would drop the batch's rows forever on the same
crash).  The bronze module's epoch-commit pattern
(`streaming/bronze.py`) is the exactly-once upgrade.  Store appends
are idempotent-by-distinct at read time.

Near-duplicate admission against a persistent LSH band store is the
batch operator ``extensions/dedup.incremental_near_dedup`` (query
``dedup_incremental_near``); no stream here wires it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..extensions.dedup import incremental_dedup
from ..sources.text_corpus import DOCUMENTS_SCHEMA, stream_jsonl


def _read_store(
    spark: SparkSession, store_dir: str, schema: str = "fingerprint string"
) -> DataFrame:
    if os.path.isdir(store_dir) and any(
        f.endswith(".parquet") for f in os.listdir(store_dir)
    ):
        return spark.read.parquet(store_dir)
    return spark.createDataFrame([], schema)


def admission_decision(
    batch: DataFrame, store: DataFrame, materialize: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The per-micro-batch admission decision of
    :func:`start_admission_stream`, as a pure frame transform:
    ``(accepted_ids, accepted_rows)`` for a new batch against the
    persistent fingerprint store.

    ``accepted_ids`` is (doc_id, fingerprint) of the admitted docs —
    what the stream appends to the store; ``accepted_rows`` is the
    batch rows that may land in the corpus.  The (doc_id, fingerprint)
    semi-join (not doc_id alone) matters when a batch carries two
    different texts under one doc_id: only the row whose fingerprint
    was actually accepted may land.

    ``materialize=True`` localCheckpoints the verdict ids — the stream
    passes it because the ids feed two writes (otherwise each write
    re-reads the store and re-runs the join/window); the batch-parity
    oracle query leaves the plan lazy."""
    from ..extensions.textstats import fingerprint_col

    verdicts = incremental_dedup(batch, store)
    accepted_ids = verdicts.filter(F.col("verdict") == "accept").select(
        "doc_id", "fingerprint"
    )
    if materialize:
        accepted_ids = accepted_ids.localCheckpoint()
    keyed = batch.withColumn("fingerprint", fingerprint_col(F.col("text")))
    accepted = keyed.join(
        accepted_ids, ["doc_id", "fingerprint"], "left_semi"
    ).drop("fingerprint")
    return accepted_ids, accepted


def start_admission_stream(
    spark: SparkSession,
    drop_dir: str,
    accepted_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema=DOCUMENTS_SCHEMA,
    available_now: bool = False,
) -> StreamingQuery:
    """Watch ``drop_dir`` for JSONL shards; append admitted rows to
    ``accepted_dir`` and their fingerprints to ``store_dir``."""
    good, _errors = stream_jsonl(spark, drop_dir, schema=schema)

    def admit(batch: DataFrame, epoch_id: int) -> None:
        if not batch.columns:
            return
        sess = batch.sparkSession
        store = _read_store(sess, store_dir)
        accepted_ids, accepted = admission_decision(
            batch, store, materialize=True
        )
        accepted.write.mode("append").parquet(accepted_dir)
        accepted_ids.select("fingerprint").write.mode("append").parquet(store_dir)

    writer = good.writeStream.foreachBatch(admit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
