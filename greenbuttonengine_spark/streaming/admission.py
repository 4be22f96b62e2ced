"""Corpus admission: the per-micro-batch decision of a continuous
ingest where every batch is deduplicated against the corpus accepted
so far.

    new batch --incremental_dedup(batch, fingerprint store)-->
        accept        -> rows that may land in the accepted corpus
        dup_in_batch  -> dropped (batch-internal copy)
        dup_of_corpus -> dropped (already accepted in a past batch)

State is the FINGERPRINT STORE, not Spark streaming state: admission
history must outlive any one query (restarts, reprocessing, multiple
writers), so it lives as a table the caller appends the accepted
fingerprints to — the bounded-state streaming dedup
(`stateful.dedup_stream`) covers the in-flight window; this covers
forever.  The declared query ``streaming_admission_parity`` runs the
decision on a batch/store split of the documents table.

Near-duplicate admission against a persistent LSH band store is the
batch operator ``extensions/dedup.incremental_near_dedup`` (query
``dedup_incremental_near``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extensions.dedup import incremental_dedup


def admission_decision(
    batch: DataFrame, store: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The per-micro-batch admission decision, as a pure frame
    transform: ``(accepted_ids, accepted_rows)`` for a new batch
    against the persistent fingerprint store.

    ``accepted_ids`` is (doc_id, fingerprint) of the admitted docs —
    what the caller appends to the store; ``accepted_rows`` is the
    batch rows that may land in the corpus.  The (doc_id, fingerprint)
    semi-join (not doc_id alone) matters when a batch carries two
    different texts under one doc_id: only the row whose fingerprint
    was actually accepted may land."""
    from ..extensions.textstats import fingerprint_col

    verdicts = incremental_dedup(batch, store)
    accepted_ids = verdicts.filter(F.col("verdict") == "accept").select(
        "doc_id", "fingerprint"
    )
    keyed = batch.withColumn("fingerprint", fingerprint_col(F.col("text")))
    accepted = keyed.join(
        accepted_ids, ["doc_id", "fingerprint"], "left_semi"
    ).drop("fingerprint")
    return accepted_ids, accepted
