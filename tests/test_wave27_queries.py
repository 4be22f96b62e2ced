"""Round-12 wave: the two streaming batch-parity queries must agree
with the production per-batch functions they gate, not just the
oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def _queries():
    import __spark_entry__

    __spark_entry__._registry()  # populates the registry

    from greenbuttonengine_spark.plans.registry import QUERIES

    return QUERIES


def test_admission_parity_decision_paths(spark, tmp_path):
    """admission_decision (the production per-batch function) must
    admit exactly: first-of-fingerprint batch rows not in the store,
    and only the accepted text of an ambiguous doc_id."""
    from greenbuttonengine_spark.streaming.admission import admission_decision

    batch = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha text", lang="en", source="s", n_chars=10),
            Row(doc_id=2, text="ALPHA   TEXT", lang="en", source="s", n_chars=12),
            Row(doc_id=3, text="known doc", lang="en", source="s", n_chars=9),
            Row(doc_id=4, text="fresh doc", lang="en", source="s", n_chars=9),
        ]
    )
    from greenbuttonengine_spark.extensions.textstats import fingerprint_col

    store = (
        spark.createDataFrame([Row(text="known  DOC")])
        .select(fingerprint_col(F.col("text")).alias("fingerprint"))
    )
    ids, accepted = admission_decision(batch, store)
    assert {r.doc_id for r in ids.collect()} == {1, 4}
    got = {r.doc_id: r.text for r in accepted.collect()}
    assert got == {1: "alpha text", 4: "fresh doc"}


def test_admission_parity_query_matches_verdicts(spark, sf_dir):
    """The gated query's admitted rows == documents whose
    dedup_incremental verdict is 'accept' (same batch/store split)."""
    QUERIES = _queries()
    rows = QUERIES["streaming_admission_parity"].fn(spark, sf_dir).collect()
    verdicts = QUERIES["dedup_incremental"].fn(spark, sf_dir).collect()
    accepted_ids = {r.doc_id for r in verdicts if r.verdict == "accept"}
    assert {r.doc_id for r in rows} == accepted_ids
    # full document rows ride along, not just ids
    assert rows and all(
        r.text is not None and r.n_chars is not None for r in rows
    )


def test_silver_upsert_matches_two_epoch_merge(spark, sf_dir):
    """Replay the SAME batch/state split as two micro-batches through
    the keeper election (epoch 1 into an empty table, then epoch 2 into
    its result) and require the gated plan's rows, whose stored state
    is hand-built in SQL, to equal it."""
    from greenbuttonengine_spark.sources.catalog import load_table
    from greenbuttonengine_spark.streaming.silver import cdc_merge_keepers

    QUERIES = _queries()
    data_cols = ["user_id", "event_id", "event_type", "value"]
    ev = load_table(spark, "events", sf_dir).select(
        *data_cols,
        F.pmod(F.col("user_id"), F.lit(16)).cast("int").alias("__bucket"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u")).alias("op"),
    )
    empty = spark.createDataFrame(
        [], "user_id bigint, event_id bigint, event_type string, value double, "
        "__bucket int, __deleted boolean, __del_epoch bigint",
    )

    def merge(batch, current, epoch_id):
        return cdc_merge_keepers(
            batch, current, data_cols, ["user_id"], "event_id", epoch_id,
            op_col="op",
        )

    # epoch 1: the stored-state rows; epoch 2: the micro-batch — the
    # same split streaming_silver_upsert declares
    state = merge(ev.filter(F.col("event_id") % 3 == 0), empty, 1)
    state = merge(ev.filter(F.col("event_id") % 3 != 0), state, 2)
    folded = {
        (r.user_id, r.event_id, r.event_type, r.value, r["__deleted"],
         r["__del_epoch"])
        for r in state.collect()
    }
    plan = QUERIES["streaming_silver_upsert"].fn(spark, sf_dir).collect()
    declared = {
        (r.user_id, r.event_id, r.event_type, r.value, r.deleted, r.del_epoch)
        for r in plan
    }
    assert folded == declared
    # tombstone metadata: every deleted winner carries its epoch
    for r in plan:
        if r.deleted:
            assert r.del_epoch in (1, 2)
    # one winner per key
    assert len({r.user_id for r in plan}) == len(plan)
