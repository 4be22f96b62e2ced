"""Silver keyed-state CDC upsert: merge semantics, delete tombstones
and replay idempotence of the keeper election, applied batch after
batch to its own previous result."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

DATA_COLS = ["user_id", "seq", "plan"]
STORE_SCHEMA = (
    "user_id bigint, seq bigint, plan string, "
    "__bucket int, __deleted boolean, __del_epoch bigint"
)


def _apply(spark, state, rows, epoch_id):
    """Merge one micro-batch of ``(user_id, seq, plan, op)`` rows into
    ``state`` (the stored rows; None for an empty table)."""
    from greenbuttonengine_spark.streaming.silver import cdc_merge_keepers

    batch = spark.createDataFrame(
        [Row(user_id=u, seq=s, plan=p, op=o) for u, s, p, o in rows]
    ).withColumn("__bucket", F.lit(0))
    if state is None:
        state = spark.createDataFrame([], STORE_SCHEMA)
    return cdc_merge_keepers(
        batch, state, DATA_COLS, ["user_id"], "seq", epoch_id, op_col="op"
    ).localCheckpoint()


def _live(state):
    return {r.user_id: (r.seq, r.plan)
            for r in state.collect() if not r["__deleted"]}


def test_cdc_upsert_merge_delete_replay(spark):
    s = _apply(spark, None, [(1, 1, "free", "u"), (2, 1, "free", "u"),
                             (3, 1, "pro", "u")], 0)
    assert _live(s) == {1: (1, "free"), 2: (1, "free"), 3: (1, "pro")}

    # epoch 1: upgrade user 1, delete user 2, stale event for user 3
    # (seq 0 < current 1 -> must NOT win)
    b2 = [(1, 2, "pro", "u"), (2, 2, "free", "d"), (3, 0, "stale", "u")]
    s = _apply(spark, s, b2, 1)
    expect = {1: (2, "pro"), 3: (1, "pro")}
    assert _live(s) == expect

    # replaying an applied epoch is a no-op (exactly-once state)
    replayed = _apply(spark, s, b2, 1)
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, s.collect()))

    # equal-seq tie goes to the incoming batch (update beats state)
    s = _apply(spark, s, [(1, 2, "enterprise", "u")], 2)
    assert _live(s)[1] == (2, "enterprise")


def test_cdc_same_seq_update_delete_resolves_to_delete(spark):
    """An ambiguous producer emitting an update AND a delete for one
    key at the same seq must resolve deterministically to the delete
    (never a partition-order coin flip)."""
    s = _apply(spark, None, [(1, 1, "free", "u"), (1, 1, "free", "d"),
                             (2, 1, "free", "u")], 0)
    assert _live(s) == {2: (1, "free")}


def test_tombstone_blocks_out_of_order_resurrection(spark):
    """A delete at seq 5 must keep shielding the key when a LATER
    micro-batch delivers an out-of-order update with a lower seq —
    the r5 form dropped 'd' winners entirely and resurrected the key."""
    s = _apply(spark, None, [(1, 1, "free", "u"), (2, 1, "pro", "u")], 0)
    s = _apply(spark, s, [(1, 5, "free", "d")], 1)
    assert 1 not in _live(s)

    # late, lower-seq update in a LATER batch: loses to the tombstone
    s = _apply(spark, s, [(1, 3, "late", "u")], 2)
    assert 1 not in _live(s), "tombstone must win over lower seq"
    assert _live(s)[2] == (1, "pro")

    # a HIGHER-seq update legitimately recreates the key
    s = _apply(spark, s, [(1, 6, "back", "u")], 3)
    assert _live(s)[1] == (6, "back")

