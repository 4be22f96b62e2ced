"""Silver keyed-state CDC upsert: merge semantics, delete tombstones,
replay idempotence, and bucket-granular copy-on-write."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("plan", T.StringType()),
])


def _rows(*tuples):
    return [Row(user_id=u, seq=s, plan=p, op=o) for u, s, p, o in tuples]


def _state(spark, d):
    from greenbuttonengine_spark.streaming.silver import read_current

    return {r.user_id: (r.seq, r.plan)
            for r in read_current(spark, d, SCHEMA).collect()}


def test_cdc_upsert_merge_delete_replay(spark, tmp_path):
    from greenbuttonengine_spark.streaming.silver import apply_cdc_batch

    d = str(tmp_path / "silver")

    b1 = spark.createDataFrame(_rows((1, 1, "free", "u"), (2, 1, "free", "u"),
                                     (3, 1, "pro", "u")))
    apply_cdc_batch(b1, d, SCHEMA, ["user_id"], "seq", epoch_id=0,
                    n_buckets=4, op_col="op")
    assert _state(spark, d) == {1: (1, "free"), 2: (1, "free"), 3: (1, "pro")}

    # epoch 1: upgrade user 1, delete user 2, stale event for user 3
    # (seq 0 < current 1 -> must NOT win)
    b2 = spark.createDataFrame(_rows((1, 2, "pro", "u"), (2, 2, "free", "d"),
                                     (3, 0, "stale", "u")))
    apply_cdc_batch(b2, d, SCHEMA, ["user_id"], "seq", epoch_id=1,
                    n_buckets=4, op_col="op")
    expect = {1: (2, "pro"), 3: (1, "pro")}
    assert _state(spark, d) == expect

    # replaying an applied epoch is a no-op (exactly-once state)
    apply_cdc_batch(b2, d, SCHEMA, ["user_id"], "seq", epoch_id=1,
                    n_buckets=4, op_col="op")
    assert _state(spark, d) == expect

    # equal-seq tie goes to the incoming batch (update beats state)
    b3 = spark.createDataFrame(_rows((1, 2, "enterprise", "u")))
    apply_cdc_batch(b3, d, SCHEMA, ["user_id"], "seq", epoch_id=2,
                    n_buckets=4, op_col="op")
    assert _state(spark, d)[1] == (2, "enterprise")


def test_cdc_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    from greenbuttonengine_spark.streaming.silver import (
        _read_state, apply_cdc_batch)

    d = str(tmp_path / "silver2")
    seed = spark.createDataFrame(
        _rows(*[(u, 1, "p0", "u") for u in range(40)]))
    apply_cdc_batch(seed, d, SCHEMA, ["user_id"], "seq", epoch_id=0,
                    n_buckets=8, op_col="op")
    before = dict(_read_state(d)["buckets"])
    assert set(before.values()) == {"gen-0"}

    # one-key batch: exactly that key's bucket moves to gen-1
    one = spark.createDataFrame(_rows((7, 2, "p1", "u")))
    apply_cdc_batch(one, d, SCHEMA, ["user_id"], "seq", epoch_id=1,
                    n_buckets=8, op_col="op")
    after = _read_state(d)["buckets"]
    moved = {b for b in after if after[b] != before[b]}
    assert len(moved) == 1
    assert after[next(iter(moved))] == "gen-1"
    # untouched buckets still read from gen-0 (copy-on-write held)
    assert sum(1 for b in after if after[b] == "gen-0") == len(after) - 1
    assert _state(spark, d)[7] == (2, "p1")
    assert _state(spark, d)[8] == (1, "p0")


def test_cdc_same_seq_update_delete_resolves_to_delete(spark, tmp_path):
    """An ambiguous producer emitting an update AND a delete for one
    key at the same seq must resolve deterministically to the delete
    (never a partition-order coin flip)."""
    from greenbuttonengine_spark.streaming.silver import apply_cdc_batch

    d = str(tmp_path / "silver_tie")
    b = spark.createDataFrame(_rows((1, 1, "free", "u"), (1, 1, "free", "d"),
                                    (2, 1, "free", "u")))
    apply_cdc_batch(b, d, SCHEMA, ["user_id"], "seq", epoch_id=0,
                    n_buckets=4, op_col="op")
    assert _state(spark, d) == {2: (1, "free")}


def test_cdc_generation_retention_window(spark, tmp_path):
    """A superseded generation must survive _GEN_RETENTION_EPOCHS so a
    reader holding the previous marker snapshot can finish its scan;
    it is removed once the window passes."""
    import os

    from greenbuttonengine_spark.streaming.silver import (
        _GEN_RETENTION_EPOCHS, apply_cdc_batch)

    d = str(tmp_path / "silver_ret")
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 1, "a", "u"))), d, SCHEMA,
        ["user_id"], "seq", epoch_id=0, n_buckets=2, op_col="op")
    assert os.path.isdir(os.path.join(d, "gen-0"))

    # epoch 1 supersedes key 1's bucket; gen-0 must SURVIVE (retention)
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 2, "b", "u"))), d, SCHEMA,
        ["user_id"], "seq", epoch_id=1, n_buckets=2, op_col="op")
    assert os.path.isdir(os.path.join(d, "gen-0")), "retention violated"

    # advance past the retention window: gen-0 may now be collected
    for e in range(2, 2 + _GEN_RETENTION_EPOCHS):
        apply_cdc_batch(
            spark.createDataFrame(_rows((1, e + 1, f"p{e}", "u"))), d,
            SCHEMA, ["user_id"], "seq", epoch_id=e, n_buckets=2, op_col="op")
    assert not os.path.isdir(os.path.join(d, "gen-0"))
    assert _state(spark, d)[1][1] == f"p{1 + _GEN_RETENTION_EPOCHS}"


def test_tombstone_blocks_out_of_order_resurrection(spark, tmp_path):
    """A delete at seq 5 must keep shielding the key when a LATER
    micro-batch delivers an out-of-order update with a lower seq —
    the r5 form dropped 'd' winners entirely and resurrected the key."""
    from greenbuttonengine_spark.streaming.silver import apply_cdc_batch

    d = str(tmp_path / "silver_ts")
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 1, "free", "u"), (2, 1, "pro", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=0, n_buckets=4, op_col="op")
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 5, "free", "d"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=1, n_buckets=4, op_col="op")
    assert 1 not in _state(spark, d)

    # late, lower-seq update in a LATER batch: loses to the tombstone
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 3, "late", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=2, n_buckets=4, op_col="op")
    assert 1 not in _state(spark, d), "tombstone must win over lower seq"
    assert _state(spark, d)[2] == (1, "pro")

    # a HIGHER-seq update legitimately recreates the key
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 6, "back", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=3, n_buckets=4, op_col="op")
    assert _state(spark, d)[1] == (6, "back")


def test_tombstone_retention_expiry(spark, tmp_path):
    """With tombstone_retention_epochs set, an expired tombstone stops
    shielding: the late update applies once the window passes."""
    from greenbuttonengine_spark.streaming.silver import apply_cdc_batch

    d = str(tmp_path / "silver_ret")
    kw = dict(n_buckets=4, op_col="op", tombstone_retention_epochs=2)
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 5, "x", "d"), (2, 1, "pro", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=0, **kw)
    # epoch 1: still inside the window -> shielded
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 3, "late", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=1, **kw)
    assert 1 not in _state(spark, d)
    # epoch 2: tombstone (del_epoch 0 <= 2-2) expired -> the same late
    # update now lands
    apply_cdc_batch(
        spark.createDataFrame(_rows((1, 3, "late2", "u"))),
        d, SCHEMA, ["user_id"], "seq", epoch_id=2, **kw)
    assert _state(spark, d)[1] == (3, "late2")
