"""Incremental materialized aggregate view (streaming/matview.py): the
additive merge of a batch's partial aggregate into stored totals."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

VIEW_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.LongType()),
    T.StructField("max_value", T.LongType()),
])


def test_matview_minmax_merge_is_not_additive(spark):
    """max columns merge with greatest-of, not sum: a second batch
    with a smaller max leaves the stored max unchanged."""
    from greenbuttonengine_spark.streaming.matview import agg_merge_deltas

    def mk(rows):
        return spark.createDataFrame(rows, VIEW_SCHEMA).withColumn(
            "__bucket", F.lit(0))

    merged = agg_merge_deltas(mk([(1, 1, 3, 3)]), mk([(1, 1, 100, 100)]),
                              VIEW_SCHEMA, ["user_id"],
                              minmax_cols={"max_value": "max"})
    got = {r.user_id: (r.n_events, r.total_value, r.max_value)
           for r in merged.collect()}
    assert got == {1: (2, 103, 100)}
