"""Round-13 wave: batch-parity oracle row for the incremental
materialized view's merge function (r12 VERDICT item 2,
``streaming/matview.py agg_merge_deltas``), following the wave-27
pattern: the gated plan CALLS the per-micro-batch merge, so the code
under the DuckDB gate is the merge itself, not a re-implementation.
(The reference analog is the WASM session's
accumulate-and-requery loop, ``lib/wasm/src/lib.rs:15-42``: state from
previously-ingested feeds, a delta from the new one, queries answered
from the merged whole.)

The parity identity being gated: for decomposable aggregates,
``merge(partial(A), partial(B)) == aggregate(A + B)`` — stored view
state built from one split of ``events``, a micro-batch delta from the
rest, the production merge of the two partials must equal the one-shot
full-table aggregate any engine computes directly.  SUM/COUNT merge
additively, MAX/MIN via the ``minmax_cols`` declaration, exercising
every merge class ``agg_merge_deltas`` supports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import load_table
from .registry import register
from .wave7_queries import mv_user_event_aggs

_MV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("max_cents", T.LongType()),
        T.StructField("min_cents", T.LongType()),
    ]
)


def mv_merge_aggs():
    """The view's aggregate expressions: wave7's additive/max set
    (``mv_user_event_aggs``) plus a min column so the oracle row
    exercises the ``minmax_cols`` min-merge too."""
    cents = F.round(F.col("value") * 100).cast("long")
    return [*mv_user_event_aggs(), F.min(cents).cast("long").alias("min_cents")]


@register(
    "streaming_matview_merge",
    r"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents,
           CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(user_id % 16 AS INT) AS bucket
    FROM events GROUP BY user_id
    """,
    tags=("streaming-parity", "agg", "incremental"),
    doc="Batch-parity oracle for the incremental materialized view's "
    "merge: the gated plan calls streaming/matview.py agg_merge_deltas "
    "— the per-micro-batch merge — on a state/batch split of "
    "events: stored view state is the partial aggregate of "
    "event_id%3==0, the micro-batch delta the partial aggregate of the "
    "rest, and the production merge of the two partials must equal the "
    "one-shot full-table aggregate (the decomposable-aggregate "
    "identity merge(partial(A), partial(B)) == aggregate(A+B) that "
    "makes IVM correct).  n_events/total_cents merge by SUM, "
    "max_cents/min_cents by the minmax_cols declaration — every merge "
    "class the view supports.  The declared bucket column is "
    "pmod(user_id, 16) for cross-engine replay.  "
    "Scale shape: each partial is one "
    "map-side-combined shuffle over its OWN split, the merge is one "
    "key-partitioned aggregate over batch keys + affected buckets — "
    "never O(history).  Integer cents keep it cross-engine exact.",
)
def streaming_matview_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.matview import agg_merge_deltas

    ev = load_table(spark, "events", sf_dir)
    bucket = F.pmod(F.col("user_id"), F.lit(16)).cast("int")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(*mv_merge_aggs())
            .withColumn("__bucket", bucket)
        )

    state = partial(ev.filter(F.col("event_id") % 3 == 0))
    delta = partial(ev.filter(F.col("event_id") % 3 != 0))
    merged = agg_merge_deltas(
        delta,
        state,
        _MV_SCHEMA,
        ["user_id"],
        minmax_cols={"max_cents": "max", "min_cents": "min"},
    )
    return merged.select(
        "user_id",
        "n_events",
        "total_cents",
        "max_cents",
        "min_cents",
        F.col("__bucket").alias("bucket"),
    )
