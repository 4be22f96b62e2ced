"""Round-13 wave 29: the streaming_matview_merge oracle row runs the
production merge function, not a re-implementation: the merge of two
partial aggregates equals the one-shot aggregate, and a misdeclared
min/max column is refused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")

SF = "/root/testdata/sf0.001"


def _queries():
    import __spark_entry__

    __spark_entry__._registry()

    from greenbuttonengine_spark.plans.registry import QUERIES

    return QUERIES


def _totals(rows):
    return {
        r.user_id: (r.n_events, r.total_cents, r.max_cents, r.min_cents)
        for r in rows
    }


def test_merge_of_partials_equals_full_recompute(spark):
    """The decomposable-aggregate identity the row gates:
    merge(partial(state), partial(delta)) == aggregate(all events)."""
    from greenbuttonengine_spark.plans.wave29_queries import mv_merge_aggs
    from greenbuttonengine_spark.sources.catalog import load_table

    got = _totals(_queries()["streaming_matview_merge"].fn(spark, SF).collect())
    ev = load_table(spark, "events", SF)
    want = _totals(ev.groupBy("user_id").agg(*mv_merge_aggs()).collect())
    assert got == want
    # the split is non-degenerate: both sides contribute rows
    assert ev.filter(F.col("event_id") % 3 == 0).count() > 0
    assert ev.filter(F.col("event_id") % 3 != 0).count() > 0


def test_agg_merge_rejects_misdeclared_minmax_cols(spark):
    """A typo'd minmax_cols key would silently SUM a column meant to
    min/max-merge — the merge must refuse instead."""
    import pytest

    from greenbuttonengine_spark.plans.wave29_queries import _MV_SCHEMA
    from greenbuttonengine_spark.streaming.matview import agg_merge_deltas

    empty = spark.createDataFrame([], _MV_SCHEMA).withColumn(
        "__bucket", F.lit(0)
    )
    with pytest.raises(ValueError, match="not in the view's value columns"):
        agg_merge_deltas(empty, empty, _MV_SCHEMA, ["user_id"],
                         minmax_cols={"max_centz": "max"})
    with pytest.raises(ValueError, match="must be 'min' or 'max'"):
        agg_merge_deltas(empty, empty, _MV_SCHEMA, ["user_id"],
                         minmax_cols={"max_cents": "greatest"})
