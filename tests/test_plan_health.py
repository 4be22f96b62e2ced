"""Physical-plan guardrails: the scale properties the queries promise
(SURVEY §4, BASELINE.md notes) must survive refactors.

These assert on the INITIAL physical plan (pre-AQE finalization) at
sf0.001 — broadcast hints, pushdown, and join strategy are all visible
there; AQE can only improve on them at runtime (e.g. converting a
sort-merge join to broadcast when the built side turns out small).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


# name -> (min broadcast-hash joins, max sort-merge joins)
#   SMJ allowances are the genuinely fact-fact joins (lineitem x orders,
#   lineitem self-joins, aggregate join-backs) where a shuffle join is
#   the CORRECT 100 TB strategy and AQE downgrades it when small.
JOIN_EXPECTATIONS = {
    "j2_two_hop_fk_resolution": (2, 0),  # both dim hops broadcast
    "p10_enum_decode_broadcast": (1, 0),
    "q3_shipping_priority": (1, 1),
    "q5_local_supplier_volume": (3, 2),
    "q2_min_cost_supplier": (4, 1),  # dims broadcast; min join-back may SMJ
    "q7_volume_shipping": (4, 1),
    "q8_market_share": (5, 1),
    "q9_product_profit": (3, 1),
    "q10_returned_items": (2, 1),
    "q16_parts_supplier_count": (2, 0),
    "q18_large_volume_customer": (1, 2),
    "q21_waiting_suppliers": (2, 3),
}


@pytest.mark.parametrize("name", sorted(JOIN_EXPECTATIONS))
def test_join_strategies(spark, name):
    min_bhj, max_smj = JOIN_EXPECTATIONS[name]
    plan = _plan(spark, name)
    assert plan.count("CartesianProduct") == 0, f"{name}: cartesian product"
    assert plan.count("BroadcastHashJoin") >= min_bhj, (
        f"{name}: expected >= {min_bhj} broadcast joins\n{plan}"
    )
    assert plan.count("SortMergeJoin") <= max_smj, (
        f"{name}: dim join degraded to sort-merge\n{plan}"
    )


# queries whose every filter must reach the parquet scan
PUSHDOWN = ["q6_forecast_revenue", "s1_scan_filter_project", "q1_pricing_summary"]


@pytest.mark.parametrize("name", PUSHDOWN)
def test_filters_push_to_scan(spark, name):
    plan = _plan(spark, name)
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
        f"{name}: filters not pushed\n{plan}"
    )


def test_q6_scan_prunes_columns(spark):
    """Q6 touches 4 of lineitem's 11 columns; the scan must read only
    those (ReadSchema pruning)."""
    plan = _plan(spark, "q6_forecast_revenue")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read_schema, f"unpruned column {col}: {read_schema}"


def test_topk_is_take_ordered(spark):
    """o5 must plan as TakeOrderedAndProject (per-partition heap), not a
    global sort."""
    plan = _plan(spark, "o5_topk_limit")
    assert "TakeOrderedAndProject" in plan


def _iter_physical_nodes(jplan):
    stack = [jplan]
    while stack:
        node = stack.pop()
        # AdaptiveSparkPlanExec reports no children; descend into the
        # plan it wraps so the walk sees the real operators.
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def test_no_plan_regressions_across_inventory(built_queries):
    """Scale-killer ban across the whole declared inventory:

    * CartesianProduct — never.
    * BatchEvalPython (row-at-a-time Python UDF) — never; Python stages
      are allowed only as ArrowEvalPython / mapInPandas.
    * BroadcastNestedLoopJoin — only in queries tagged ``all-pairs``
      (the deliberately-quadratic oracles for the LSH/IVF scale paths)
      or ``tiny-bnlj`` (a broadcast side that is O(centroids), not
      data).  Anything else planning a BNLJ is a silent quadratic.
    * A Window with an empty partition spec (single-partition pass over
      ALL rows) — only in queries tagged ``tiny-global-window``, where
      the window input is a per-partition aggregate (O(partitions)
      rows), never the data itself.
    """
    from greenbuttonengine_spark.plans import registry

    offenders = []
    for name, df in built_queries.items():
        if name.startswith("espi"):  # espi reads reference XML, not sf dirs
            continue
        tags = set(registry.QUERIES[name].tags)
        if isinstance(df, Exception):
            continue  # streaming-only/aux entries that need extra setup
        try:
            jplan = df._jdf.queryExecution().executedPlan()
        except Exception:
            continue
        s = jplan.toString()
        if "CartesianProduct" in s:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in s:
            offenders.append((name, "BatchEvalPython"))
        if "BroadcastNestedLoopJoin" in s and not tags & {"all-pairs", "tiny-bnlj"}:
            offenders.append((name, "BroadcastNestedLoopJoin (untagged)"))
        if "tiny-global-window" not in tags:
            for node in _iter_physical_nodes(jplan):
                if node.getClass().getSimpleName() == "WindowExec" and (
                    node.partitionSpec().isEmpty()
                ):
                    offenders.append((name, "partition-less Window"))
                    break
    assert not offenders, offenders


def test_aqe_splits_skewed_join(spark):
    """The declared skew posture (SCALING.md: 'AQE handles skew
    splitting at scale') must actually engage: a 90%-one-key join,
    with thresholds scaled down to test size, replans as
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        a = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        b = spark.range(0, 50000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = a.join(b, "k")
        assert len(j.collect()) == 185000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
