"""Join / aggregation / sort / window / set-op inventory (SURVEY §2.3-2.5).

The reference's joins are all equi-joins against small dimensions
(broadcast-hash in Spark terms, lib.rs:52-83); we declare the full
join-type surface (inner/left/semi/anti/cross) since Spark gives it for
free and the 100 TB fact-fact case needs the shuffle variants.

Scale notes:
* dim joins (nation/region/supplier) are explicitly ``F.broadcast`` —
  no shuffle of the fact side.
* fact-fact joins (lineitem x orders) shuffle on the join key; AQE
  handles skew splitting at scale.
* windows partition by a key — no global single-partition windows
  except the explicitly-global rank demo (o1), which documents the
  scale caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .core_queries import _dec
from .registry import register


# ---------------------------------------------------------------------------
# J-class: joins
# ---------------------------------------------------------------------------


@register(
    "j2_two_hop_fk_resolution",
    """
    SELECT c.c_custkey, n.n_name AS nation_name, r.r_name AS region_name
    FROM customer c
    LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    """,
    tags=("join",),
    doc="J2 two-hop FK resolution (lib.rs:58-83: entry -> meter-reading href "
    "-> reading-type href); both hops broadcast, missing link -> null.",
)
def j2_two_hop_fk_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select("c_custkey", F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))
    )


@register(
    "j3_fact_dim_denormalize",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, o.o_orderpriority,
           l.l_extendedprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("join",),
    doc="J3 fact->entry denormalize (lib.rs:125-127). lineitem x orders is a "
    "fact-fact equi-join: shuffle-hash/sort-merge on l_orderkey at scale "
    "(both sides co-partition on the key; AQE picks the strategy).",
)
def j3_fact_dim_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_linenumber", "o_orderdate", "o_orderpriority", "l_extendedprice"
    )


@register(
    "j4_null_rejecting_denormalize",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand, p.p_retailprice
    FROM lineitem l
    JOIN part p ON p.p_partkey = NULLIF(l.l_partkey, 1)
    """,
    tags=("join", "null"),
    doc="J4 null-rejecting fact->dim join (lib.rs:168-184: missing reading "
    "type is an error; here inner join drops the nulled keys).",
)
def j4_null_rejecting_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return li.join(
        F.broadcast(p), p["p_partkey"] == F.nullif(li["l_partkey"], F.lit(1)), "inner"
    ).select("l_orderkey", "l_linenumber", "p_brand", "p_retailprice")


@register(
    "j5_left_join_enrich",
    """
    SELECT p.p_partkey,
           COALESCE(s.n_lines, 0) AS n_lines,
           COALESCE(s.total_qty, 0.0) AS total_qty
    FROM part p
    LEFT JOIN (
        SELECT l_partkey, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_partkey
    ) s ON s.l_partkey = p.p_partkey
    """,
    tags=("join", "agg"),
    doc="J5 left join vs aggregated child (build.rs:133-149, Polars lazy "
    "left join); aggregate pushed below the join so the shuffle carries "
    "pre-aggregated rows.",
)
def j5_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    agg = li.groupBy("l_partkey").agg(
        F.count("*").alias("n_lines"),
        F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
    )
    return p.join(agg, agg["l_partkey"] == p["p_partkey"], "left").select(
        "p_partkey",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
    )


@register(
    "j7_semi_join",
    """
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.0)
    """,
    tags=("join",),
    doc="Left-semi join (EXISTS): orders having at least one max-quantity "
    "line. The reference's 'entry has meter reading' check (lib.rs:61-65).",
)
def j7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") >= 49.0)
    return o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "j8_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
    doc="Left-anti join (NOT EXISTS): customers with no orders — the "
    "reference's missing-link path (lib.rs:61-65) as a first-class operator.",
)
def j8_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return c.join(o, o["o_custkey"] == c["c_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "j6_scalar_broadcast_join",
    """
    SELECT o_orderkey, o_totalprice - g.avg_price AS price_vs_avg
    FROM orders
    CROSS JOIN (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM orders
    ) g
    """,
    tags=("join", "agg", "tiny-bnlj"),
    doc="J6 single-row broadcast constant join (lib.rs:110-115: the one "
    "LocalTimeParameters row applied to every reading).",
)
def j6_scalar_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    g = o.agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return o.crossJoin(F.broadcast(g)).select(
        "o_orderkey", (F.col("o_totalprice") - F.col("avg_price")).alias("price_vs_avg")
    )


# ---------------------------------------------------------------------------
# A-class: aggregations
# ---------------------------------------------------------------------------


@register(
    "a1_minmax_extent",
    """
    SELECT event_type, MIN(ts) AS min_ts, MAX(ts) AS max_ts,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
    doc="A1 min/max extent per series (d3 extent, date_aggregated_chart.ts:50-58).",
)
def a1_minmax_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "a2_any_exists_aggregate",
    """
    SELECT user_id,
           bool_or(event_type = 'purchase' AND value > 0.5) AS has_big_purchase
    FROM events GROUP BY user_id
    """,
    tags=("agg",),
    doc="A2 ANY/EXISTS aggregate: hasCost gate (timeseries.rs:182-190).",
)
def a2_any_exists_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.bool_or((F.col("event_type") == "purchase") & (F.col("value") > 0.5)).alias(
            "has_big_purchase"
        )
    )


@register(
    "a3_group_chunks",
    """
    SELECT user_id, COUNT(*) AS n_rows, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    tags=("agg",),
    doc="A3 group-into-chunks by key (sort_and_chunk, timeseries.rs:140-147) "
    "as groupBy summary; the chunked write itself is partitionBy at the sink.",
)
def a3_group_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_rows"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )


@register(
    "a4_counts",
    """
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
    tags=("agg",),
    doc="A4 count/length (columnar_struct_vec lib.rs:205-207) + distinct counts.",
)
def a4_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# O/W-class: sorts, windows, set ops, limits
# ---------------------------------------------------------------------------


@register(
    "o1_multikey_sort_rank",
    """
    SELECT event_id,
           ROW_NUMBER() OVER (ORDER BY event_type, ts, event_id) AS global_rank
    FROM events
    """,
    tags=("sort", "window", "tiny-global-window"),
    doc="O1 multi-key stable sort (timeseries.rs:116-138) made hash-checkable "
    "via a global row_number, implemented scale-safely with NO full-data "
    "window and NO nondeterministic lineage: bucket-offset ranking. The "
    "sort key's order-consistent coarse prefix (event_type, day(ts)) cuts "
    "the data into buckets whose order equals row order; global_rank = "
    "(rows in all earlier buckets, a running sum over the O(types x days) "
    "counts aggregate — the only partition-less Window, broadcast back) + "
    "row_number within the bucket (one keyed window, parallelism = "
    "types x days). Deterministic by construction — every term is a pure "
    "function of row values, unlike the earlier repartitionByRange + "
    "monotonically_increasing_id form whose per-RDD-seeded boundary "
    "sampling could diverge between branches under re-execution (r7 "
    "lesson, see _series_rn). Total cost: 1 tiny agg + 1 keyed window "
    "shuffle; never a single-partition pass over the data.",
)
def o1_multikey_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "ts")
    keyed = ev.withColumn("_bk", F.to_date("ts"))
    counts = keyed.groupBy("event_type", "_bk").agg(F.count("*").alias("_cnt"))
    prior = W.orderBy("event_type", "_bk").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        F.col("event_type").alias("_otype"),
        F.col("_bk").alias("_obk"),
        F.coalesce(F.sum("_cnt").over(prior), F.lit(0)).alias("_off"),
    )
    win = W.partitionBy("event_type", "_bk").orderBy("ts", "event_id")
    return (
        keyed.join(
            F.broadcast(offsets),
            # eqNullSafe: a NULL ts yields a NULL day bucket; plain
            # equality would silently DROP those rows from the rank
            # (inner join), while null-safe equality ranks them first —
            # matching the NULLS FIRST order of the offsets window.
            keyed["event_type"].eqNullSafe(offsets["_otype"])
            & keyed["_bk"].eqNullSafe(offsets["_obk"]),
        )
        .select(
            "event_id",
            (F.row_number().over(win) + F.col("_off"))
            .cast("bigint")
            .alias("global_rank"),
        )
    )


@register(
    "o2_union_all",
    """
    SELECT src, COUNT(*) AS n FROM (
        SELECT 'big' AS src FROM lineitem WHERE l_quantity >= 45.0
        UNION ALL
        SELECT 'cheap' AS src FROM lineitem WHERE l_extendedprice < 2000.0
    ) u GROUP BY src
    """,
    tags=("setop",),
    doc="O2 UNION ALL (TimeSeries::extend, timeseries.rs:149-171): per-file "
    "results concatenated; here two filtered branches unioned then counted.",
)
def o2_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    big = li.filter(F.col("l_quantity") >= 45.0).select(F.lit("big").alias("src"))
    cheap = li.filter(F.col("l_extendedprice") < 2000.0).select(F.lit("cheap").alias("src"))
    return big.unionByName(cheap).groupBy("src").agg(F.count("*").alias("n"))


@register(
    "o3_first_of_group",
    """
    SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
    FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    tags=("window",),
    doc="O3 first-row-of-group (chart title/uom = first of chunk, "
    "date_aggregated_charts.ts:20) via partitioned row_number.",
)
def o3_first_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.col("event_type").alias("first_event_type"),
        )
    )


@register(
    "o4_run_length_split",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS changed
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT user_id, event_type, ts,
               SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marked
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
           MIN(event_type) AS run_type, COUNT(*) AS run_len, MIN(ts) AS run_start
    FROM runs GROUP BY user_id, run_id
    """,
    tags=("window",),
    doc="O4 take-while / run-length split (take_first_title_chunk, "
    "timeseries.rs:62-114): lag-change marker -> running sum run-id -> "
    "groupBy run. Same-window computation stays in one shuffle.",
)
def o4_run_length_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "changed",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = marked.withColumn(
        "run_id", F.sum("changed").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return runs.groupBy("user_id", F.col("run_id").cast("bigint").alias("run_id")).agg(
        F.min("event_type").alias("run_type"),
        F.count("*").alias("run_len"),
        F.min("ts").alias("run_start"),
    )


@register(
    "o5_topk_limit",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    tags=("sort", "limit"),
    doc="Top-K with deterministic tiebreak. Spark executes as TakeOrderedAndProject "
    "(per-partition heap + driver merge) — no global sort at scale.",
)
def o5_topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@register(
    "o6_intersect",
    """
    SELECT o_custkey AS c_key FROM orders WHERE o_totalprice > 100000.0
    INTERSECT
    SELECT c_custkey AS c_key FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("setop",),
    doc="INTERSECT (distinct semantics) — free in Spark, declared for the "
    "generic engine surface (SURVEY §2.5 note).",
)
def o6_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    left = o.filter(F.col("o_totalprice") > 100000.0).select(F.col("o_custkey").alias("c_key"))
    right = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("c_key")
    )
    return left.intersect(right)


@register(
    "o7_except",
    """
    SELECT c_custkey AS c_key FROM customer WHERE c_acctbal > 0
    EXCEPT
    SELECT o_custkey AS c_key FROM orders
    """,
    tags=("setop",),
    doc="EXCEPT (distinct) — positive-balance customers who never ordered.",
)
def o7_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("c_key"))
        .exceptAll(o.select(F.col("o_custkey").alias("c_key")))
        .distinct()
    )


@register(
    "w1_running_sum",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS running_value
    FROM events
    """,
    tags=("window",),
    doc="Running aggregate per key (generic engine surface). Decimal "
    "accumulator keeps the prefix sums bit-identical across engines.",
)
def w1_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias(
            "running_value"
        ),
    )


@register(
    "w2_lag_lead_delta",
    """
    SELECT event_id, user_id,
           value - LAG(value) OVER w AS delta_prev,
           LEAD(event_id) OVER w AS next_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
    doc="lag/lead analytics per key (generic engine surface; O4's primitive).",
)
def w2_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "w3_rank_per_group",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(RANK() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber)
                AS BIGINT) AS price_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY l_orderkey ORDER BY l_returnflag) AS BIGINT)
               AS flag_dense_rank
    FROM lineitem
    """,
    tags=("window",),
    doc="rank/dense_rank per group (generic engine surface).",
)
def w3_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    w1 = W.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"), "l_linenumber")
    w2 = W.partitionBy("l_orderkey").orderBy("l_returnflag")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w1).cast("bigint").alias("price_rank"),
        F.dense_rank().over(w2).cast("bigint").alias("flag_dense_rank"),
    )


@register(
    "d1_date_trunc_rollup",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY day, event_type
    """,
    tags=("datetime", "agg"),
    doc="Daily rollup by event time — the chart aggregation path "
    "(date_aggregated_charts.ts) generalized; partial agg before shuffle.",
)
def d1_date_trunc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


@register(
    "str1_string_functions",
    """
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           CAST(length(c_name) AS BIGINT) AS name_len,
           concat_ws('|', c_mktsegment, c_name) AS tagged,
           substr(c_name, 10, 8) AS name_tail,
           trim(c_mktsegment) AS seg_trim
    FROM customer
    """,
    tags=("string",),
    doc="§2.6 consolidated string scalar surface: upper/length/concat_ws/"
    "substr/trim parity.",
)
def str1_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("tagged"),
        F.substring(F.col("c_name"), 10, 8).alias("name_tail"),
        F.trim("c_mktsegment").alias("seg_trim"),
    )


@register(
    "rj1_time_neighbor_pairs",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS BIGINT) AS abs_diff_us
    FROM events a, events b
    WHERE a.event_id < b.event_id
      AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 5000000
    """,
    tags=("join", "range"),
    doc="Range (interval) self-join, Spark-first: a naive |t_a - t_b| <= W "
    "condition has no equi key and plans as a nested-loop — instead each "
    "row probes its W-wide time bucket and both neighbors, the join is a "
    "plain shuffle equi-join on the bucket, and the exact |diff| <= W "
    "predicate filters after. Every pair matches exactly once (the probe "
    "value is unique per pair), so no dedup pass. At 100 TB the shuffle "
    "is keyed by time bucket — naturally balanced for near-uniform event "
    "rates; hot buckets split via AQE skew handling.",
)
def rj1_time_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    W_US = 5_000_000
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    bucketed = ev.withColumn("bucket", F.floor(F.col("us") / W_US))
    probes = bucketed.select(
        F.col("event_id").alias("id_l"),
        F.col("us").alias("us_l"),
        F.explode(
            F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
        ).alias("probe"),
    )
    right = bucketed.select(
        F.col("event_id").alias("id_r"), F.col("us").alias("us_r"), F.col("bucket")
    )
    return (
        probes.join(right, probes["probe"] == right["bucket"])
        .filter(
            (F.col("id_l") < F.col("id_r"))
            & (F.abs(F.col("us_l") - F.col("us_r")) <= W_US)
        )
        .select(
            F.col("id_l").alias("id_a"),
            F.col("id_r").alias("id_b"),
            F.abs(F.col("us_l") - F.col("us_r")).cast("bigint").alias("abs_diff_us"),
        )
    )


@register(
    "gs1_grouping_sets",
    """
    SELECT event_type, user_id % 10 AS cohort, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    """,
    tags=("agg",),
    doc="GROUPING SETS: three aggregation granularities (per type, per "
    "cohort, grand total) in ONE shuffle — Spark expands the sets and "
    "partial-aggregates each map-side; the hand-rolled alternative is "
    "three jobs plus a union.",
)
def gs1_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "cohort", F.col("user_id") % 10
    )
    return ev.groupingSets(
        [["event_type"], ["cohort"], []], "event_type", "cohort"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
