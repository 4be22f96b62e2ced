"""Advanced declared queries: the generic-engine surface beyond the
reference's own operators (SURVEY §2.5 note: limits/set-ops/rankings
come free in Spark; we declare them so the harness exercises them) plus
composite OLAP shapes (sessionization, rollup, pivot, percentiles,
as-of join) and the influx sink projection as an oracle-checked query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .core_queries import _dec
from .registry import register

# The reference implementation's checkout, beside this one; may be absent.
REFERENCE = os.path.abspath(os.path.join(__file__, *[".."] * 4, "reference"))
EGD_XML = f"{REFERENCE}/test_files/EGD_Gas_EnergyUsage_20221225_20241225.xml"
GOLDEN_PARQUET = f"{REFERENCE}/cli-frontend/tests/goldens/golden.parquet"


@register(
    "sessionize_events",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
    doc="Sessionization: 30-minute inactivity gap -> session boundaries "
    "via lag + running sum (one shuffle on user_id; the streaming analog "
    "is session_window). The canonical event-pipeline operator.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    marked = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
    doc="ROLLUP hierarchy totals (flag -> flag+status -> grand total) — "
    "Catalyst expands to a single shuffle with grouping-id.",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "cube_counts",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
    doc="CUBE over two dims — all 4 grouping sets in one pass.",
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@register(
    "pivot_returnflag",
    """
    SELECT l_linestatus,
           COUNT(*) FILTER (WHERE l_returnflag = 'A') AS A,
           COUNT(*) FILTER (WHERE l_returnflag = 'N') AS N,
           COUNT(*) FILTER (WHERE l_returnflag = 'R') AS R
    FROM lineitem GROUP BY l_linestatus
    """,
    tags=("agg", "pivot"),
    doc="Pivot (wide conditional aggregation); explicit value list keeps "
    "the schema static — the scale-safe pivot form (no extra pass to "
    "discover values).",
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
    )


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
    doc="Exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont: both (n-1)*p linear interpolation). For "
    "100 TB use approx_percentile — declared exact here for the oracle.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_quantity", 0.75).alias("p75"),
        F.min("l_quantity").alias("q_min"),
        F.max("l_quantity").alias("q_max"),
    )


@register(
    "asof_last_click_before_purchase",
    """
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), joined AS (
        SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_ts,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        FROM purchases p JOIN clicks c
          ON c.user_id = p.user_id AND c.click_ts < p.purchase_ts
    )
    SELECT user_id, purchase_id, purchase_ts, click_id AS last_click_id,
           click_ts AS last_click_ts
    FROM joined WHERE rn = 1
    """,
    tags=("join", "asof"),
    doc="As-of join (Spark has no native one): for each purchase, the "
    "last strictly-earlier click by the same user — equi-join on the "
    "entity + range filter + argmax window. At scale: bucketize time and "
    "join on (user, bucket) to bound the range expansion, or "
    "applyInPandas with merge_asof per user partition.",
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = p.join(
        c, (F.col("c_user") == F.col("user_id")) & (F.col("click_ts") < F.col("purchase_ts"))
    )
    w = W.partitionBy("purchase_id").orderBy(F.desc("click_ts"), F.desc("click_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts",
            F.col("click_id").alias("last_click_id"),
            F.col("click_ts").alias("last_click_ts"),
        )
    )


@register(
    "w4_ntile_percent_rank",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
           percent_rank() OVER w AS price_pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
    doc="ntile/percent_rank per group — distribution analytics windows.",
)
def w4_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
    )


@register(
    "s6_influx_line_projection",
    r"""
    SELECT concat(
             regexp_replace(replace(p.p_name, ' ', '_'), '[^A-Za-z0-9_]', '', 'g'),
             ',db=greenbutton,brand=', replace(p.p_brand, ' ', '\ '),
             ',type=', replace(p.p_type, ' ', '\ '),
             ' value=', CAST(l.l_quantity AS VARCHAR),
             ',line=', CAST(l.l_linenumber AS VARCHAR),
             ' ', CAST(CAST(floor(epoch(l.l_shipdate)) AS BIGINT) * 1000000000 AS VARCHAR)
           ) AS line
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    tags=("sink", "string"),
    doc="S6 influx line-protocol sink body as an oracle-checked "
    "projection: P13 measurement sanitize + P14 tag escaping + P15 ns "
    "epoch, one string column built fully in codegen "
    "(timeseries.rs:309-358).",
)
def s6_influx_line_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    esc = lambda c: F.replace(F.col(c), F.lit(" "), F.lit("\\ "))  # noqa: E731
    measurement = F.regexp_replace(
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")), "[^A-Za-z0-9_]", ""
    )
    line = F.concat(
        measurement,
        F.lit(",db=greenbutton,brand="), esc("p_brand"),
        F.lit(",type="), esc("p_type"),
        F.lit(" value="), F.col("l_quantity").cast("string"),
        F.lit(",line="), F.col("l_linenumber").cast("string"),
        F.lit(" "), (F.unix_timestamp("l_shipdate") * F.lit(1000000000)).cast("string"),
    )
    return li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"]).select(line.alias("line"))


@register(
    "str2_string_functions",
    """
    SELECT p_partkey,
           translate(p_brand, '#', '_') AS brand_t,
           left(p_name, 5) AS name_l,
           right(p_name, 5) AS name_r,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           reverse(p_brand) AS brand_rev,
           split_part(p_type, ' ', 2) AS type_mid,
           CAST(levenshtein(p_brand, 'Brand#00') AS BIGINT) AS brand_dist
    FROM part
    """,
    tags=("string",),
    doc="§2.6 string surface, part 2: translate/left/right/lpad/reverse/"
    "split_part + levenshtein (the edit-distance primitive for "
    "small-string fuzzy matching; for corpus-scale fuzzy dedup use the "
    "shingle/LSH operators instead).",
)
def str2_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.translate("p_brand", "#", "_").alias("brand_t"),
        F.expr("left(p_name, 5)").alias("name_l"),
        F.expr("right(p_name, 5)").alias("name_r"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_brand").alias("brand_rev"),
        F.expr("split_part(p_type, ' ', 2)").alias("type_mid"),
        F.levenshtein("p_brand", F.lit("Brand#00")).cast("bigint").alias("brand_dist"),
    )


@register(
    "math1_functions",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS price_sign,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(mod(l_orderkey, 7) AS BIGINT) AS key_mod,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_kbucket,
           CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_decile
    FROM lineitem
    """,
    tags=("math",),
    doc="§2.6 math surface: sign/abs/mod/sqrt/floor/ceil (sqrt is IEEE "
    "exact cross-engine; ln/exp are intentionally absent — last-ulp "
    "libm differences break bit equality).",
)
def math1_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.signum(F.col("l_extendedprice") - 30000.0).alias("price_sign"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("bigint").alias("price_kbucket"),
        F.ceil(F.col("l_quantity") / 10.0).cast("bigint").alias("qty_decile"),
    )


@register(
    "o8_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("setop",),
    doc="DISTINCT (hash-based dedup shuffle; partial dedup map-side).",
)
def o8_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "o9_intersect_all",
    """
    SELECT o_custkey AS c_key FROM orders WHERE o_totalprice > 50000.0
    INTERSECT ALL
    SELECT o_custkey AS c_key FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
    doc="INTERSECT ALL (multiplicity-preserving set op).",
)
def o9_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    left = o.filter(F.col("o_totalprice") > 50000.0).select(F.col("o_custkey").alias("c_key"))
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_key")
    )
    return left.intersectAll(right)


@register(
    "o10_except_all",
    """
    SELECT o_custkey AS c_key FROM orders WHERE o_totalprice > 50000.0
    EXCEPT ALL
    SELECT o_custkey AS c_key FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
    doc="EXCEPT ALL (multiplicity-subtracting set op; completes the "
    "set-op surface next to o6/o7/o9). One shuffle on the row key.",
)
def o10_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    left = o.filter(F.col("o_totalprice") > 50000.0).select(
        F.col("o_custkey").alias("c_key")
    )
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_key")
    )
    return left.exceptAll(right)


@register(
    "j9_full_outer_reconcile",
    """
    WITH a AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ), b AS (
        SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS n_ship
        FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(a.day, b.day) AS day,
           CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(b.n_ship, 0) AS BIGINT) AS n_ship
    FROM a FULL OUTER JOIN b ON a.day = b.day
    """,
    tags=("join",),
    doc="FULL OUTER reconciliation: daily order volume vs daily ship "
    "volume, days present on only one side surfaced with zero on the "
    "other — the ledger-vs-ledger audit shape (completes the join "
    "surface: inner/left/semi/anti declared elsewhere). Both inputs "
    "pre-aggregate to O(days) before the join, so the outer join "
    "itself is tiny at any corpus size.",
)
def j9_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_orders"))
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.count("*").alias("n_ship"))
    )
    j = o.withColumnRenamed("day", "day_a").join(
        li.withColumnRenamed("day", "day_b"),
        F.col("day_a") == F.col("day_b"),
        "full_outer",
    )
    return j.select(
        F.coalesce("day_a", "day_b").alias("day"),
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce("n_ship", F.lit(0)).cast("bigint").alias("n_ship"),
    )


@register(
    "espi_egd_timeseries",
    None,  # input is the reference's XML corpus, not the oracle tables
    tags=("espi", "flagship"),
    doc="The ESPI pipeline end-to-end as a declared query: EGD provider "
    "XML -> parse -> denormalize -> 15-column TimeSeries (rows-only "
    "here; full value parity vs the reference's golden parquet is "
    "enforced in tests/test_espi_golden.py).",
)
def espi_egd_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..espi import timeseries_from_files

    if not os.path.exists(EGD_XML):  # environment without the reference corpus
        return spark.createDataFrame([], "title string, value float")
    ts, _errors = timeseries_from_files(spark, EGD_XML)
    return ts


@register(
    "espi_egd_golden_parity",
    f"""
    SELECT title,
           CASE WHEN isnan(cost) THEN NULL
                ELSE CAST(cost AS DOUBLE) END AS cost,
           quality,
           CAST(value AS DOUBLE) AS value,
           CAST(tou AS BIGINT) AS tou,
           epoch_ms(time_period_start_unix) // 1000 AS start_unix_s,
           CAST(time_period_duration_seconds AS BIGINT) AS duration_s,
           accumulation_behaviour, commodity, currency, data_qualifier,
           flow_direction, kind, phase, uom
    FROM read_parquet(
        '{GOLDEN_PARQUET}')
    WHERE title = 'Meter data'
    """,
    tags=("espi", "flagship", "golden"),
    doc="Driver-visible VALUE check for the flagship ESPI pipeline: the "
    "Spark side runs the full EGD XML -> parse -> denormalize -> "
    "15-column TimeSeries pipeline (timeseries.rs:244-262 schema); the "
    "oracle side is the reference's own committed golden parquet "
    "(cli-frontend/tests/goldens/golden.parquet) restricted to the "
    "'Meter data' series the one non-stripped input file produces.  "
    "Canonicalization makes the hash compare exact: NaN cost sentinel "
    "-> NULL, f32 values widened to DOUBLE (exact), timestamps as "
    "BIGINT epoch seconds.  This turns the pytest-only golden parity "
    "(tests/test_espi_golden.py) into a driver CORRECTNESS row, so the "
    "end-to-end pipeline is value-pinned by the gate itself.",
)
def espi_egd_golden_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..espi import timeseries_from_files

    if not os.path.exists(EGD_XML):
        # Environment with the input XML stripped: there is no pipeline
        # run to check.  Emit a single SENTINEL row that cannot
        # hash-match the oracle (which reads the golden parquet), so a
        # missing input reads as a RED/skipped row in the gate output
        # instead of a vacuous pass (an earlier fallback read the
        # golden through the same projection, which compared the golden
        # to itself and was indistinguishable from a real green).
        return spark.range(1).select(
            F.lit("SKIPPED_NO_INPUT").alias("title"),
            F.lit(None).cast("double").alias("cost"),
            F.lit(None).cast("string").alias("quality"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("bigint").alias("tou"),
            F.lit(None).cast("bigint").alias("start_unix_s"),
            F.lit(None).cast("bigint").alias("duration_s"),
            *[
                F.lit(None).cast("string").alias(c)
                for c in (
                    "accumulation_behaviour", "commodity", "currency",
                    "data_qualifier", "flow_direction", "kind", "phase", "uom",
                )
            ],
        )
    ts, _errors = timeseries_from_files(spark, EGD_XML)
    return ts.select(
        "title",
        F.when(F.isnan("cost"), F.lit(None))
        .otherwise(F.col("cost").cast("double"))
        .alias("cost"),
        "quality",
        F.col("value").cast("double").alias("value"),
        F.col("tou").cast("bigint").alias("tou"),
        F.col("time_period_start_unix").cast("bigint").alias("start_unix_s"),
        F.col("time_period_duration_seconds").cast("bigint").alias("duration_s"),
        "accumulation_behaviour",
        "commodity",
        "currency",
        "data_qualifier",
        "flow_direction",
        "kind",
        "phase",
        "uom",
    )


@register(
    "a5_salted_skew_aggregate",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "skew"),
    doc="Skew-safe two-phase aggregation: only 5 distinct event_type "
    "keys means a plain groupBy sends each key's entire volume to one "
    "reducer. Salting (key, hash%16) fans the hot keys across 16 "
    "partial aggregates, then a cheap 5x16-row final combine — "
    "result-identical to the plain groupBy (the oracle). At 100 TB this "
    "is the manual fallback where AQE skew handling doesn't apply "
    "(aggregation skew, not join skew).",
)
def a5_salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt")
    partial = (
        ev.select("event_type", salt, F.col("value").cast("decimal(18,6)").alias("v"))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("pn"), F.sum("v").alias("pv"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), F.sum("pv").cast("double").alias("total_value")
    )


@register(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS prop_missing
    FROM events
    """,
    tags=("json",),
    doc="JSON scalar extraction from a string payload column "
    "(get_json_object stays in codegen; for repeated access at scale, "
    "from_json to a struct once and prune fields).",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
        F.get_json_object("props", "$.missing").cast("bigint").alias("prop_missing"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
    tags=("flagship", "join", "agg"),
    doc="TPC-H Q3 shape: selective dims filter before the fact join "
    "(predicate pushdown + join reordering), then top-20 by revenue — "
    "TakeOrderedAndProject, no global sort.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("flagship", "join", "agg"),
    doc="TPC-H Q5 shape: 6-table join chain with a correlated nation "
    "constraint; dims broadcast, the two facts co-shuffle on orderkey.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = load_table(spark, "nation", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        F.broadcast(r)
        .join(n, n["n_regionkey"] == r["r_regionkey"])
        .join(c, c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (s["s_suppkey"] == li["l_suppkey"]) & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


@register(
    "sessionize_native_window",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
    doc="Sessionization via Spark's NATIVE session_window operator "
    "(dynamic-gap session aggregation inside one hash aggregate — no "
    "lag/running-sum window pair, and the same operator powers the "
    "streaming mode with watermark state eviction). Boundary note: "
    "session_window closes at ts >= last+gap while the lag form opens "
    "at ts - prev > gap; the two differ only for events exactly ON the "
    "gap boundary (none in this corpus — asserted by the shared "
    "oracle).",
)
def sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


# ---------------------------------------------------------------------------
# Funnel + retention (classic event-analytics shapes)
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    """
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, u.t_view,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts >= u.t_view
                        THEN e.ts END) AS t_click
        FROM events e JOIN u USING (user_id)
        GROUP BY e.user_id, u.t_view
    ), p AS (
        SELECT e.user_id, c.t_view, c.t_click,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click
                        THEN e.ts END) AS t_purchase
        FROM events e JOIN c USING (user_id)
        GROUP BY e.user_id, c.t_view, c.t_click
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(t_click) AS BIGINT) AS n_click_after_view,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase_after_click
    FROM p
    """,
    tags=("window", "analytics"),
    doc="Ordered conversion funnel view -> click -> purchase: each "
    "stage's timestamp must follow the previous stage's. One shuffle "
    "on user_id; the three stage minima are window passes sharing the "
    "same partition spec (Catalyst collapses them onto one sort), then "
    "a per-user collapse and a single global count row.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id")
    t = F.col("event_type")
    x = ev.withColumn("t_view", F.min(F.when(t == "view", F.col("ts"))).over(w))
    x = x.withColumn(
        "t_click",
        F.min(
            F.when((t == "click") & (F.col("ts") >= F.col("t_view")), F.col("ts"))
        ).over(w),
    )
    x = x.withColumn(
        "t_purchase",
        F.min(
            F.when((t == "purchase") & (F.col("ts") >= F.col("t_click")), F.col("ts"))
        ).over(w),
    )
    per_user = x.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t_view").cast("bigint").alias("n_view"),
        F.count("t_click").cast("bigint").alias("n_click_after_view"),
        F.count("t_purchase").cast("bigint").alias("n_purchase_after_click"),
    )


@register(
    "retention_cohorts",
    """
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ), a AS (
        SELECT DISTINCT e.user_id, f.cohort_day, CAST(e.ts AS DATE) AS active_day
        FROM events e JOIN f USING (user_id)
    )
    SELECT cohort_day,
           CAST(datediff('day', cohort_day, active_day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM a GROUP BY cohort_day, day_offset
    """,
    tags=("analytics",),
    doc="Retention triangle: users grouped by first-seen day, counted "
    "on each subsequent active day offset. first-seen agg, join back "
    "(both sides already partitioned by user_id — one shuffle total), "
    "per-day distinct, small groupBy.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    a = (
        ev.join(f, "user_id")
        .select("user_id", "cohort_day", F.to_date("ts").alias("active_day"))
        .distinct()
    )
    return a.groupBy(
        "cohort_day",
        F.datediff("active_day", "cohort_day").cast("bigint").alias("day_offset"),
    ).agg(F.count("*").cast("bigint").alias("n_active"))


@register(
    "anomaly_zscore_events",
    """
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS sxc,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS sxxc
        FROM events GROUP BY event_type
    ), m AS (
        SELECT event_type,
               CAST(sxc AS DOUBLE) / n AS mean_c,
               sqrt(CAST(sxxc AS DOUBLE) / n
                    - (CAST(sxc AS DOUBLE) / n) * (CAST(sxc AS DOUBLE) / n))
                   AS std_c
        FROM s
    )
    SELECT e.event_id, e.event_type,
           (e.value * 100 - m.mean_c) / m.std_c AS zscore
    FROM events e JOIN (SELECT * FROM m WHERE std_c > 0) m USING (event_type)
    WHERE abs((e.value * 100 - m.mean_c) / m.std_c) > 3.0
    """,
    tags=("analytics",),
    doc="Per-type z-score outlier flagging: moments are exact integer-"
    "cent sums (order-independent and below 2^53, so mean/std are "
    "bit-identical across engines and partitionings) broadcast back "
    "onto a scan-stage filter — the metric-anomaly sweep shape: one "
    "tiny aggregate, no second full-data shuffle.",
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    # Integer-cents moments, NOT decimal sums: value is cent-quantized,
    # so sum(cents) and sum(cents^2) are exact BIGINTs below 2^53 —
    # every later double op is a single correctly-rounded IEEE step on
    # bit-identical inputs.  (Decimal sums are exact too, but the
    # DECIMAL->DOUBLE cast itself differs by 1 ulp between engines:
    # DuckDB scales the int128 in fp, Java rounds the true value.)
    cents = F.round(F.col("value") * 100).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sxc"),
        F.sum(cents * cents).alias("sxxc"),
    )
    mean_c = F.col("sxc").cast("double") / F.col("n")
    m = s.select(
        "event_type",
        mean_c.alias("mean_c"),
        F.sqrt(F.col("sxxc").cast("double") / F.col("n") - mean_c * mean_c).alias(
            "std_c"
        ),
    )
    # A zero-variance stratum (single-row group or constant values) has
    # no outliers by definition; without the filter ANSI-mode Spark
    # raises DIVIDE_BY_ZERO on std_c = 0 while DuckDB emits inf rows —
    # both wrong.  Filtering the broadcast side keeps engines aligned.
    m = m.filter(F.col("std_c") > 0)
    z = (F.col("value") * 100 - F.col("mean_c")) / F.col("std_c")
    return (
        ev.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
    )


@register(
    "ts1_gap_fill_daily",
    """
    WITH c AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), extent AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM c GROUP BY user_id
    ), days AS (
        SELECT user_id,
               CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM extent
    )
    SELECT days.user_id AS user_id, days.day AS day,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM days LEFT JOIN c
      ON days.user_id IS NOT DISTINCT FROM c.user_id AND days.day = c.day
    """,
    tags=("timeseries",),
    doc="Per-series calendar gap fill: every user's daily event-count "
    "series is made dense over its own [min_day, max_day] extent, "
    "missing days zero-filled — the resample/densify primitive every "
    "charting and windowed-model pipeline needs (the reference's "
    "date-aggregated charts draw these gaps as zeros; "
    "web-frontend/src/date_aggregated_chart.ts buckets by day). "
    "Shape: one (user, day) hash agg, a tiny per-user extent agg, "
    "sequence+explode of O(days) rows, then an equi-join back on "
    "(user, day) — both sides already clustered by user; rows out are "
    "O(users x days), never a cross join.",
)
def ts1_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    extent = c.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    days = extent.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    # null-safe on the series key: a NULL-keyed series (unattributed
    # events) must still see its own counts, not all-zeros (plain
    # equi-join semantics silently zero it in both engines)
    cj = c.select(F.col("user_id").alias("cu"), F.col("day").alias("cd"), "n")
    return (
        days.join(
            cj,
            days["user_id"].eqNullSafe(cj["cu"]) & (days["day"] == cj["cd"]),
            "left",
        )
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@register(
    "w5_moving_avg_time_range",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS sum_cents,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) AS avg_cents
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec
          FROM events) t
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "timeseries"),
    doc="Event-time sliding mean: per user, mean value over the "
    "trailing hour at each event (RANGE frame on epoch seconds, so "
    "simultaneous events share one frame regardless of tie order — a "
    "ROWS frame would be partition-order-dependent). Values enter as "
    "exact integer cents (order-independent window sums; one int/int "
    "division in double). One shuffle keyed by user; frames never "
    "cross users, so 100 TB scales by user cardinality, not corpus "
    "size.",
)
def w5_moving_avg_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_timestamp("ts").alias("sec"),
    )
    w = W.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    n_win = F.count("*").over(w).cast("bigint")
    sum_cents = F.sum("cents").over(w).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        n_win.alias("n_win"),
        sum_cents.alias("sum_cents"),
        (sum_cents.cast("double") / n_win.cast("double")).alias("avg_cents"),
    )


@register(
    "anomaly_mad_events",
    """
    WITH c AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), m AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med_c FROM c
        GROUP BY event_type
    ), d AS (
        SELECT c.event_id, c.event_type, c.cents, m.med_c,
               abs(c.cents - m.med_c) AS abs_dev
        FROM c JOIN m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad_c FROM d
        GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           d.cents - d.med_c AS dev_cents, mad.mad_c AS mad_cents
    FROM d JOIN (SELECT * FROM mad WHERE mad_c > 0) mad USING (event_type)
    WHERE d.abs_dev > mad.mad_c * 4.4478
    """,
    tags=("analytics", "percentile"),
    doc="Robust outlier sweep: median/MAD instead of mean/std, so the "
    "anomalies themselves cannot drag the threshold (the failure mode "
    "of z-scores on heavy-tailed metrics). Flags |x - med| > "
    "3*1.4826*MAD. Values as exact integer cents; medians interpolate "
    "(a+b)/2 on exact ints in both engines -> bit-deterministic. Two "
    "tiny per-type aggregates broadcast onto scan-stage filters; for "
    "100 TB swap percentile for approx_percentile (same plan shape) — "
    "exact group medians buffer per-group values.",
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(F.percentile("cents", 0.5).alias("med_c"))
    d = ev.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("cents") - F.col("med_c"))
    )
    mad = (
        d.groupBy("event_type")
        .agg(F.percentile("abs_dev", 0.5).alias("mad_c"))
        .filter(F.col("mad_c") > 0)
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("abs_dev") > F.col("mad_c") * 4.4478)
        .select(
            "event_id",
            "event_type",
            (F.col("cents") - F.col("med_c")).alias("dev_cents"),
            F.col("mad_c").alias("mad_cents"),
        )
    )


@register(
    "stats_corr_events",
    """
    WITH m AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS sx,
               SUM(CAST(date_part('hour', ts) AS BIGINT)) AS sy,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS sxx,
               SUM(CAST(date_part('hour', ts) AS BIGINT)
                   * CAST(date_part('hour', ts) AS BIGINT)) AS syy,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(date_part('hour', ts) AS BIGINT)) AS sxy
        FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy
                AS DOUBLE)
               / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                            - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
                              - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)))
               AS corr_value_hour
    FROM m
    WHERE CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx > 0
      AND CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy > 0
    """,
    tags=("analytics",),
    doc="Pearson correlation per group (does metric value track hour "
    "of day?) computed from exact BIGINT moments, NOT F.corr: built-in "
    "corr accumulates doubles in partition order, so its last bits "
    "differ across engines/layouts. Integer moments are "
    "order-independent; the n*sxy-style combination runs in "
    "DECIMAL(38,0) because it crosses int64 around a billion rows "
    "per group (BIGINT would ANSI-throw at scale), and a scale-0 "
    "decimal -> double cast is one correctly-rounded step in both "
    "engines. One map-side-combined aggregate; zero-variance groups "
    "filtered (no correlation is defined there).",
)
def stats_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        F.hour("ts").cast("bigint").alias("y"),
    )
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # the moment combination crosses int64 near 1e9 rows/group: run it
    # in DECIMAL(38,0) (exact; one correctly-rounded cast to double)
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    vx = d("n") * F.col("sxx") - d("sx") * F.col("sx")
    vy = d("n") * F.col("syy") - d("sy") * F.col("sy")
    num = d("n") * F.col("sxy") - d("sx") * F.col("sy")
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            (
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
            ).alias("corr_value_hour"),
        )
    )


@register(
    "cumulative_distinct_users",
    """
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
        GROUP BY user_id
    ), d AS (
        SELECT first_day AS day, COUNT(*) AS new_users FROM f GROUP BY 1
    )
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS total_users
    FROM d
    """,
    tags=("analytics", "tiny-global-window"),
    doc="Running distinct-user count by day (the growth curve): "
    "first-seen day per user (one shuffle keyed by user), daily "
    "new-user counts (tiny agg), then a cumulative sum over the "
    "O(days) aggregate — the global window runs on days, never on "
    "events, which is the only sanctioned partition-less window shape "
    "(tiny-global-window). Running COUNT(DISTINCT) over raw events "
    "would instead buffer per-day user sets.",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    d = f.groupBy("day").agg(F.count("*").alias("new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return d.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("total_users"),
    )


@register(
    "feature_bin_quantile",
    """
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q1,
               quantile_cont(l_quantity, 0.5) AS q2,
               quantile_cont(l_quantity, 0.75) AS q3
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
           CAST(CASE WHEN l_quantity <= q1 THEN 0
                     WHEN l_quantity <= q2 THEN 1
                     WHEN l_quantity <= q3 THEN 2
                     ELSE 3 END AS BIGINT) AS qty_bin
    FROM lineitem JOIN q USING (l_returnflag)
    """,
    tags=("analytics", "percentile"),
    doc="Equal-frequency feature binning: per-group exact quartile "
    "cutoffs broadcast back onto a scan-stage CASE — the quantile "
    "bucketizer every feature pipeline needs before hashing/crossing "
    "features. Cutoffs interpolate on integer-valued doubles "
    "(deterministic); assignment is pure comparison. One tiny "
    "aggregate + broadcast join; at 100 TB use approx_percentile "
    "cutoffs (same plan, sketch-mergeable).",
)
def feature_bin_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q1"),
        F.percentile("l_quantity", 0.5).alias("q2"),
        F.percentile("l_quantity", 0.75).alias("q3"),
    )
    binned = (
        F.when(F.col("l_quantity") <= F.col("q1"), 0)
        .when(F.col("l_quantity") <= F.col("q2"), 1)
        .when(F.col("l_quantity") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity",
            binned.cast("bigint").alias("qty_bin"),
        )
    )


@register(
    "rolling_7d_active_users",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), span AS (
        SELECT CAST(unnest(generate_series(MIN(day), MAX(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM ud
    ), contrib AS (
        SELECT DISTINCT ud.user_id, span.day
        FROM ud JOIN span
          ON span.day >= ud.day AND span.day <= ud.day + INTERVAL 6 DAY
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS active_7d
    FROM contrib GROUP BY day
    """,
    tags=("analytics", "timeseries"),
    doc="Rolling 7-day distinct active users — sliding COUNT(DISTINCT) "
    "does not decompose over windows, so the exact scale shape is: "
    "distinct (user, day) pairs (one dedup shuffle, the only pass over "
    "raw events), explode each active day into the <=7 target days it "
    "covers, re-distinct, count per day. Cost is O(active-user-days x "
    "7), independent of event volume; the raw stream is touched "
    "exactly once. (HLL sketch union is the approximate alternative "
    "when user-days themselves blow up.)",
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    span = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    # each (user, active day) contributes to target days [day, day+6],
    # clipped to the observed span via the equi-join on exploded targets
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 6), interval 1 day)")
            ).alias("day"),
        )
        .join(F.broadcast(span), "day", "left_semi")
        .distinct()
    )
    return contrib.groupBy("day").agg(F.count("*").cast("bigint").alias("active_7d"))


@register(
    "asof2_tolerance_join",
    """
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), joined AS (
        SELECT p.user_id, p.purchase_id, c.click_id, c.click_ts,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        FROM purchases p JOIN clicks c
          ON c.user_id = p.user_id
         AND c.click_ts < p.purchase_ts
         AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    )
    SELECT p.user_id AS user_id, p.purchase_id AS purchase_id,
           p.purchase_ts AS purchase_ts, j.click_id AS attributed_click_id,
           j.click_ts AS attributed_click_ts
    FROM purchases p
    LEFT JOIN (SELECT * FROM joined WHERE rn = 1) j
      ON p.purchase_id = j.purchase_id
    """,
    tags=("join", "asof"),
    doc="As-of join WITH TOLERANCE (pandas merge_asof semantics): the "
    "last click at most 1 hour before each purchase, and purchases "
    "with no in-window click kept with NULL attribution (the "
    "attribution-window shape; the unbounded variant is "
    "asof_last_click_before_purchase). The tolerance bound is the "
    "scale lever: it caps the range-join expansion per purchase to "
    "one window of clicks, so bucketizing time to 1-hour buckets "
    "turns this into an equi-join on (user, bucket) with at most two "
    "buckets probed.",
)
def asof2_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("interval 1 hour")
        ),
    )
    w = W.partitionBy("purchase_id").orderBy(F.desc("click_ts"), F.desc("click_id"))
    best = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("purchase_id").alias("bp"),
            F.col("click_id").alias("attributed_click_id"),
            F.col("click_ts").alias("attributed_click_ts"),
        )
    )
    return p.join(best, p["purchase_id"] == best["bp"], "left").select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        "attributed_click_id",
        "attributed_click_ts",
    )


@register(
    "ltv_decile_by_nation",
    """
    WITH rev AS (
        SELECT c.c_custkey, c.c_nationkey,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT c_custkey, c_nationkey, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(NTILE(10) OVER (PARTITION BY c_nationkey
                                ORDER BY rev_cents DESC, c_custkey)
                AS BIGINT) AS ltv_decile
    FROM rev
    """,
    tags=("analytics", "window"),
    doc="Customer lifetime-value deciles within each nation: exact "
    "integer-cent revenue aggregate, then NTILE(10) per nation with a "
    "total order (revenue desc, key) so bucket boundaries are "
    "deterministic. One join shuffle + one window shuffle keyed by "
    "nation — the cohort-scoring shape; nothing global.",
)
def ltv_decile_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    rev = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = W.partitionBy("c_nationkey").orderBy(F.desc("rev_cents"), F.col("c_custkey"))
    return rev.select(
        "c_custkey",
        "c_nationkey",
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.ntile(10).over(w).cast("bigint").alias("ltv_decile"),
    )


@register(
    "profile_events_columns",
    """
    SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(event_id) AS n_null,
           COUNT(DISTINCT event_id) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
           COUNT(DISTINCT user_id) FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
           COUNT(DISTINCT event_type) FROM events
    UNION ALL
    SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
           COUNT(DISTINCT value) FROM events
    UNION ALL
    SELECT 'ts', COUNT(*), COUNT(*) - COUNT(ts),
           COUNT(DISTINCT ts) FROM events
    """,
    tags=("quality", "profile"),
    doc="Column profile (the Deequ/data-quality audit shape): per "
    "column null count + exact distinct cardinality in ONE pass — "
    "Spark computes all columns' profiles in a single multi-aggregate "
    "scan (Catalyst expands count(distinct x), count(distinct y) into "
    "one expand+two-stage aggregate) and unpivots via stack; the SQL "
    "UNION ALL form is the oracle spelling, not the plan. At 100 TB "
    "swap exact distinct for approx_count_distinct (HLL, one pass, "
    "mergeable). Integer outputs -> bit-deterministic.",
)
def profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = ev.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col_name, n_rows, n_null, n_distinct)"
    ).select(
        "col_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )
