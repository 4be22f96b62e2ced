"""Core declared queries: SURVEY.md §2 operator inventory over the
driver's synthetic star schema.

Each query is the generic Spark expression of one reference operator
(citations in docstrings point into /root/reference), paired with a
DuckDB oracle.  All queries are built from parquet scans + native
Catalyst expressions — no Python UDFs — so filters push down and the
whole plan stays in whole-stage codegen.

Cross-engine notes baked in here:
* Spark ``dayofweek`` is 1=Sunday; DuckDB is 0=Sunday — normalized to 0.
* DuckDB ``epoch()`` returns DOUBLE — both sides cast to BIGINT.
* fp sums go through DECIMAL (see registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


def _dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})")


def _decsum(c, scale: int = 2):
    """Order-independent sum of a double column (exact decimal internally)."""
    return F.sum(_dec(c, scale)).cast("double")


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (exercises scan pushdown,
# partial+final hash agg, decimal-exact sums, multi-column groupBy).
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
    doc="TPC-H Q1 shape; reference analog: full-table denormalize+extend "
    "(timeseries.rs:149-171) with per-series aggregates (A1/A4).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _decsum("l_quantity").alias("sum_qty"),
            _decsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (_decsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (_decsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# S-class: scans (SURVEY §2.1)
# ---------------------------------------------------------------------------


@register(
    "s1_scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity > 45.0
    """,
    tags=("scan",),
    doc="S1: projected+filtered parquet scan; predicate/column pushdown "
    "(reference reads whole files: cli-frontend/src/main.rs:32).",
)
def s1_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_quantity") > 45.0)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


# ---------------------------------------------------------------------------
# P-class: projections / derived columns / filters (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p2_conditional_projection",
    """
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN value END) AS max_click_value,
           MAX(CASE WHEN event_type = 'purchase' THEN value END) AS max_purchase_value
    FROM events GROUP BY user_id
    """,
    tags=("projection", "agg"),
    doc="P2 link-relation projection: per-group conditional max(when(...)) "
    "(entry.rs:63-78 picks href by rel/type).",
)
def p2_conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", F.col("value"))).alias("max_click_value"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
            "max_purchase_value"
        ),
    )


@register(
    "p3_regex_key_extract",
    """
    SELECT p_partkey, regexp_extract(p_type, '([A-Z]+)$', 1) AS type_suffix,
           regexp_extract(p_name, '^([a-z]+)', 1) AS name_prefix
    FROM part
    """,
    tags=("projection", "string"),
    doc="P3 regex key derivation (entry.rs:46-61 extracts MeterReading href).",
)
def p3_regex_key_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_suffix"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("name_prefix"),
    )


@register(
    "p4_prefix_strip",
    """
    SELECT c_custkey, regexp_replace(c_name, '^Customer#', '') AS bare_name
    FROM customer
    """,
    tags=("projection", "string"),
    doc="P4 namespace strip (parse_helpers.rs:6-12 drops '{espi-ns}').",
)
def p4_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey", F.regexp_replace("c_name", "^Customer#", "").alias("bare_name")
    )


@register(
    "p5_empty_default_cast",
    """
    SELECT o_orderkey,
           COALESCE(NULLIF(TRIM(o_orderpriority), ''), 'UNKNOWN') AS priority_or_default,
           TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS priority_code
    FROM orders
    """,
    tags=("projection", "null"),
    doc="P5 text-of-node empty->default + tolerant numeric cast "
    "(parse_helpers.rs:14-40).",
)
def p5_empty_default_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.trim("o_orderpriority"), F.lit("")), F.lit("UNKNOWN")).alias(
            "priority_or_default"
        ),
        F.expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)").alias("priority_code"),
    )


@register(
    "p6_unit_scaling",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity * pow(10.0, CAST(l_linenumber % 2 AS DOUBLE)) AS scaled_value
    FROM lineitem
    """,
    tags=("projection", "math"),
    doc="P6 unit scaling value*10^multiplier (lib.rs:171-173).",
)
def p6_unit_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_quantity")
            * F.pow(F.lit(10.0), (F.col("l_linenumber") % 2).cast("double"))
        ).alias("scaled_value"),
    )


@register(
    "p7_cost_normalization",
    """
    SELECT o_orderkey, o_totalprice / 100000.0 AS normalized_cost
    FROM orders
    """,
    tags=("projection", "math"),
    doc="P7 ESPI cost/100000 (interval_reading.rs:36-38).",
)
def p7_cost_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey", (F.col("o_totalprice") / F.lit(100000.0)).alias("normalized_cost")
    )


@register(
    "p8_hex_roundtrip",
    """
    SELECT o_orderkey, o_orderkey AS parsed_from_hex FROM orders
    """,
    tags=("projection", "math"),
    doc="P8 hex string -> int (local_time_parameters.rs:152-159): Spark side "
    "formats the key as hex then parses it back with conv(_,16,10); the "
    "oracle states the roundtrip identity.",
)
def p8_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.conv(F.hex(F.col("o_orderkey")), 16, 10).cast("bigint").alias("parsed_from_hex"),
    )


@register(
    "p9_rfc3339_roundtrip",
    """
    SELECT o_orderkey, o_orderdate AS parsed_ts FROM orders
    """,
    tags=("projection", "datetime"),
    doc="P9 RFC-3339 parse (entry.rs:96-111): format to ISO-8601 string and "
    "parse back; oracle states the roundtrip identity.",
)
def p9_rfc3339_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.to_timestamp(
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), "yyyy-MM-dd'T'HH:mm:ss"
        ).alias("parsed_ts"),
    )


@register(
    "p10_enum_decode_broadcast",
    """
    SELECT c_custkey,
           COALESCE(n.n_name, 'Missing app info') AS nation_name
    FROM customer c
    LEFT JOIN nation n
      ON n.n_nationkey = c.c_nationkey + CASE WHEN c.c_custkey % 10 = 0 THEN 100 ELSE 0 END
    """,
    tags=("join", "projection"),
    doc="P10 enum code->string decode as a broadcast dim join with "
    "'Missing app info' fallback (gb_type_details.rs:8-31); 10% of keys are "
    "perturbed to exercise the unknown-code path.",
)
def p10_enum_decode_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    join_key = F.col("c_nationkey") + F.when(F.col("c_custkey") % 10 == 0, 100).otherwise(0)
    return (
        c.join(F.broadcast(n), n["n_nationkey"] == join_key, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_name"), F.lit("Missing app info")).alias("nation_name"),
        )
    )


@register(
    "p11_dst_calendar_rules",
    """
    WITH yrs AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders)
    SELECT yr,
           make_date(CAST(yr AS INT), 3, 8)
               + CAST((7 - dayofweek(make_date(CAST(yr AS INT), 3, 8))) % 7 AS INT)
               AS dst_start,
           make_date(CAST(yr AS INT), 11, 1)
               + CAST((7 - dayofweek(make_date(CAST(yr AS INT), 11, 1))) % 7 AS INT)
               AS dst_end,
           last_day(make_date(CAST(yr AS INT), 2, 1)) AS feb_last,
           CAST(dayofweek(make_date(CAST(yr AS INT), 1, 1)) AS BIGINT) AS jan1_dow
    FROM yrs
    """,
    tags=("datetime",),
    doc="P11 calendar operators for DST rules (local_time_parameters.rs:43-106): "
    "nth-weekday-of-month (US DST: 2nd Sunday of March / 1st Sunday of Nov), "
    "last-day-of-month, day-of-week. Computed per distinct year — the "
    "reference memoizes per year (lib.rs:142-156); here the year dim is tiny "
    "and broadcast. Spark dayofweek (1=Sun) normalized to DuckDB's 0=Sun.",
)
def p11_dst_calendar_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    yrs = o.select(F.year("o_orderdate").cast("bigint").alias("yr")).distinct()
    yr_int = F.col("yr").cast("int")
    mar8 = F.make_date(yr_int, F.lit(3), F.lit(8))
    nov1 = F.make_date(yr_int, F.lit(11), F.lit(1))
    # next-or-same Sunday; Spark dayofweek: 1=Sunday..7=Saturday -> 0-based
    dow = lambda d: F.dayofweek(d) - 1  # noqa: E731
    next_sunday = lambda d: F.date_add(d, (7 - dow(d)) % 7)  # noqa: E731
    return yrs.select(
        "yr",
        next_sunday(mar8).alias("dst_start"),
        next_sunday(nov1).alias("dst_end"),
        F.last_day(F.make_date(yr_int, F.lit(2), F.lit(1))).alias("feb_last"),
        dow(F.make_date(yr_int, F.lit(1), F.lit(1))).cast("bigint").alias("jan1_dow"),
    )


@register(
    "p11_bitfield_decode",
    """
    SELECT event_id,
           CAST(event_id & 4095 AS BIGINT) AS seconds_field,
           CAST((event_id >> 12) & 31 AS BIGINT) AS hours_field,
           CAST((event_id >> 17) & 7 AS BIGINT) AS dow_field,
           CAST((event_id >> 20) & 31 AS BIGINT) AS dom_field,
           CAST((event_id >> 25) & 7 AS BIGINT) AS operator_field,
           CAST((event_id >> 28) & 15 AS BIGINT) AS month_field
    FROM events
    """,
    tags=("math",),
    doc="P11 bit-packed DST rule decode (local_time_parameters.rs:118-143): "
    "mask+shift field extraction, same layout (sec 0-11, hr 12-16, dow 17-19, "
    "dom 20-24, op 25-27, mo 28-31) applied to a synthetic u32.",
)
def p11_bitfield_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")
    return ev.select(
        "event_id",
        k.bitwiseAND(F.lit(4095)).cast("bigint").alias("seconds_field"),
        F.shiftright(k, 12).bitwiseAND(F.lit(31)).cast("bigint").alias("hours_field"),
        F.shiftright(k, 17).bitwiseAND(F.lit(7)).cast("bigint").alias("dow_field"),
        F.shiftright(k, 20).bitwiseAND(F.lit(31)).cast("bigint").alias("dom_field"),
        F.shiftright(k, 25).bitwiseAND(F.lit(7)).cast("bigint").alias("operator_field"),
        F.shiftright(k, 28).bitwiseAND(F.lit(15)).cast("bigint").alias("month_field"),
    )


@register(
    "p12_global_conditional_patch",
    """
    SELECT o_orderkey,
           o_totalprice * CASE WHEN g.any_building THEN 100.0 ELSE 1.0 END AS patched_price
    FROM orders
    CROSS JOIN (SELECT bool_or(c_mktsegment = 'BUILDING') AS any_building FROM customer) g
    """,
    tags=("agg", "join", "tiny-bnlj"),
    doc="P12 provider-bug patch (timeseries.rs:173-178): a global scalar "
    "predicate gates a column rewrite; scalar computed once, broadcast.",
)
def p12_global_conditional_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    flag = c.agg(F.bool_or(F.col("c_mktsegment") == "BUILDING").alias("any_building"))
    return o.crossJoin(F.broadcast(flag)).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            * F.when(F.col("any_building"), F.lit(100.0)).otherwise(F.lit(1.0))
        ).alias("patched_price"),
    )


@register(
    "p13_sanitize_measurement",
    """
    SELECT p_partkey,
           regexp_replace(replace(p_name, ' ', '_'), '[^A-Za-z0-9_]', '', 'g') AS measurement
    FROM part
    """,
    tags=("string",),
    doc="P13 influx measurement sanitize (timeseries.rs:312,316-317).",
)
def p13_sanitize_measurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.regexp_replace(
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")), "[^A-Za-z0-9_]", ""
        ).alias("measurement"),
    )


@register(
    "p14_tag_escape",
    r"""
    SELECT p_partkey, replace(p_type, ' ', '\ ') AS escaped_tag FROM part
    """,
    tags=("string",),
    doc="P14 influx tag escaping: space -> backslash-space "
    "(timeseries.rs:318-338); literal replace, no regex.",
)
def p14_tag_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey", F.replace(F.col("p_type"), F.lit(" "), F.lit("\\ ")).alias("escaped_tag")
    )


@register(
    "p15_epoch_unit_conversion",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS epoch_ms,
           CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS epoch_ns
    FROM events
    """,
    tags=("datetime", "math"),
    doc="P15 s->ms (parquet sink, timeseries.rs:285-292) and s->ns (influx, "
    ":354) epoch conversions.",
)
def p15_epoch_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    sec = F.unix_timestamp("ts")
    return ev.select(
        "event_id",
        sec.alias("epoch_s"),
        (sec * 1000).alias("epoch_ms"),
        (sec * 1000000000).alias("epoch_ns"),
    )


@register(
    "p16_dispatch_validate",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY user_id
    """,
    tags=("filter", "agg"),
    doc="P16 payload-type dispatch + single-type-per-entry validation "
    "(content.rs:26-54, entry.rs:160-171) as filter + countDistinct check.",
)
def p16_dispatch_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
        )
    )


@register(
    "p17_composite_filter",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND (event_type = 'click' OR user_id % 100 = 7)
    """,
    tags=("filter",),
    doc="P17 xsd row filter shape: NOT NULL AND (a OR b) (build.rs:165-172).",
)
def p17_composite_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.filter(
        F.col("value").isNotNull()
        & ((F.col("event_type") == "click") | (F.col("user_id") % 100 == 7))
    ).select("event_id", "event_type", "value")


@register(
    "espi_multi_ltp_scope_resolution",
    r"""
    WITH ev AS (SELECT event_id AS eid FROM events),
    e AS (
      SELECT 'f' || CAST(eid % 20 AS VARCHAR) AS source_file,
             eid AS entry_index,
             CASE
               WHEN eid < 16 THEN 'https://s/r/Other/' || CAST(eid AS VARCHAR)
               WHEN eid >= 20 AND eid < 38
                 THEN 'https://s/r/UsagePoint/UP' || CAST((eid - 20) % 3 AS VARCHAR)
               WHEN eid >= 40 AND eid < 42
                 THEN 'https://s/r/UsagePoint/UP' || CAST((eid - 40) % 3 AS VARCHAR)
               WHEN eid % 2 = 0
                 THEN 'https://s/r/UsagePoint/UP' || CAST(eid % 3 AS VARCHAR)
                      || '/MeterReading/' || CAST(eid AS VARCHAR)
               ELSE 'https://s/r/Other/' || CAST(eid AS VARCHAR)
             END AS href
      FROM ev),
    ltp AS (
      SELECT source_file, entry_index,
             'S' || CAST(entry_index % 4 AS VARCHAR) AS dst_start_rule,
             CAST(CASE WHEN entry_index < 16 THEN (entry_index % 5) * 3600
                       WHEN entry_index >= 40 THEN 999
                       ELSE -7200 - ((entry_index - 20) % 3) * 100
                  END AS BIGINT) AS tz_offset,
             CAST(3600 AS BIGINT) AS dst_offset
      FROM e
      WHERE entry_index < 16
         OR (entry_index >= 20 AND entry_index < 38)
         OR (entry_index >= 40 AND entry_index < 42)),
    scoped AS (
      SELECT l.source_file,
             coalesce(regexp_extract(e.href,
                 '(.*UsagePoint/[^/]*)(?:/|$)', 1), '') AS up_key,
             l.dst_start_rule, l.tz_offset, l.dst_offset
      FROM ltp l JOIN e
        ON l.source_file = e.source_file AND l.entry_index = e.entry_index),
    dupf AS (SELECT DISTINCT source_file FROM (
        SELECT source_file, up_key FROM scoped
        GROUP BY source_file, up_key HAVING COUNT(*) > 1)),
    allf AS (SELECT DISTINCT source_file FROM e),
    missing AS (
      SELECT source_file, 'Missing LocalTimeParameters.' AS status FROM allf
      WHERE source_file NOT IN (SELECT source_file FROM scoped)),
    dups AS (
      SELECT source_file,
             'Multiple LocalTimeParameters in one usage-point scope.' AS status
      FROM dupf),
    goods AS (SELECT * FROM scoped
              WHERE source_file NOT IN (SELECT source_file FROM dupf)),
    fact_ups AS (
      SELECT DISTINCT source_file,
             regexp_extract(href, '(.*UsagePoint/[^/]*)(?:/|$)', 1) AS up_key
      FROM e),
    ups AS (SELECT * FROM goods WHERE up_key <> ''),
    gl AS (SELECT source_file, dst_start_rule AS g_sr, tz_offset AS g_tz,
                  dst_offset AS g_do
           FROM goods WHERE up_key = ''),
    resolved AS (
      SELECT f.source_file, f.up_key,
             coalesce(u.tz_offset, g.g_tz) AS tz_offset,
             coalesce(u.dst_offset, g.g_do) AS dst_offset,
             coalesce(u.dst_start_rule, g.g_sr) AS dst_start_rule
      FROM fact_ups f
      LEFT JOIN ups u
        ON u.source_file = f.source_file AND u.up_key = f.up_key
      LEFT JOIN gl g ON g.source_file = f.source_file),
    unresolved AS (
      SELECT DISTINCT source_file, 'Missing LocalTimeParameters.' AS status
      FROM resolved
      WHERE tz_offset IS NULL
        AND source_file NOT IN (SELECT source_file FROM missing
                                UNION ALL SELECT source_file FROM dups)),
    errors AS (SELECT * FROM missing UNION ALL SELECT * FROM dups
               UNION ALL SELECT * FROM unresolved),
    ok AS (SELECT * FROM resolved
           WHERE source_file NOT IN (SELECT source_file FROM errors))
    SELECT source_file, up_key, tz_offset, dst_offset, dst_start_rule,
           'ok' AS status
    FROM ok
    UNION ALL
    SELECT source_file, '' AS up_key, CAST(NULL AS BIGINT) AS tz_offset,
           CAST(NULL AS BIGINT) AS dst_offset,
           CAST(NULL AS VARCHAR) AS dst_start_rule, status
    FROM errors
    """,
    tags=("espi", "join", "projection"),
    doc="SURVEY §7 multi-LTP improvement as a driver-gated row (r14 "
    "VERDICT item 3): per-usage-point LocalTimeParameters resolution "
    "with file-global fallback, exercised through the PRODUCTION "
    "resolve_ltp_for_scopes (espi/pipeline.py — the per-file aggregate "
    "and error text that gbcli --multi-ltp runs), fed the entry and "
    "LTP rows of a deterministic href corpus derived from the events "
    "table.  Covers every branch: child-scoped and "
    "bare UsagePoint hrefs (the r14 ADVICE regex fix), global "
    "fallback, duplicate-scope whole-file error, missing-LTP error, "
    "and the unresolved-scope error (file has an LTP but a scope "
    "resolves to neither).",
)
def espi_multi_ltp_scope_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..espi.pipeline import resolve_ltp_for_scopes
    from ..espi.schemas import KIND_ENTRY, KIND_LOCAL_TIME_PARAMETERS

    ev = load_table(spark, "events", sf_dir).select("event_id")
    eid = F.col("event_id")
    sf = F.concat(F.lit("f"), F.pmod(eid, F.lit(20)).cast("string"))
    base = "https://s/r/"
    href = (
        F.when(eid < 16, F.concat(F.lit(base + "Other/"), eid.cast("string")))
        .when(
            (eid >= 20) & (eid < 38),
            F.concat(
                F.lit(base + "UsagePoint/UP"),
                F.pmod(eid - 20, F.lit(3)).cast("string"),
            ),
        )
        .when(
            (eid >= 40) & (eid < 42),
            F.concat(
                F.lit(base + "UsagePoint/UP"),
                F.pmod(eid - 40, F.lit(3)).cast("string"),
            ),
        )
        .when(
            F.pmod(eid, F.lit(2)) == 0,
            F.concat(
                F.lit(base + "UsagePoint/UP"),
                F.pmod(eid, F.lit(3)).cast("string"),
                F.lit("/MeterReading/"),
                eid.cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit(base + "Other/"), eid.cast("string")))
    )
    # the parse table's shape: every event is an entry with readings,
    # and a carrier event's entry also carries an LTP
    entries = ev.select(
        sf.alias("source_file"),
        F.lit(KIND_ENTRY).alias("row_kind"),
        href.alias("href"),
        F.lit(0).cast("long").alias("first_start_unix"),
    )
    carrier = (
        (eid < 16) | ((eid >= 20) & (eid < 38)) | ((eid >= 40) & (eid < 42))
    )
    tz = (
        F.when(eid < 16, F.pmod(eid, F.lit(5)) * 3600)
        .when(eid >= 40, F.lit(999))
        .otherwise(F.lit(-7200) - F.pmod(eid - 20, F.lit(3)) * 100)
        .cast("long")
    )
    ltp = ev.filter(carrier).select(
        sf.alias("source_file"),
        F.lit(KIND_LOCAL_TIME_PARAMETERS).alias("row_kind"),
        href.alias("href"),
        F.concat(F.lit("S"), F.pmod(eid, F.lit(4)).cast("string")).alias(
            "dst_start_rule"
        ),
        F.lit(None).cast("string").alias("dst_end_rule"),
        F.lit(3600).cast("long").alias("dst_offset"),
        tz.alias("tz_offset"),
    )
    resolved, errors = resolve_ltp_for_scopes(
        entries.unionByName(ltp, allowMissingColumns=True)
    )
    ok = resolved.select(
        "source_file",
        "up_key",
        "tz_offset",
        "dst_offset",
        "dst_start_rule",
        F.lit("ok").alias("status"),
    )
    err = errors.select(
        "source_file",
        F.lit("").alias("up_key"),
        F.lit(None).cast("long").alias("tz_offset"),
        F.lit(None).cast("long").alias("dst_offset"),
        F.lit(None).cast("string").alias("dst_start_rule"),
        F.col("error").alias("status"),
    )
    return ok.unionByName(err)
