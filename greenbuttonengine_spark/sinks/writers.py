"""TimeSeries sinks: CSV (S4), Parquet (S5), InfluxDB line protocol (S6).

Reference writers: timeseries.rs:192-236 (csv), :238-307 (parquet,
TIMESTAMP(MILLIS) + snappy), :309-358 (influx).  Spark-first: each sink
is a projection + a distributed write; single-file parity is a
``coalesce(1)`` flag, partitioned output is ``partitionBy`` (the A3
chunk-by-title analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..espi.schemas import TIMESERIES_COLUMNS


def write_csv(ts: DataFrame, path: str, single_file: bool = True) -> None:
    """15-column CSV with the reference's header order (timeseries.rs:195-211)."""
    df = ts.select(*TIMESERIES_COLUMNS)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(
    ts: DataFrame,
    path: str,
    single_file: bool = False,
    partition_by_title: bool = False,
) -> None:
    """Snappy parquet; epoch seconds -> TIMESTAMP(MILLIS) naive, matching
    the reference schema (timeseries.rs:244-262, ms conversion :285-292).

    ``partition_by_title=True`` is the scale path: one directory per
    series (the sort_and_chunk analog) so per-series reads prune files.
    """
    df = ts.withColumn(
        "time_period_start_unix",
        F.timestamp_seconds(F.col("time_period_start_unix")).cast("timestamp_ntz"),
    ).select(*TIMESERIES_COLUMNS)
    if single_file:
        df = df.coalesce(1)
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by_title:
        writer = writer.partitionBy("title")
    writer.parquet(path)


def influx_lines_df(ts: DataFrame) -> DataFrame:
    """One string column 'line' in InfluxDB line protocol.

    measurement = sanitized title (P13); tags = 8 reading-type strings
    escaped (P14); fields = quality/value/tou/duration (+cost only when
    ANY row has a finite non-zero cost — the A2 global gate,
    timeseries.rs:313,349-351); time in ns (P15).
    Pure native expressions — regexp_replace/concat_ws/format_string.
    """
    esc = lambda c: F.replace(F.col(c), F.lit(" "), F.lit("\\ "))  # noqa: E731
    measurement = F.regexp_replace(
        F.replace(F.col("title"), F.lit(" "), F.lit("_")), "[^A-Za-z0-9_]", ""
    )
    finite = (
        ~F.isnan("cost")
        & ~F.col("cost").isNull()
        & (F.col("cost") != F.lit(float("inf")))
        & (F.col("cost") != F.lit(float("-inf")))
    )
    has_cost = ts.agg(
        F.coalesce(
            F.bool_or(finite & (F.col("cost") != 0.0)),
            F.lit(False),
        ).alias("has_cost")
    )
    tags = F.concat_ws(
        ",",
        F.lit("db=greenbutton"),
        F.concat(F.lit("accumulation_behavior="), esc("accumulation_behaviour")),
        F.concat(F.lit("commodity="), esc("commodity")),
        F.concat(F.lit("currency="), esc("currency")),
        F.concat(F.lit("data_qualifier="), esc("data_qualifier")),
        F.concat(F.lit("flow_direction="), esc("flow_direction")),
        F.concat(F.lit("kind="), esc("kind")),
        F.concat(F.lit("phase="), esc("phase")),
        F.concat(F.lit("uom="), esc("uom")),
    )
    base_fields = F.concat_ws(
        ",",
        F.concat(F.lit("quality="), esc("quality")),
        F.format_string("value=%s", F.col("value")),
        F.format_string("tou=%s", F.col("tou")),
        F.format_string(
            "time_period_duration_seconds=%s", F.col("time_period_duration_seconds")
        ),
    )
    cost_field = F.format_string("cost=%s", F.col("cost"))
    fields = F.when(
        F.col("has_cost"), F.concat_ws(",", base_fields, cost_field)
    ).otherwise(base_fields)
    time_ns = F.col("time_period_start_unix") * F.lit(1000000000)
    return (
        ts.crossJoin(F.broadcast(has_cost))
        .select(
            F.concat_ws(
                " ", F.concat_ws(",", measurement, tags), fields, time_ns.cast("string")
            ).alias("line")
        )
    )


def write_influx_lines(ts: DataFrame, path: str, single_file: bool = True) -> None:
    df = influx_lines_df(ts)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").text(path)
