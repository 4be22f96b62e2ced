"""Fixed schemas for the ESPI pipeline (SURVEY §1.1-1.2).

The parse stage emits ONE union-typed DataFrame (``PARSED_SCHEMA``) with
a ``row_kind`` discriminator instead of four separate passes — one parse
of each file populates all four normalized tables, and Catalyst prunes
irrelevant columns per branch downstream.  Reference tables:
entries (entry.rs:16-31), interval_readings (interval_reading.rs:11-25),
reading_types (reading_type.rs:9-22), local_time_parameters
(local_time_parameters.rs:15-22).
"""

from __future__ import annotations

import json
from functools import lru_cache
from pathlib import Path

KIND_ENTRY = "entry"
KIND_INTERVAL_READING = "interval_reading"
KIND_READING_TYPE = "reading_type"
KIND_LOCAL_TIME_PARAMETERS = "local_time_parameters"
KIND_ERROR = "error"


def __getattr__(name: str):
    # PARSED_SCHEMA is built lazily so importing this module (and the
    # pure-Python parser that needs only the KIND_* constants) never
    # pulls pyspark — importing pyspark.sql alone takes about 0.25 s,
    # half of a whole fast-path CLI conversion (fastpath.py) of a
    # year-long export (about 0.5 s on a 4-core Xeon).
    if name == "PARSED_SCHEMA":
        schema = _build_parsed_schema()
        globals()[name] = schema
        return schema
    raise AttributeError(name)


def _build_parsed_schema():
    from pyspark.sql import types as T

    return T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("row_kind", T.StringType(), False),
        T.StructField("entry_index", T.LongType(), True),
        # entries
        T.StructField("entry_type", T.StringType(), True),
        T.StructField("href", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("published_unix", T.LongType(), True),
        T.StructField("updated_unix", T.LongType(), True),
        T.StructField("related_meter_reading_entry_href", T.StringType(), True),
        T.StructField("related_reading_type_entry_href", T.StringType(), True),
        # earliest and latest reading start of the entry (NULL: no readings)
        T.StructField("first_start_unix", T.LongType(), True),
        T.StructField("last_start_unix", T.LongType(), True),
        # interval_readings
        T.StructField("cost", T.FloatType(), True),
        T.StructField("quality", T.IntegerType(), True),
        T.StructField("value", T.LongType(), True),
        T.StructField("tou", T.IntegerType(), True),
        T.StructField("time_period_start_unix", T.LongType(), True),
        T.StructField("time_period_duration_seconds", T.IntegerType(), True),
        # reading_types (enum codes); an entry row carries the codes of
        # the reading type its hrefs resolve to (parser._link_entries)
        T.StructField("accumulation_behaviour", T.IntegerType(), True),
        T.StructField("commodity", T.IntegerType(), True),
        T.StructField("currency", T.IntegerType(), True),
        T.StructField("data_qualifier", T.IntegerType(), True),
        T.StructField("flow_direction", T.IntegerType(), True),
        T.StructField("kind", T.IntegerType(), True),
        T.StructField("power_of_ten_multiplier", T.IntegerType(), True),
        T.StructField("phase", T.IntegerType(), True),
        T.StructField("uom", T.IntegerType(), True),
        # local_time_parameters (u32 rules in a long)
        T.StructField("dst_start_rule", T.LongType(), True),
        T.StructField("dst_end_rule", T.LongType(), True),
        T.StructField("dst_offset", T.LongType(), True),
        T.StructField("tz_offset", T.LongType(), True),
        # error channel (S2: per-file error tolerance)
        T.StructField("error", T.StringType(), True),
    ]
)

# Output TimeSeries (timeseries.rs:20-58); epoch seconds kept as long —
# sinks convert units (ms for parquet, ns for influx).
TIMESERIES_COLUMNS = [
    "title",
    "cost",
    "quality",
    "value",
    "tou",
    "time_period_start_unix",
    "time_period_duration_seconds",
    "accumulation_behaviour",
    "commodity",
    "currency",
    "data_qualifier",
    "flow_direction",
    "kind",
    "phase",
    "uom",
]

# Reading-type enum columns and the XSD field each decodes through
# (reading_type.rs:9-22).
ENUM_FIELDS = [
    ("accumulation_behaviour", "accumulationBehaviour"),
    ("commodity", "commodity"),
    ("currency", "currency"),
    ("data_qualifier", "dataQualifier"),
    ("flow_direction", "flowDirection"),
    ("kind", "kind"),
    ("phase", "phase"),
    ("uom", "uom"),
]

# Decode of an unknown or NULL code (gb_type_details.rs:24-29).
MISSING_APP_INFO = "Missing app info"

ENUM_DIM_PATH = Path(__file__).resolve().parent / "data" / "espi_enum_dim.json"


@lru_cache(maxsize=None)
def enum_maps() -> dict[tuple[str, str], dict[int, str]]:
    """The XSD enum dictionary (454 ``[type, field, value, app_info]``
    rows built by tools/build_enum_dim.py), keyed by (type, field),
    read once per process with stdlib json: no Spark job, no pyarrow."""
    with open(ENUM_DIM_PATH) as fh:
        rows = json.load(fh)
    maps: dict[tuple[str, str], dict[int, str]] = {}
    for typ, field, value, app_info in rows:
        maps.setdefault((typ, field), {})[value] = app_info
    return maps
