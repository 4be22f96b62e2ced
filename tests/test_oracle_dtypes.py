"""Dtype parity between every oracle SQL and its Spark query schema.

The driver's correctness gate hashes SERIALIZED values, so a column
pair that is numerically equal but dtype-divergent hash-mismatches:
DuckDB ``SUM(CASE...)`` returns HUGEINT which pandas renders ``1175.0``
while Spark's BIGINT renders ``1175``.  r4 lost ``math1_functions`` and
r5 lost ``q12_priority_shipping`` to exactly this.  This test sweeps
the WHOLE oracle inventory: DuckDB executes each oracle at sf0.001
(cheap) and its pandas dtype classes are checked against the Spark
query's analyzed schema.  Schema analysis is lazy for most queries;
the seeded-quantizer and BPE-backed queries DO run driver collect()
jobs at plan-construction time (seed selection / merge training), so
the sweep costs a couple of minutes, not seconds.

Queries whose oracle or builder reads a file outside the oracle tables
(``EXTERNAL_INPUTS``) are skipped by name when ``os.path.exists`` says
that file is absent, and the skipped names are reported as a warning.
Any other per-query exception or divergence is recorded and the sweep
goes on, so one broken query cannot hide the rest of the inventory.

Asymmetry rule for integers: a DuckDB float64 against a Spark integer
column is allowed only when the oracle result actually contains NULLs
(pandas coerces nullable ints to float on BOTH engines, so the
serializations agree); otherwise it is the HUGEINT trap and fails.
"""

from __future__ import annotations

import os
import warnings

import duckdb
import pandas as pd
import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from greenbuttonengine_spark.plans.advanced_queries import EGD_XML, GOLDEN_PARQUET
from greenbuttonengine_spark.sources.catalog import TABLES

# oracle-backed queries that read the reference checkout
EXTERNAL_INPUTS = {"espi_egd_golden_parity": (EGD_XML, GOLDEN_PARQUET)}


def _spark_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, T.MapType):
        return "map"
    return f"other:{dt.simpleString()}"


def _duck_class(series: pd.Series) -> str:
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    nn = series.dropna()
    if nn.empty:
        return "empty"
    v = nn.iloc[0]
    import decimal

    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    if isinstance(v, dict):
        return "map"
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return "datetime"
    return f"other:{type(v).__name__}"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def test_oracle_dtype_parity_full_inventory(built_queries, duck):
    oracles = entrymod.oracle_sql()
    bad: list[str] = []
    skipped: list[str] = []
    for name, sql in oracles.items():
        if not all(os.path.exists(p) for p in EXTERNAL_INPUTS.get(name, ())):
            skipped.append(name)
            continue
        try:
            odf = duck.sql(sql).df()
            if isinstance(built_queries[name], Exception):
                raise built_queries[name]
            schema = built_queries[name].schema
        except Exception as ex:  # noqa: BLE001 - record it, sweep the rest
            bad.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            continue
        sclasses = {f.name: _spark_class(f.dataType) for f in schema.fields}
        if set(odf.columns) != set(sclasses):
            bad.append(
                f"{name}: column sets differ: oracle={sorted(odf.columns)} "
                f"spark={sorted(sclasses)}"
            )
            continue
        for c in odf.columns:
            sc, oc = sclasses[c], _duck_class(odf[c])
            if sc == oc or oc == "empty":
                continue
            if sc == "int" and oc == "float" and odf[c].isna().any():
                # nullable ints coerce to float in pandas on both
                # engines; serializations agree
                continue
            bad.append(f"{name}.{c}: spark={sc} oracle={oc}")
    if skipped:
        warnings.warn(f"external input absent, skipped: {', '.join(skipped)}")
    assert not bad, "dtype divergence (driver hash would mismatch):\n" + "\n".join(bad)
