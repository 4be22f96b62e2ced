"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` in
DuckDB over the same parquet tables, canonicalizes both results
(columns sorted by name, rows sorted by all columns), and compares
row count, column names, and values exactly.  Reports near-miss float
diffs so decimal/ordering issues are debuggable.

It also compares each shared column's pandas *serialization class*
(``_cls``).  The driver's gate hashes SERIALIZED values, so a column
pair that is numerically equal but dtype-divergent (DuckDB
``SUM(CASE...)`` -> HUGEINT -> pandas float64 ``1175.0`` vs Spark
BIGINT ``1175``) hash-mismatches even though the float-coercing value
comparison passes; r4 lost ``math1_functions`` and r5 lost
``q12_priority_shipping`` to exactly this class.  A divergence is a
failure.  Serialization classes: int (any integer dtype), float, bool,
datetime, str, decimal, bytes, list, other-object.  A divergence
between classes that serialize identically under ``str()`` would not
hash-mismatch, but none of those pairs occur in practice.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal
import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from greenbuttonengine_spark.sources.catalog import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cls(series: pd.Series) -> str:
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    # object column: inspect the first non-null value
    nn = series.dropna()
    if nn.empty:
        return "empty-object"
    v = nn.iloc[0]
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return "datetime"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "list"
    if isinstance(v, dict):
        return "map"
    return f"object:{type(v).__name__}"


def dtype_divergence(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Shared columns whose serialization class differs between engines."""
    msgs = []
    for c in sorted(set(sdf.columns) & set(odf.columns)):
        sc, oc = _cls(sdf[c]), _cls(odf[c])
        if sc == oc:
            continue
        # empty frames can't diverge under value hashing
        if "empty-object" in (sc, oc) and (sdf.empty or odf.empty):
            continue
        msgs.append(f"dtype {c}: spark={sc} oracle={oc}")
    return msgs


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return False, f"row count differs: spark={len(sdf)} oracle={len(odf)}"
    s, o = canon(sdf), canon(odf)
    msgs = []
    ok = True
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = sv.astype(float).to_numpy()
            b = ov.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            eq = (a == b) | both_nan
            if not eq.all():
                ok = False
                with np.errstate(invalid="ignore"):
                    diff = np.abs(a - b)
                msgs.append(
                    f"col {c}: {np.count_nonzero(~eq)} mismatches, max abs diff "
                    f"{np.nanmax(diff[~eq]):.3e}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                ok = False
                i = int(np.argmax(~eq.to_numpy()))
                msgs.append(
                    f"col {c}: {np.count_nonzero(~eq)} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                )
    return ok, "; ".join(msgs) or "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()

    from greenbuttonengine_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        ok, msg = compare(name, sdf, odf)
        dtype_msgs = dtype_divergence(sdf, odf)
        if dtype_msgs:
            msg = "; ".join(([msg] if not ok else []) + dtype_msgs)
            ok = False
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) {msg if not ok else ''}")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
