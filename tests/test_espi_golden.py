"""Value-level golden parity: our Spark pipeline vs the reference's
committed golden parquet (cli-frontend/tests/goldens/golden.parquet).

Only the EGD gas file is present in this snapshot (the other 3 inputs
are stripped, .MISSING_LARGE_BLOBS), so we compare against the golden
rows for the series that file produces ('Meter data', 20 rows).
Order-insensitive: both sides sorted by all columns.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest

from greenbuttonengine_spark.plans.advanced_queries import EGD_XML, GOLDEN_PARQUET


@pytest.fixture(scope="module")
def golden_df():
    import pyarrow.parquet as pq

    return pq.read_table(GOLDEN_PARQUET).to_pandas()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["time_period_start_unix"] = pd.to_datetime(df["time_period_start_unix"]).astype(
        "datetime64[ms]"
    )
    return df.sort_values(by=["title", "time_period_start_unix", "value"]).reset_index(
        drop=True
    )


@pytest.mark.skipif(
    not (os.path.exists(EGD_XML) and os.path.exists(GOLDEN_PARQUET)),
    reason="needs the reference checkout's EGD export and golden parquet",
)
def test_egd_golden_parity(spark, golden_df):
    from greenbuttonengine_spark.espi import timeseries_from_files

    ts, errors = timeseries_from_files(spark, EGD_XML)
    assert errors.count() == 0
    got = ts.toPandas()

    # our epoch seconds -> datetime for comparison with golden ms timestamps
    got["time_period_start_unix"] = pd.to_datetime(got["time_period_start_unix"], unit="s")

    titles = set(got["title"].unique())
    want = canon(golden_df[golden_df["title"].isin(titles)])
    got = canon(got)

    assert len(got) == len(want), f"rows: got {len(got)} want {len(want)}"
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if col in ("cost", "value"):
            g32, w32 = g.astype(np.float32), w.astype(np.float32)
            both_nan = np.isnan(g32) & np.isnan(w32)
            assert np.all((g32 == w32) | both_nan), (
                f"{col}: first diff at "
                f"{np.argmax(~((g32 == w32) | both_nan))}: "
                f"{g32[~((g32==w32)|both_nan)][:5]} vs {w32[~((g32==w32)|both_nan)][:5]}"
            )
        else:
            assert np.array_equal(g, w), (
                f"{col}: first diff {g[g != w][:5]} vs {w[g != w][:5]}"
            )


def test_missing_reading_type_fails_file(spark, tmp_path, egd_feed):
    """A fact whose entry has no reading-type link fails its whole file
    ('Missing reading type', lib.rs:168-169) instead of silently
    dropping rows."""
    from greenbuttonengine_spark.espi import timeseries_from_files

    xml = open(egd_feed(tmp_path)).read()
    # strip the related ReadingType links so the 2-hop resolution fails
    import re as _re

    broken = _re.sub(r'<link rel="related"[^>]*espi-entry/ReadingType[^>]*/>', "", xml)
    assert broken != xml
    f = tmp_path / "broken_rt.xml"
    f.write_text(broken)
    ts, errors = timeseries_from_files(spark, str(f))
    errs = errors.collect()
    assert len(errs) == 1 and "Missing reading type" in errs[0].error
    assert ts.count() == 0


def test_non_utf8_file_is_error_row(spark, tmp_path, egd_feed):
    from greenbuttonengine_spark.espi import timeseries_from_files

    egd_feed(tmp_path)
    bad = tmp_path / "latin1.xml"
    bad.write_bytes("<feed><entry><title>caf\xe9</title></entry></feed>".encode("latin-1"))
    ts, errors = timeseries_from_files(spark, str(tmp_path))
    errs = {r.source_file.split("/")[-1]: r.error for r in errors.collect()}
    assert "latin1.xml" in errs and "UnicodeDecodeError" in errs["latin1.xml"]
    assert ts.count() == 20


def test_empty_feed_is_error(spark, tmp_path):
    from greenbuttonengine_spark.espi import timeseries_from_files

    f = tmp_path / "empty.xml"
    f.write_text("<feed xmlns='http://www.w3.org/2005/Atom'></feed>")
    ts, errors = timeseries_from_files(spark, str(f))
    errs = errors.collect()
    assert len(errs) == 1 and "Missing LocalTimeParameters" in errs[0].error


def test_strict_rfc3339_and_hex_rules(spark):
    from greenbuttonengine_spark.espi.parser import (
        EspiParseError,
        _parse_hex_u32,
        _rfc3339_naive_utc_seconds,
    )
    import pytest as _pytest

    assert _rfc3339_naive_utc_seconds("2024-12-25T20:27:28Z") == 1735158448
    assert _rfc3339_naive_utc_seconds("2024-12-25T20:27:28-05:00") == 1735158448
    for bad in ("2024-12-25T20:27:28", "2024-12-25", "2024-12-25 20:27:28Z"):
        with _pytest.raises(EspiParseError):
            _rfc3339_naive_utc_seconds(bad)
    assert _parse_hex_u32("FFFFFFFF", "r") == 0xFFFFFFFF
    for bad in ("1FFFFFFFF", "-1f", "0x1F", ""):
        with _pytest.raises(EspiParseError):
            _parse_hex_u32(bad, "r")


def test_error_channel_tolerates_bad_file(spark, tmp_path, egd_feed):
    from greenbuttonengine_spark.espi import timeseries_from_files

    bad = tmp_path / "bad.xml"
    bad.write_text("<feed><entry><content><Nonsense/></content></entry></feed>")
    egd_feed(tmp_path)

    ts, errors = timeseries_from_files(spark, str(tmp_path))
    errs = errors.collect()
    assert len(errs) == 1 and "bad.xml" in errs[0]["source_file"]
    assert ts.count() > 0  # the good file still converts
