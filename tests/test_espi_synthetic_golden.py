"""Synthetic multi-provider golden parity for all three sinks.

The reference byte-compares csv/influx/parquet goldens over four
provider files (cli-frontend/tests/goldens.rs:48-72), but this snapshot
strips golden.csv/golden.influxdb and 3 of 4 input XMLs
(.MISSING_LARGE_BLOBS).  These tests compensate: synthetic feeds
exercising the provider quirks the stripped files covered —

  * enova cost bug: first-entry href contains 'enova' -> costs x100
    (timeseries.rs:173-178, lib.rs:187)
  * empty cost tag -> 0.0 (type default, parse_helpers.rs:27-40,
    Hydro One), missing cost tag -> NaN sentinel
  * multiple IntervalBlocks in ONE content element (Hydro One shape)
  * f32 value scaling (value = f32(raw) * f32(10^power))
  * defaults quality=16 ("other"), tou=0, phase=0 ("none")
  * tz shift with the no-DST sentinel rule (FFFFFFFF)

and value-exact round-trips through write_parquet / write_csv /
influx_lines_df, with every expected cell computed here from first
principles (enum decodes read straight from the XSD-derived dim
JSON with pandas, not through the pipeline under test).
"""

from __future__ import annotations

import glob
import json
import math
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ENUM_DIM = (
    Path(__file__).resolve().parent.parent
    / "greenbuttonengine_spark" / "espi" / "data" / "espi_enum_dim.json"
)

# -- independent enum decode (bypasses the pipeline's decode path) ----------

_dim = pd.DataFrame(
    json.loads(ENUM_DIM.read_text()), columns=["type", "field", "value", "app_info"]
)


def _decode(field: str, code: int, scope: str = "ReadingType") -> str:
    m = _dim[(_dim["type"] == scope) & (_dim.field == field) & (_dim.value == code)]
    assert len(m) == 1, (field, code)
    return m.app_info.iloc[0]


# -- synthetic feed generator ----------------------------------------------

_HEADER = """<?xml version="1.0" encoding="UTF-8"?>
<feed xmlns="http://www.w3.org/2005/Atom" xmlns:espi="http://naesb.org/espi">
  <id>urn:uuid:feed</id>
  <title>Synthetic</title>
  <updated>2024-01-01T00:00:00Z</updated>
"""

_TS = "2024-01-01T00:00:00Z"


def _entry(title: str, self_href: str, self_type: str, content: str,
           related: list[tuple[str, str]] = ()) -> str:
    links = [f'<link rel="self" href="{self_href}" type="{self_type}"/>']
    for href, typ in related:
        links.append(f'<link rel="related" href="{href}" type="{typ}"/>')
    return (
        "  <entry>\n"
        f"    <content>{content}</content>\n"
        f"    <id>urn:uuid:{abs(hash(self_href)) % 10**12}</id>\n"
        f"    <title>{title}</title>\n"
        f"    <published>{_TS}</published>\n"
        f"    <updated>{_TS}</updated>\n"
        + "\n".join("    " + ln for ln in links)
        + "\n  </entry>\n"
    )


def _ltp(tz_offset: int, dst_offset: int = 3600,
         start_rule: str = "FFFFFFFF", end_rule: str = "FFFFFFFF") -> str:
    return (
        "<espi:LocalTimeParameters>"
        f"<espi:dstEndRule>{end_rule}</espi:dstEndRule>"
        f"<espi:dstOffset>{dst_offset}</espi:dstOffset>"
        f"<espi:dstStartRule>{start_rule}</espi:dstStartRule>"
        f"<espi:tzOffset>{tz_offset}</espi:tzOffset>"
        "</espi:LocalTimeParameters>"
    )


def _reading(start: int, duration: int, value: int,
             cost: float | str | None = None,
             quality: int | None = None, tou: int | None = None) -> str:
    parts = []
    if cost == "":
        parts.append("<espi:cost></espi:cost>")
    elif cost is not None:
        parts.append(f"<espi:cost>{cost}</espi:cost>")
    if quality is not None:
        parts.append(f"<espi:ReadingQuality>{quality}</espi:ReadingQuality>")
    parts.append(
        "<espi:timePeriod>"
        f"<espi:duration>{duration}</espi:duration>"
        f"<espi:start>{start}</espi:start>"
        "</espi:timePeriod>"
    )
    if tou is not None:
        parts.append(f"<espi:tou>{tou}</espi:tou>")
    parts.append(f"<espi:value>{value}</espi:value>")
    return "<espi:IntervalReading>" + "".join(parts) + "</espi:IntervalReading>"


def _interval_blocks(blocks: list[list[str]]) -> str:
    out = []
    for readings in blocks:
        out.append(
            "<espi:IntervalBlock><espi:interval>"
            "<espi:duration>3600</espi:duration><espi:start>0</espi:start>"
            "</espi:interval>" + "".join(readings) + "</espi:IntervalBlock>"
        )
    return "".join(out)


def _rt(fields: dict[str, int]) -> str:
    return (
        "<espi:ReadingType>"
        + "".join(f"<espi:{k}>{v}</espi:{k}>" for k, v in sorted(fields.items()))
        + "</espi:ReadingType>"
    )


def make_feed(host: str, tz_offset: int, series: list[dict]) -> str:
    base = f"https://{host}/espi/1_1/resource"
    xml = [_HEADER]
    xml.append(_entry(
        "DST", f"{base}/LocalTimeParameters/001",
        "espi-entry/LocalTimeParameters", _ltp(tz_offset),
    ))
    xml.append(_entry(
        "Usage Point", f"{base}/UsagePoint/UP1", "espi-entry/UsagePoint",
        "<espi:UsagePoint><espi:ServiceCategory><espi:kind>1</espi:kind>"
        "</espi:ServiceCategory></espi:UsagePoint>",
    ))
    for s in series:
        mr = f"{base}/UsagePoint/UP1/MeterReading/{s['mr_id']}"
        rt = f"{base}/ReadingType/{s['rt_id']}"
        xml.append(_entry(
            "Meter Reading", mr, "espi-entry/MeterReading", "<espi:MeterReading/>",
            related=[(rt, "espi-entry/ReadingType")],
        ))
        xml.append(_entry("Reading Type", rt, "espi-entry/ReadingType",
                          _rt(s["rt_fields"])))
        xml.append(_entry(
            s["title"], f"{mr}/IntervalBlock/IB1", "espi-entry/IntervalBlock",
            _interval_blocks(s["blocks"]),
        ))
    xml.append("</feed>\n")
    return "".join(xml)


# -- expected-row construction (pure python/f32, no Spark) ------------------

RT_GAS = {
    "accumulationBehaviour": 4, "commodity": 7, "currency": 124,
    "dataQualifier": 12, "flowDirection": 1, "kind": 58,
    "powerOfTenMultiplier": -3, "uom": 42,
}
RT_KWH = {
    "accumulationBehaviour": 4, "commodity": 7, "currency": 124,
    "dataQualifier": 12, "flowDirection": 1, "kind": 12,
    "powerOfTenMultiplier": 0, "uom": 72,
}


def expected_row(title, rt_fields, tz, start, dur, raw_value,
                 cost=float("nan"), quality=16, tou=0):
    power = rt_fields.get("powerOfTenMultiplier", 0)
    return {
        "title": title,
        "cost": np.float32(cost),
        "quality": _decode("QualityOfReading", quality, scope=""),
        "value": np.float32(raw_value) * np.float32(10.0 ** power),
        "tou": tou,
        "time_period_start_unix": start + tz,  # epoch seconds, no DST
        "time_period_duration_seconds": dur,
        "accumulation_behaviour": _decode(
            "accumulationBehaviour", rt_fields["accumulationBehaviour"]),
        "commodity": _decode("commodity", rt_fields["commodity"]),
        "currency": _decode("currency", rt_fields["currency"]),
        "data_qualifier": _decode("dataQualifier", rt_fields["dataQualifier"]),
        "flow_direction": _decode("flowDirection", rt_fields["flowDirection"]),
        "kind": _decode("kind", rt_fields["kind"]),
        "phase": _decode("phase", rt_fields.get("phase", 0)),
        "uom": _decode("uom", rt_fields["uom"]),
    }


TZ_ENOVA = -18000
TZ_HYDRO = -14400

ENOVA_SERIES = [{
    "mr_id": "MRE1", "rt_id": "RTE1", "title": "Enova Usage",
    "rt_fields": RT_GAS,
    "blocks": [[
        _reading(1700000000, 3600, 58000, cost=2500000),
        _reading(1700003600, 3600, 66000),  # missing cost -> NaN
    ]],
}]

HYDRO_SERIES = [{
    "mr_id": "MRH1", "rt_id": "RTH1", "title": "Hydro Interval",
    "rt_fields": RT_KWH,
    # TWO IntervalBlocks inside one content element (Hydro One shape)
    "blocks": [
        [_reading(1710000000, 900, 42, cost="", quality=0, tou=2)],
        [_reading(1710000900, 900, 43)],
    ],
}]


def _expected_enova() -> pd.DataFrame:
    # enova patch: cost x100 in f32 (applies to real costs; NaN stays NaN)
    c0 = np.float32(np.float32(2500000 / 100000.0) * np.float32(100.0))
    return pd.DataFrame([
        expected_row("Enova Usage", RT_GAS, TZ_ENOVA, 1700000000, 3600, 58000,
                     cost=c0),
        expected_row("Enova Usage", RT_GAS, TZ_ENOVA, 1700003600, 3600, 66000),
    ])


def _expected_hydro() -> pd.DataFrame:
    return pd.DataFrame([
        expected_row("Hydro Interval", RT_KWH, TZ_HYDRO, 1710000000, 900, 42,
                     cost=0.0, quality=0, tou=2),
        expected_row("Hydro Interval", RT_KWH, TZ_HYDRO, 1710000900, 900, 43),
    ])


@pytest.fixture(scope="module")
def synthetic(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("providers")
    (d / "enova.xml").write_text(
        make_feed("api.enova.example", TZ_ENOVA, ENOVA_SERIES))
    (d / "hydro.xml").write_text(
        make_feed("api.hydroex.example", TZ_HYDRO, HYDRO_SERIES))
    from greenbuttonengine_spark.espi import timeseries_from_files

    ts, errors = timeseries_from_files(spark, str(d))
    assert errors.count() == 0
    return ts, ts.toPandas()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in ("cost", "value"):
        df[c] = df[c].astype(np.float32)
    for c in ("tou", "time_period_duration_seconds", "time_period_start_unix"):
        df[c] = df[c].astype("int64")
    cols = list(_expected_enova().columns)
    return df[cols].sort_values(["title", "time_period_start_unix"]).reset_index(
        drop=True)


def _assert_frames(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert len(got) == len(want)
    for c in want.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if c in ("cost", "value"):
            g32, w32 = g.astype(np.float32), w.astype(np.float32)
            nan = np.isnan(g32) & np.isnan(w32)
            assert np.all((g32 == w32) | nan), (c, g32, w32)
        else:
            assert np.array_equal(g, w), (c, g, w)


def test_pipeline_values(synthetic):
    _, got = synthetic
    want = pd.concat(
        [_expected_enova(), _expected_hydro()], ignore_index=True
    ).pipe(_canon)
    _assert_frames(_canon(got), want)


def test_parquet_roundtrip(synthetic, tmp_path):
    from greenbuttonengine_spark.sinks import write_parquet

    ts, _ = synthetic
    out = str(tmp_path / "out.parquet")
    write_parquet(ts, out, single_file=True)
    back = pq.read_table(out).to_pandas()
    # parquet stores naive timestamps; convert back to epoch seconds
    back["time_period_start_unix"] = (
        pd.to_datetime(back["time_period_start_unix"])
        .astype("datetime64[s]")
        .astype("int64")
    )
    want = pd.concat(
        [_expected_enova(), _expected_hydro()], ignore_index=True
    ).pipe(_canon)
    _assert_frames(_canon(back), want)


def test_csv_roundtrip(synthetic, tmp_path):
    from greenbuttonengine_spark.sinks import write_csv

    ts, _ = synthetic
    out = str(tmp_path / "out.csv")
    write_csv(ts, out, single_file=True)
    part = glob.glob(out + "/part-*.csv")[0]
    back = pd.read_csv(part)
    want = pd.concat(
        [_expected_enova(), _expected_hydro()], ignore_index=True
    ).pipe(_canon)
    _assert_frames(_canon(back), want)


def test_influx_lines_values(synthetic):
    from greenbuttonengine_spark.sinks import influx_lines_df

    ts, _ = synthetic
    lines = sorted(r["line"] for r in influx_lines_df(ts).collect())
    assert len(lines) == 4

    enova = [ln for ln in lines if ln.startswith("Enova_Usage,")]
    hydro = [ln for ln in lines if ln.startswith("Hydro_Interval,")]
    assert len(enova) == 2 and len(hydro) == 2

    def parse(line):
        head, fields, t = line.rsplit(" ", 2)
        measurement, *tags = head.split(",")
        fd = dict(f.split("=", 1) for f in fields.split(","))
        return measurement, dict(t2.split("=", 1) for t2 in tags), fd, int(t)

    # enova file HAS a finite nonzero cost -> cost field present on all
    # of its rows; the x100 patch value must round-trip
    for ln in enova:
        m, tags, fd, tns = parse(ln)
        assert tags["db"] == "greenbutton"
        assert tags["commodity"] == "naturalGas" and tags["uom"] == "m3"
        assert "cost" in fd
    by_time = {parse(ln)[3]: parse(ln)[2] for ln in enova}
    t0 = (1700000000 + TZ_ENOVA) * 10**9
    t1 = (1700003600 + TZ_ENOVA) * 10**9
    assert np.float32(float(by_time[t0]["cost"])) == np.float32(2500.0)
    assert math.isnan(float(by_time[t1]["cost"]))
    assert np.float32(float(by_time[t0]["value"])) == np.float32(
        np.float32(58000) * np.float32(1e-3))

    # The has-cost gate is computed over the WHOLE TimeSeries being
    # written (timeseries.rs:313): the combined ingest has enova costs,
    # so hydro rows carry cost=NaN here...
    # per-row: empty cost tag -> 0.0, missing tag -> NaN
    want_cost = {
        (1710000000 + TZ_HYDRO) * 10**9: "0.0",
        (1710000900 + TZ_HYDRO) * 10**9: "NaN",
    }
    for ln in hydro:
        m, tags, fd, tns = parse(ln)
        assert fd["cost"] == want_cost[tns]
        assert tags["kind"] == "energy" and tags["uom"] == "Wh"
    # ...but a hydro-only TimeSeries (costs all 0.0/NaN) must gate the
    # cost field off entirely (timeseries.rs:349-351)
    hydro_only = influx_lines_df(ts.filter(ts["title"] == "Hydro Interval"))
    for r in hydro_only.collect():
        assert "cost=" not in r["line"].rsplit(" ", 2)[1]
    htimes = sorted(parse(ln)[3] for ln in hydro)
    assert htimes == [(1710000000 + TZ_HYDRO) * 10**9,
                      (1710000900 + TZ_HYDRO) * 10**9]
    # escaped-space tag values (P14): 'projected (forecast)' etc. only
    # appear when chosen; here verify no raw spaces survive inside tags
    for ln in lines:
        head = ln.rsplit(" ", 2)[0]
        assert "\\ " in head or " " not in head.replace("\\ ", "")


def test_chart_chunks(synthetic):
    """chart_chunks = the reference's per-series typed-array getters
    (timeseries.rs:366-436): one chunk per title, rows sorted by time,
    A1 extents and O3 first-of-series uom attached."""
    from greenbuttonengine_spark.sinks import chart_chunks

    ts, got = synthetic
    chunks = list(chart_chunks(ts))
    assert [c.title for c in chunks] == ["Enova Usage", "Hydro Interval"]

    for c in chunks:
        rows = got[got["title"] == c.title]
        # A1 extent parity (computed independently in pandas)
        assert c.date_extent == (
            rows["time_period_start_unix"].min(),
            rows["time_period_start_unix"].max(),
        )
        assert c.value_extent == (
            np.float32(rows["value"].min()),
            np.float32(rows["value"].max()),
        )
        # O3 first-of-series uom
        first = rows.sort_values("time_period_start_unix").iloc[0]
        assert c.uom == first["uom"]
        # chunk rows: all 15 columns, sorted by time
        assert c.table.num_rows == len(rows)
        times = c.table["time_period_start_unix"].to_pylist()
        assert times == sorted(times)
        assert set(c.table.schema.names) == set(got.columns)


def test_aggregate_by_period(synthetic):
    """Calendar-bucket chart rollup == an independent pandas groupby
    (NaN costs excluded, like the reference chart)."""
    from greenbuttonengine_spark.sinks import aggregate_by_period

    ts, got = synthetic
    agg = aggregate_by_period(ts, "day").toPandas()

    want = got.copy()
    want["period_start"] = (
        pd.to_datetime(want["time_period_start_unix"], unit="s").dt.floor("D")
    )
    ref = (
        want.groupby(["title", "period_start"], as_index=False)
        .agg(
            total_value=("value", "sum"),
            total_cost=("cost", lambda s: s.dropna()[~np.isnan(s.dropna())].sum()
                        if s.notna().any() else np.nan),
            n_readings=("value", "size"),
        )
        .sort_values(["title", "period_start"]) 
        .reset_index(drop=True)
    )
    agg = agg.sort_values(["title", "period_start"]).reset_index(drop=True)
    assert len(agg) == len(ref)
    assert (agg["title"] == ref["title"]).all()
    assert (
        pd.to_datetime(agg["period_start"]).to_numpy()
        == ref["period_start"].to_numpy()
    ).all()
    assert np.allclose(agg["total_value"], ref["total_value"], rtol=1e-6)
    assert (agg["n_readings"].to_numpy() == ref["n_readings"].to_numpy()).all()
