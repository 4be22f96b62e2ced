"""Property-based equivalence of the two ESPI engine implementations.

The CLI ships two complete pipelines: ``espi/fastpath.py`` (pure
stdlib Python, millisecond single-file path) and ``espi/pipeline.py``
(the Spark engine).  Their parity is pinned on four fixtures
(test_round11.py); this suite generates RANDOMIZED feeds — random DST
rules including invalid bitfields and the 0xFFFFFFFF sentinel, missing
and empty cost tags, out-of-range enum codes, multi-IntervalBlock
content, enova/non-enova hosts, negative values — and asserts value
equality between the engines on every one (r11 VERDICT item 6).  Any
divergence is a latent bug in one engine, found before a user does.
"""

from __future__ import annotations

import math

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from tests.test_espi_synthetic_golden import (
    RT_GAS,
    RT_KWH,
    _reading,
    make_feed,
)

# --- strategies -------------------------------------------------------------

# Valid GBA-style rules, the no-DST sentinel, and raw 32-bit bitfields
# (mostly invalid calendars — both engines must agree on those too).
_dst_rule = st.one_of(
    st.sampled_from(["FFFFFFFF", "360E2000", "B40E3000", "00000000"]),
    st.integers(min_value=0, max_value=0xFFFFFFFF).map(lambda v: f"{v:08X}"),
)

_cost = st.one_of(
    st.none(),  # missing tag -> NaN sentinel
    st.just(""),  # empty tag -> 0.0 (type default)
    st.integers(min_value=-(10**7), max_value=10**9),
)

_quality = st.one_of(
    st.none(),  # default 16 ("other")
    st.sampled_from([0, 16, 19]),
    st.just(999),  # out of range -> "Missing app info" fallback
)

_readings = st.lists(
    st.tuples(
        st.integers(min_value=1_550_000_000, max_value=1_780_000_000),  # start
        st.sampled_from([900, 3600, 86400]),  # duration
        st.integers(min_value=-(10**6), max_value=10**8),  # raw value
        _cost,
        _quality,
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # tou
    ),
    min_size=1,
    max_size=3,
)

_series = st.lists(
    st.tuples(
        st.sampled_from([RT_GAS, RT_KWH]),
        st.integers(min_value=-3, max_value=3),  # powerOfTenMultiplier
        st.lists(_readings, min_size=1, max_size=2),  # blocks
    ),
    min_size=1,
    max_size=2,
)

_feed = st.tuples(
    st.sampled_from(["api.enova.example", "api.provider.example"]),
    st.integers(min_value=-50400, max_value=50400),  # tzOffset
    st.sampled_from([0, 1800, 3600, 7200]),  # dstOffset
    _dst_rule,
    _dst_rule,
    _series,
)


def _build_xml(spec) -> str:
    host, tz, dst_off, start_rule, end_rule, series = spec
    defs = []
    for i, (rt_fields, power, blocks) in enumerate(series):
        defs.append(
            {
                "mr_id": f"MR{i}",
                "rt_id": f"RT{i}",
                "title": f"Series {i}",
                "rt_fields": dict(rt_fields, powerOfTenMultiplier=power),
                "blocks": [
                    [_reading(s, d, v, cost=c, quality=q, tou=t)
                     for (s, d, v, c, q, t) in blk]
                    for blk in blocks
                ],
            }
        )
    xml = make_feed(host, tz, defs)
    # make_feed pins the sentinel rules; splice the generated ones in
    return xml.replace(
        "<espi:dstStartRule>FFFFFFFF", f"<espi:dstStartRule>{start_rule}"
    ).replace(
        "<espi:dstEndRule>FFFFFFFF", f"<espi:dstEndRule>{end_rule}"
    ).replace(
        "<espi:dstOffset>3600", f"<espi:dstOffset>{dst_off}"
    )


def _canon(rows: list[dict]):
    """Multiset of canonical row tuples (Counter, not sorted — a NaN
    sentinel and a float can't be ordered against each other)."""
    from collections import Counter

    cols = sorted(rows[0]) if rows else []

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else float(v)
        return v

    return Counter(tuple(cell(r[c]) for c in cols) for r in rows)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=_feed)
def test_fastpath_equals_spark_on_random_feeds(spark, tmp_path_factory, spec):
    from greenbuttonengine_spark.espi import fastpath as fp
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files

    path = tmp_path_factory.mktemp("prop") / "feed.xml"
    path.write_text(_build_xml(spec))

    fast_rows, fast_errors = fp.convert_file(str(path))
    ts, errors_df = timeseries_from_files(spark, str(path))
    spark_rows = [r.asDict() for r in ts.collect()]
    spark_errors = [r.error for r in errors_df.collect()]

    # error-channel agreement: a feed fails on both engines or neither
    assert bool(fast_errors) == bool(spark_errors), (
        fast_errors,
        spark_errors,
    )
    if fast_errors:
        assert not fast_rows and not spark_rows
        return
    assert _canon(fast_rows) == _canon(spark_rows)


# 2023 and 2024 windows of the US rules 360E2000 / B40E2000 as the
# reference decodes them (naive-UTC epoch seconds, 02:00 on 2023-03-14,
# 2023-11-07, 2024-03-12 and 2024-11-05)
_WINDOWS = {2023: (1678759200, 1699322400), 2024: (1710208800, 1730772000)}


def _memo_edge_feed() -> tuple[str, dict[str, list[int]]]:
    """A fixed feed on the fast path's per-entry and per-year memo keys,
    and the raw reading starts of each series: readings across
    Dec 31 -> Jan 1 into a year with another DST window, readings exactly
    at each window edge (the window is strict) and one second inside it,
    two meter readings sharing one reading type, an interval block before
    its meter reading, and an orphan meter reading with no interval
    block."""
    from tests.test_espi_synthetic_golden import (
        _HEADER,
        _entry,
        _interval_blocks,
        _ltp,
        _rt,
    )

    base = "https://api.memo.example/espi/1_1/resource"
    up = f"{base}/UsagePoint/UP1"
    rt, rt_orphan = f"{base}/ReadingType/RT1", f"{base}/ReadingType/RT9"
    mr = {k: f"{up}/MeterReading/{k}" for k in ("A", "B", "orphan")}
    edges = [t + d for lo, hi in _WINDOWS.values() for t in (lo, hi) for d in (0, 1, -1)]
    new_year = [1704063600 + 3600 * k for k in range(-2, 3)]  # 2023-12-31 22:00 ..
    starts = {"Usage A": edges + new_year,
              "Usage B": [1689400000, 1721000000] + new_year}

    def block(title, key, values):
        readings = [_reading(t, 3600, v, cost=1000 * v) for t, v in values]
        return _entry(title, f"{mr[key]}/IntervalBlock/1", "espi-entry/IntervalBlock",
                      _interval_blocks([readings]))

    def meter(key, rt_href):
        return _entry("Meter Reading", mr[key], "espi-entry/MeterReading",
                      "<espi:MeterReading/>", related=[(rt_href, "espi-entry/ReadingType")])

    xml = [
        _HEADER,
        _entry("DST", f"{base}/LocalTimeParameters/1", "espi-entry/LocalTimeParameters",
               _ltp(-18000, 3600, "360E2000", "B40E2000")),
        block("Usage B", "B", [(t, 40 + i) for i, t in enumerate(starts["Usage B"])]),
        meter("A", rt),
        _entry("Reading Type", rt, "espi-entry/ReadingType", _rt(RT_KWH)),
        meter("B", rt),
        block("Usage A", "A", [(t, 7 + i) for i, t in enumerate(starts["Usage A"])]),
        meter("orphan", rt_orphan),
        _entry("Reading Type", rt_orphan, "espi-entry/ReadingType", _rt(RT_GAS)),
        "</feed>\n",
    ]
    return "".join(xml), starts


def test_fastpath_equals_spark_on_memo_key_edges(spark, tmp_path):
    import time

    from greenbuttonengine_spark.espi import fastpath as fp
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files

    xml, starts = _memo_edge_feed()
    path = tmp_path / "memo_edges.xml"
    path.write_text(xml)

    fast_rows, fast_errors = fp.convert_file(str(path))
    ts, errors_df = timeseries_from_files(spark, str(path))
    assert not fast_errors and errors_df.count() == 0
    assert _canon(fast_rows) == _canon([r.asDict() for r in ts.collect()])

    # the feed reaches the edges it is meant to: strict window per year
    def shifted(t):
        lo, hi = _WINDOWS[time.gmtime(t).tm_year]
        return t - 18000 + (3600 if lo < t < hi else 0)

    for title, raw in starts.items():
        got = sorted(r["time_period_start_unix"] for r in fast_rows if r["title"] == title)
        assert got == sorted(map(shifted, raw)), title
