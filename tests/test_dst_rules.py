"""DST rule evaluation parity with the reference's unit tests
(lib/personalgreenbutton/src/local_time_parameters.rs:177-255), including
the Green Button Alliance documented example.

The reference tests get_date/get_datetime with explicit operator args;
our evaluator is SQL expression text over the packed u32 (the text the
ESPI pipeline splices into its DST dimension) giving naive-UTC epoch
seconds, so each case packs the fields first (encoding per local_time_parameters.rs:108-128, with
the chrono day-of-week quirk: packed dow d decodes to weekday
(d+1) % 7 with 0=Monday).
"""

from __future__ import annotations

import datetime as _dt

import pytest
from pyspark.sql import functions as F


def pack_rule(seconds: int, hours: int, dow_bits: int, dom: int, op: int, month: int) -> int:
    return (
        (seconds & 0xFFF)
        | ((hours & 0x1F) << 12)
        | ((dow_bits & 0x7) << 17)
        | ((dom & 0x1F) << 20)
        | ((op & 0x7) << 25)
        | ((month & 0xF) << 28)
    )


def dow_bits_for_weekday_monday0(target_mon0: int) -> int:
    """Invert the reference decode (bits+1)%7 == target (0=Monday)."""
    for bits in range(8):
        if (bits + 1) % 7 == target_mon0:
            return bits
    raise AssertionError


def _rule_column(rule: str, year: str):
    """The production rule text as a Column (naive-UTC epoch seconds)."""
    from greenbuttonengine_spark.espi.dst import rule_epoch_sql

    return F.expr(rule_epoch_sql(rule, year))


def _naive(epoch):
    """Epoch seconds -> naive datetime, as the reference's NaiveDateTime."""
    if epoch is None:
        return None
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=epoch)


def eval_rule(spark, rule: int, year: int):
    row = (
        spark.range(1)
        .select(_rule_column(f"CAST({rule} AS BIGINT)", f"CAST({year} AS BIGINT)").alias("ts"))
        .first()
    )
    return _naive(row.ts)


TUESDAY = dow_bits_for_weekday_monday0(1)  # chrono Weekday::Tue = 1


CASES = [
    # operator0: day-of-month 18 of June (dow ignored)
    (pack_rule(0, 0, TUESDAY, 18, 0, 6), 2025, "2025-06-18 00:00:00"),
    # operator1: Tuesday on/after Feb 14 2025 -> Feb 18
    (pack_rule(0, 0, TUESDAY, 14, 1, 2), 2025, "2025-02-18 00:00:00"),
    # operator1 equals: Tuesday on/after Feb 11 2025 (itself a Tuesday)
    (pack_rule(0, 0, TUESDAY, 11, 1, 2), 2025, "2025-02-11 00:00:00"),
    # operator7: last Tuesday of Feb 2025 -> Feb 25
    (pack_rule(0, 0, TUESDAY, 1, 7, 2), 2025, "2025-02-25 00:00:00"),
    # operator7 December edge: last Tuesday of Dec 2025 -> Dec 30
    (pack_rule(0, 0, TUESDAY, 1, 7, 12), 2025, "2025-12-30 00:00:00"),
    # operator4: third Tuesday of Feb 2025 -> Feb 18
    (pack_rule(0, 0, TUESDAY, 1, 4, 2), 2025, "2025-02-18 00:00:00"),
    # get_datetime: seconds field 3012 -> 50:12, hours 2
    (pack_rule(3012, 2, TUESDAY, 18, 0, 6), 2025, "2025-06-18 02:50:12"),
    # GBA documented example: 360E2000 @ 2020 -> 2020-03-10 02:00:00
    (0x360E2000, 2020, "2020-03-10 02:00:00"),
]


@pytest.mark.parametrize("rule,year,expected", CASES)
def test_rule_datetime_parity(spark, rule, year, expected):
    got = eval_rule(spark, rule, year)
    assert got is not None and got.strftime("%Y-%m-%d %H:%M:%S") == expected


def test_no_dst_sentinel(spark):
    assert eval_rule(spark, 0xFFFFFFFF, 2020) is None


def test_invalid_rule_ignored(spark):
    # hours field = 24 -> out of range -> rule ignored (lib.rs:145-156)
    bad = pack_rule(0, 24, TUESDAY, 1, 4, 2)
    assert eval_rule(spark, bad, 2025) is None


def test_month_zero_yields_null(spark):
    assert eval_rule(spark, pack_rule(0, 0, TUESDAY, 1, 0, 0), 2025) is None


# ---------------------------------------------------------------------------
# Property-based cross-check: a direct pure-Python model of the reference
# semantics (local_time_parameters.rs:43-143) vs the Spark SQL evaluator,
# over randomized rules x years.
# ---------------------------------------------------------------------------


def _model_rule_datetime(rule: int, year: int):
    if rule == 0xFFFFFFFF:
        return None
    seconds = rule & 0xFFF
    hours = (rule >> 12) & 0x1F
    dow_bits = (rule >> 17) & 0x7
    dom = (rule >> 20) & 0x1F
    op = (rule >> 25) & 0x7
    month = (rule >> 28) & 0xF
    if not (seconds <= 3599 and hours <= 23 and dom <= 31 and op <= 7 and month <= 12):
        return None
    target = (dow_bits + 1) % 7  # 0=Monday (chrono quirk)

    def ymd(y, m, d):
        try:
            return _dt.date(y, m, d)
        except ValueError:
            return None

    if op == 0:
        date = ymd(year, month, dom)
    elif op == 1:
        base = ymd(year, month, dom)
        date = base + _dt.timedelta(days=(target - base.weekday()) % 7) if base else None
    elif op == 7:
        if month == 0:
            date = None
        else:
            last = (
                _dt.date(year, 12, 31)
                if month == 12
                else _dt.date(year, month + 1, 1) - _dt.timedelta(days=1)
            )
            date = last - _dt.timedelta(days=(last.weekday() - target) % 7)
    else:
        first = ymd(year, month, 1)
        if first is None:
            date = None
        else:
            date = first + _dt.timedelta(days=(target - first.weekday()) % 7 + 7 * (op - 2))
    if date is None:
        return None
    return _dt.datetime(
        date.year, date.month, date.day, hours, seconds // 60, seconds % 60
    )


def test_hypothesis_cross_check(spark):
    from hypothesis import given, settings, strategies as st

    cases = []

    @settings(max_examples=120, deadline=None)
    @given(
        seconds=st.integers(0, 4095),
        hours=st.integers(0, 31),
        dow=st.integers(0, 7),
        dom=st.integers(0, 31),
        op=st.integers(0, 7),
        month=st.integers(0, 15),
        year=st.integers(1999, 2040),
    )
    def collect(seconds, hours, dow, dom, op, month, year):
        cases.append((pack_rule(seconds, hours, dow, dom, op, month), year))

    collect()
    # evaluate the whole batch in ONE Spark job (per-case jobs would be slow)
    df = spark.createDataFrame(cases, "rule long, year long")
    got = {
        (r.rule, r.year): _naive(r.ts)
        for r in df.select("rule", "year", _rule_column("rule", "year").alias("ts")).collect()
    }
    for rule, year in cases:
        want = _model_rule_datetime(rule, year)
        assert got[(rule, year)] == want, (
            f"rule={rule:#010x} year={year}: spark={got[(rule, year)]} model={want}"
        )
