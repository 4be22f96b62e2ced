"""The ESPI denormalize as a star join over small broadcast dimensions.

Guards on ``espi.pipeline.denormalize_with_errors``:

* a MIXED multi-file ingest — good, enova, DST and every bad shape in
  one plan, so the per-file and per-entry dimensions see many files at
  once — must give each file exactly the rows and error strings the
  single-file fast path (``espi.fastpath.convert_file``) gives it, in
  a UTC and in a non-UTC session;
* a feed that repeats an href gives each reading once in both engines;
* the fact stream must stay one stage: between the interval-reading
  scan and the root there is no shuffle and no window, only broadcast
  hash joins against the dimensions;
* building the plan is a handful of py4j round trips: each output is
  one parsed SQL statement, not a DataFrame-API expression tree built
  one JVM call at a time;
* an ingest plus its parquet write runs a small fixed number of jobs.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import pytest

from tests.test_espi_synthetic_golden import (
    ENOVA_SERIES,
    RT_GAS,
    RT_KWH,
    _entry,
    _interval_blocks,
    _reading,
    make_feed,
)
from tests.test_fastpath_property import _canon

# US rules 360E2000 / B40E2000: 2024 window 1710208800 .. 1730772000
_US_STARTS = [1710208800 + d for d in (-3600, 0, 1, 3600)] + [
    1730772000 + d for d in (-1, 0, 3600)
]
_LTP_MULTI = "Input with multiple LocalTimeParameters is currently unsupported."
_LTP_SCOPE = "Multiple LocalTimeParameters in one usage-point scope."


def _series(i: int, starts: list[int], rt_fields=RT_KWH) -> dict:
    return {
        "mr_id": f"MR{i}",
        "rt_id": f"RT{i}",
        "title": f"Series {i}",
        "rt_fields": rt_fields,
        "blocks": [[_reading(t, 3600, 100 + k, cost=700 * k) for k, t in enumerate(starts)]],
    }


def _base(host: str) -> str:
    return f"https://{host}/espi/1_1/resource"


def _unlink_rt(xml: str, host: str, rt_id: str) -> str:
    """Point the reading type's self link elsewhere: its meter reading's
    related link then resolves to nothing."""
    self_link = f'<link rel="self" href="{_base(host)}/ReadingType/{rt_id}"'
    assert self_link in xml
    return xml.replace(self_link, self_link[:-1] + '_gone"')


def _mixed_feeds() -> dict[str, bytes]:
    us = make_feed("us.example", -18000, [_series(1, _US_STARTS), _series(2, [1704067200], RT_GAS)])
    us = us.replace("<espi:dstStartRule>FFFFFFFF", "<espi:dstStartRule>360E2000").replace(
        "<espi:dstEndRule>FFFFFFFF", "<espi:dstEndRule>B40E2000"
    )

    enova = make_feed("api.enova.example", -18000, ENOVA_SERIES)

    host = "two.example"
    two_ltp = _unlink_rt(make_feed(host, 3600, [_series(1, [1700000000]), _series(2, [1700003600])]),
                         host, "RT2")
    second_ltp = _entry("DST 2", f"{_base(host)}/LocalTimeParameters/002",
                        "espi-entry/LocalTimeParameters",
                        "<espi:LocalTimeParameters><espi:dstEndRule>FFFFFFFF</espi:dstEndRule>"
                        "<espi:dstOffset>3600</espi:dstOffset>"
                        "<espi:dstStartRule>FFFFFFFF</espi:dstStartRule>"
                        "<espi:tzOffset>0</espi:tzOffset></espi:LocalTimeParameters>")
    two_ltp = two_ltp.replace("</feed>", second_ltp + "</feed>")

    host = "noltp.example"
    no_ltp = make_feed(host, 0, [_series(1, [1700000000])])
    start = no_ltp.index("  <entry>")
    no_ltp = no_ltp[:start] + no_ltp[no_ltp.index("</entry>", start) + len("</entry>\n"):]
    assert "LocalTimeParameters" not in no_ltp

    host = "nort.example"
    no_rt = _unlink_rt(make_feed(host, -3600, [_series(1, [1700000000]), _series(2, [1700003600])]),
                       host, "RT2")

    # an IntervalBlock entry with no readings and no reading type link
    host = "empty.example"
    empty_block = _entry("Empty Block", f"{_base(host)}/Orphan/IntervalBlock/1",
                         "espi-entry/IntervalBlock", _interval_blocks([[]]))
    empty = make_feed(host, 7200, [_series(1, [1700000000, 1700003600])]).replace(
        "</feed>", empty_block + "</feed>"
    )

    truncated = make_feed("trunc.example", 0, [_series(1, [1700000000])])
    truncated = truncated[: len(truncated) * 2 // 3]

    bad_utf8 = make_feed("utf8.example", 0, [_series(1, [1700000000])]).encode()
    bad_utf8 = bad_utf8.replace(b"<title>Series 1</title>", b"<title>Series \xff 1</title>", 1)

    feeds = {
        "us_dst.xml": us, "enova.xml": enova, "two_ltp_no_rt.xml": two_ltp,
        "no_ltp.xml": no_ltp, "no_rt.xml": no_rt, "empty_block.xml": empty,
        "truncated.xml": truncated,
    }
    out = {name: xml.encode() for name, xml in feeds.items()}
    out["bad_utf8.xml"] = bad_utf8
    return out


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mixed")
    for name, data in _mixed_feeds().items():
        (d / name).write_bytes(data)
    return d


def _by_file(ts, errors_df):
    rows, errors = defaultdict(list), defaultdict(list)
    for r in ts.collect():
        d = r.asDict()
        rows[Path(d.pop("source_file")).name].append(d)
    for r in errors_df.collect():
        errors[Path(r.source_file).name].append(r.error)
    return rows, errors


def _check_mixed_ingest(spark, mixed_dir, strict):
    from greenbuttonengine_spark.espi import fastpath as fp
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files

    ts, errors_df = timeseries_from_files(
        spark, str(mixed_dir), include_source_file=True, strict_single_ltp=strict
    )
    rows, errors = _by_file(ts, errors_df)
    names = sorted(p.name for p in mixed_dir.iterdir())
    assert set(rows) | set(errors) <= set(names)
    for name in names:
        want_rows, want_errors = fp.convert_file(str(mixed_dir / name))
        if not strict and name == "two_ltp_no_rt.xml":
            # both LTPs are file-global: ambiguous in the per-usage-point
            # mode too, and the reading-type check never runs
            want_errors = [_LTP_SCOPE]
        assert sorted(errors[name]) == sorted(want_errors), name
        assert _canon(rows[name]) == _canon(want_rows), name

    # the feeds reach the shapes they are meant to
    assert rows["us_dst.xml"] and rows["enova.xml"] and rows["empty_block.xml"]
    if strict:
        assert errors["two_ltp_no_rt.xml"] == [_LTP_MULTI]
    assert errors["no_ltp.xml"] == ["Missing LocalTimeParameters."]
    assert errors["no_rt.xml"] == ["Missing reading type"]
    assert errors["truncated.xml"][0].startswith("ParseError")
    assert errors["bad_utf8.xml"][0].startswith("UnicodeDecodeError")


@pytest.mark.parametrize("strict", [True, False])
def test_mixed_ingest_equals_fastpath_per_file(spark, mixed_dir, strict):
    _check_mixed_ingest(spark, mixed_dir, strict)


@pytest.mark.parametrize("strict", [True, False])
def test_mixed_ingest_is_zone_free(spark, mixed_dir, strict):
    """The statements never read the session time zone: a New York
    session gives the same rows (the DST feed's readings straddle both
    US transitions)."""
    key = "spark.sql.session.timeZone"
    zone = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        _check_mixed_ingest(spark, mixed_dir, strict)
    finally:
        spark.conf.set(key, zone)


@pytest.mark.parametrize("strict", [True, False])
def test_duplicate_href_gives_each_reading_once(spark, tmp_path, strict):
    """A feed that repeats its MeterReading entry: the href index keeps
    the last entry with an href (the reference's HashMap insert), so
    each reading still resolves to one reading type and appears once."""
    from greenbuttonengine_spark.espi import fastpath as fp
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files
    from perfbench.corpus import make_feed

    xml = make_feed(3, "x.xml", "egd_gas", 40).data.decode()
    mr_type = 'type="espi-entry/MeterReading"'
    start = xml.rindex("  <entry>", 0, xml.index(mr_type))
    end = xml.index("</entry>\n", start) + len("</entry>\n")
    path = tmp_path / "dup_href.xml"
    path.write_text(xml[:end] + xml[start:end] + xml[end:])

    want, want_errors = fp.convert_file(str(path))
    assert len(want) == 40 and not want_errors
    ts, errors = timeseries_from_files(spark, str(path), strict_single_ltp=strict)
    assert _canon([r.asDict() for r in ts.collect()]) == _canon(want)
    assert errors.count() == 0


def _fact_path(node) -> list[str]:
    """Class names on every path from ``node`` down to the scans,
    skipping the build sides of broadcast joins (the dimensions)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _fact_path(node.executedPlan())
    if name in ("BroadcastExchangeExec", "BroadcastQueryStageExec"):
        return []
    if name == "ReusedExchangeExec" and "Broadcast" in node.child().getClass().getSimpleName():
        return []
    names = [name]
    if name.endswith("QueryStageExec"):
        names += _fact_path(node.plan())
    children = node.children()
    for i in range(children.size()):
        names += _fact_path(children.apply(i))
    return names


@pytest.mark.parametrize("strict", [True, False])
def test_fact_stream_has_no_shuffle_or_window(spark, mixed_dir, strict):
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files

    paths = [str(mixed_dir / "us_dst.xml"), str(mixed_dir / "enova.xml")]
    ts, _errors = timeseries_from_files(spark, paths, strict_single_ltp=strict)
    qe = ts._jdf.queryExecution()
    before = _fact_path(qe.executedPlan())
    assert ts.collect()
    after = _fact_path(qe.executedPlan())
    for names in (before, after):
        bad = [n for n in names if "Window" in n or "Shuffle" in n or "Exchange" in n
               or "Sort" in n]
        assert not bad, names
        # the parsed table is reached through the fact stream alone
        assert "RDDScanExec" in names, names
        assert names.count("BroadcastHashJoinExec") == 2, names


@pytest.mark.parametrize("strict", [True, False])
def test_denormalize_build_is_a_few_jvm_calls(spark, mixed_dir, monkeypatch, strict):
    """Building both outputs of a 2-file ingest stays within a small fixed
    number of py4j commands (about 20; a DataFrame-API build of the same
    plan made about 5,500).  Object-release commands are not counted:
    their number depends on what the garbage collector frees meanwhile,
    not on the build."""
    from py4j import protocol as proto
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    from greenbuttonengine_spark.espi.pipeline import denormalize_with_errors
    from greenbuttonengine_spark.espi.source import read_espi

    paths = [str(mixed_dir / "us_dst.xml"), str(mixed_dir / "enova.xml")]
    parsed = read_espi(spark, paths).localCheckpoint(eager=True)
    calls = []

    def counting(send):
        def send_command(self, command, *args, **kwargs):
            if not command.startswith(proto.MEMORY_COMMAND_NAME):
                calls.append(command)
            return send(self, command, *args, **kwargs)

        return send_command

    for conn in (ClientServerConnection, GatewayConnection):
        monkeypatch.setattr(conn, "send_command", counting(conn.send_command))
    ts, errors = denormalize_with_errors(parsed, strict_single_ltp=strict)
    monkeypatch.undo()
    assert 0 < len(calls) <= 60, calls
    assert ts.count() > 0 and errors.count() == 0


@pytest.mark.parametrize("strict,budget", [(True, 5), (False, 5)])
def test_ingest_job_budget(spark, mixed_dir, tmp_path, strict, budget):
    """One ingest of the mixed corpus plus its parquet write, counted
    under a job group, in either LTP mode: the eager parse checkpoint,
    then the dimensions (the entry projection, the file aggregate's
    shuffle and the DST broadcast) and the fact + parquet job.  The
    multi-LTP mode resolves its usage-point scopes inside the file
    aggregate.  Self-joins on hrefs, joins of the LTP rows to the
    entries or a second scan of the facts for their keys would add jobs:
    with them the same ingest ran 14 jobs strict and 41-42 in the
    multi-LTP mode, and 29-30 in the multi-LTP mode with LTP-scope joins
    alone."""
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files
    from greenbuttonengine_spark.sinks import write_parquet

    sc = spark.sparkContext
    group = f"espi_job_budget_{strict}"
    sc.setJobGroup(group, group)
    try:
        ts, _errors = timeseries_from_files(spark, str(mixed_dir), strict_single_ltp=strict)
        write_parquet(ts, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= budget, len(jobs)
