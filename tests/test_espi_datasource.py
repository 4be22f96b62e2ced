"""Streaming parse and provider-quirk fixtures beyond the EGD corpus
(FIXTURES.md §4): multiple IntervalBlocks per content, empty cost tags,
the enova cost patch with real costs, and a file that fails mid-stream."""

from __future__ import annotations

import math
import textwrap

import pytest


QUIRK_XML = textwrap.dedent("""\
    <feed xmlns="http://www.w3.org/2005/Atom" xmlns:espi="http://naesb.org/espi">
      <entry>
        <title>DST</title><published>2024-01-01T00:00:00Z</published>
        <updated>2024-01-01T00:00:00Z</updated>
        <link rel="self" href="https://api.enova.example/LocalTimeParameters/1"/>
        <content><espi:LocalTimeParameters>
          <espi:dstStartRule>FFFFFFFF</espi:dstStartRule>
          <espi:dstEndRule>FFFFFFFF</espi:dstEndRule>
          <espi:dstOffset>0</espi:dstOffset><espi:tzOffset>0</espi:tzOffset>
        </espi:LocalTimeParameters></content>
      </entry>
      <entry>
        <title>RT</title><published>2024-01-01T00:00:00Z</published>
        <updated>2024-01-01T00:00:00Z</updated>
        <link rel="self" href="https://api.enova.example/ReadingType/1"/>
        <content><espi:ReadingType>
          <espi:accumulationBehaviour>4</espi:accumulationBehaviour>
          <espi:commodity>7</espi:commodity><espi:currency>124</espi:currency>
          <espi:dataQualifier>12</espi:dataQualifier>
          <espi:flowDirection>1</espi:flowDirection><espi:kind>58</espi:kind>
          <espi:powerOfTenMultiplier>0</espi:powerOfTenMultiplier>
          <espi:uom>42</espi:uom>
        </espi:ReadingType></content>
      </entry>
      <entry>
        <title>Usage</title><published>2024-01-01T00:00:00Z</published>
        <updated>2024-01-01T00:00:00Z</updated>
        <link rel="self"
              href="https://api.enova.example/MeterReading/7/IntervalBlock/1"/>
        <link rel="related" type="espi-entry/ReadingType"
              href="https://api.enova.example/ReadingType/1"/>
        <content>
          <espi:IntervalBlock>
            <espi:IntervalReading>
              <espi:cost>500000</espi:cost>
              <espi:timePeriod><espi:duration>3600</espi:duration>
                <espi:start>1704067200</espi:start></espi:timePeriod>
              <espi:value>10</espi:value>
            </espi:IntervalReading>
          </espi:IntervalBlock>
          <espi:IntervalBlock>
            <espi:IntervalReading>
              <espi:cost/>
              <espi:timePeriod><espi:duration>3600</espi:duration>
                <espi:start>1704070800</espi:start></espi:timePeriod>
              <espi:value>20</espi:value>
            </espi:IntervalReading>
          </espi:IntervalBlock>
        </content>
      </entry>
      <entry>
        <title>MR</title><published>2024-01-01T00:00:00Z</published>
        <updated>2024-01-01T00:00:00Z</updated>
        <link rel="self" href="https://api.enova.example/MeterReading/7"/>
        <link rel="related" type="espi-entry/ReadingType"
              href="https://api.enova.example/ReadingType/1"/>
        <content><espi:MeterReading/></content>
      </entry>
    </feed>
""")


def test_provider_quirks(spark, tmp_path):
    """Multiple IntervalBlocks in one content (Hydro One), empty <cost/>
    tag -> 0.0 default, enova href -> costs x100, no-DST sentinel."""
    from greenbuttonengine_spark.espi import timeseries_from_files

    f = tmp_path / "quirks.xml"
    f.write_text(QUIRK_XML)
    ts, errors = timeseries_from_files(spark, str(f))
    assert errors.count() == 0
    rows = sorted(ts.collect(), key=lambda r: r.time_period_start_unix)
    assert len(rows) == 2  # both IntervalBlocks parsed
    # cost 500000/100000 = 5.0, then x100 (enova patch) = 500.0
    assert rows[0].cost == pytest.approx(500.0)
    # empty <cost/> -> type default 0.0 (not NaN), then x100 = 0.0
    assert rows[1].cost == 0.0
    # no-DST sentinel + tz 0 -> timestamps unshifted
    assert rows[0].time_period_start_unix == 1704067200
    assert rows[0].value == 10.0 and rows[1].value == 20.0
    assert rows[0].uom == "m3" and rows[0].quality == "other"


def test_streaming_parse_partial_file_atomicity(spark, tmp_path):
    """A file that fails MID-stream (after valid entries already parsed)
    must contribute nothing to the timeseries — the streaming parser
    emits partial rows + an error row, and the denormalize plan
    anti-joins the partial rows away (fail-the-file, lib.rs:32-50)."""
    from greenbuttonengine_spark.espi.parser import iter_espi_stream
    from greenbuttonengine_spark.espi.pipeline import denormalize_with_errors
    from greenbuttonengine_spark.espi.schemas import PARSED_SCHEMA

    # valid quirk feed, then a final broken entry (unknown payload tag)
    broken = QUIRK_XML.replace(
        "</feed>",
        """<entry><title>bad</title><published>2024-01-01T00:00:00Z</published>
           <updated>2024-01-01T00:00:00Z</updated>
           <link rel="self" href="https://x/e/1"/>
           <content><espi:Bogus/></content></entry></feed>""",
    )
    good = tmp_path / "good.xml"
    good.write_text(QUIRK_XML)
    bad = tmp_path / "partial.xml"
    bad.write_text(broken)

    rows = []
    for f in (good, bad):
        with open(f, encoding="utf-8") as fh:
            rows += iter_espi_stream(fh, str(f))
    parsed = spark.createDataFrame(rows, PARSED_SCHEMA)
    # the streaming parser DID emit partial rows for the broken file
    from pyspark.sql import functions as F

    bad_rows = parsed.filter(F.col("source_file").contains("partial.xml"))
    kinds = {r.row_kind for r in bad_rows.collect()}
    assert "error" in kinds and len(kinds) > 1  # partial rows + error row
    ts, errors = denormalize_with_errors(parsed)
    errs = errors.collect()
    assert any("Unknown tag name" in e.error for e in errs)
    # the broken file contributes nothing; the good file's 2 rows survive
    assert ts.count() == 2


def test_streaming_matches_buffered_on_golden_corpus(spark, tmp_path, egd_feed):
    """iter_espi_stream and the buffered parse agree row-for-row on an
    EGD-shaped export."""
    import io

    from greenbuttonengine_spark.espi.parser import iter_espi_stream, parse_espi_feed

    egd = egd_feed(tmp_path)
    text = open(egd).read()

    def norm(rows):  # NaN != NaN breaks plain dict equality
        return [
            {k: ("<nan>" if isinstance(v, float) and math.isnan(v) else v) for k, v in r.items()}
            for r in rows
        ]

    streamed = norm(iter_espi_stream(io.StringIO(text), egd))
    buffered = norm(parse_espi_feed(text, egd))
    assert streamed == buffered


def test_mixed_payload_types_is_file_error(spark, tmp_path):
    # inject a ReadingType payload next to the first IntervalBlock
    bad = QUIRK_XML.replace(
        "<espi:IntervalBlock>",
        "<espi:ReadingType><espi:uom>42</espi:uom></espi:ReadingType>"
        "<espi:IntervalBlock>",
        1,
    )
    assert bad != QUIRK_XML
    f = tmp_path / "mixed.xml"
    f.write_text(bad)
    from greenbuttonengine_spark.espi import timeseries_from_files

    ts, errors = timeseries_from_files(spark, str(f))
    errs = errors.collect()
    assert len(errs) == 1 and "mixed content types" in errs[0].error
