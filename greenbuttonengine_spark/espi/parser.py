"""Pure-Python ESPI Atom-feed parser — the one Python stage in the engine.

Runs per-file inside ``mapInArrow`` (see source.py); everything after
it is native Catalyst.  Semantics mirror the reference parser:

* feed -> entry traversal: lib/personalgreenbutton/src/lib.rs:192-224
* entry fields + links: src/entry.rs:63-136
* content dispatch (IntervalBlock / ReadingType / LocalTimeParameters /
  Other; unknown tag = file error; mixed types = file error):
  src/content.rs:14-74
* text-of-node with empty->default provider tolerance:
  src/parse_helpers.rs:14-40
* per-field defaults (cost=NaN, quality=16, tou=0, phase=0):
  src/interval_reading.rs:15-22, src/reading_type.rs:19-20
* published/updated RFC-3339 quirk — the offset is parsed then DROPPED
  (naive local clock time re-interpreted as UTC): src/entry.rs:96-111
* hex-encoded DST rules: src/local_time_parameters.rs:152-159
* J1/J2 per file: the href -> entry index and the two lookups
  entry -> meter reading -> reading type (lib.rs:52-83), resolved
  once the file's last entry is parsed (``_link_entries``)

Row dicts target schemas.PARSED_SCHEMA; a file that fails to parse
yields a single row_kind='error' row instead of killing the job
(cli-frontend/src/main.rs:31-38 logs and continues).
"""

from __future__ import annotations

import math
import re
import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Any

from .schemas import (
    KIND_ENTRY,
    KIND_ERROR,
    KIND_INTERVAL_READING,
    KIND_LOCAL_TIME_PARAMETERS,
    KIND_READING_TYPE,
)

_METER_READING_RE = re.compile(r"(.*MeterReading/[^/]*)/")

# payload tags the reference recognizes but does not materialize
_OTHER_PAYLOADS = {
    "ElectricPowerQualitySummary",
    "MeterReading",
    "UsagePoint",
    "UsageSummary",
}

ENTRY_TYPE_READING_TYPE = "reading_type"
ENTRY_TYPE_INTERVAL_BLOCK = "interval_block"
ENTRY_TYPE_LOCAL_TIME_PARAMETERS = "local_time_parameters"
ENTRY_TYPE_OTHER = "other"


class EspiParseError(ValueError):
    pass


class _LocalNames(dict):
    """'{namespace}name' -> 'name' (parse_helpers.rs:6-12), memoized for
    one parse: a feed uses a handful of distinct tags, so each is split
    once instead of once per element."""

    def __missing__(self, tag: str) -> str:
        name = self[tag] = tag.rsplit("}", 1)[-1]
        return name


def _all_text(node: ET.Element) -> str:
    """Concatenate trimmed descendant text (parse_helpers.rs:14-25).
    A leaf's only text is its own, so it skips the itertext walk."""
    if len(node):
        return "".join(t.strip() for t in node.itertext())
    text = node.text
    return text.strip() if text else ""


def _parse_text(node: ET.Element, typ, default):
    """Text of node; empty string yields the type default
    (parse_helpers.rs:27-40 — Hydro One empty cost tags)."""
    text = _all_text(node)
    if text == "":
        return default
    return typ(text)


_RFC3339_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)


def _rfc3339_naive_utc_seconds(text: str) -> int:
    """Parse RFC-3339, drop the offset, re-interpret the clock time as
    UTC — the reference's naive_local().and_utc() quirk (entry.rs:96-111).

    Strict: chrono's parse_from_rfc3339 requires the 'T' separator and
    an explicit offset; fromisoformat alone would accept looser forms
    the reference rejects."""
    if not _RFC3339_RE.match(text):
        raise EspiParseError(f"Invalid RFC-3339 timestamp: {text!r}")
    dt = datetime.fromisoformat(text)
    return int(dt.replace(tzinfo=timezone.utc).timestamp())


_HEX_RE = re.compile(r"[0-9a-fA-F]{1,8}$")


def _parse_hex_u32(text: str, field: str) -> int:
    """Hex DST rule with the reference's u32 bounds
    (u32::from_str_radix, local_time_parameters.rs:152-159): no sign,
    no 0x prefix, must fit 32 bits."""
    if not _HEX_RE.match(text):
        raise EspiParseError(f"Invalid hex u32 for {field}: {text!r}")
    return int(text, 16)


def _parse_interval_reading(
    node: ET.Element, entry_index: int, local: _LocalNames
) -> dict[str, Any]:
    cost = math.nan
    quality = 16  # "other"
    value = start = duration = None
    tou = 0
    for child in node:
        tag = local[child.tag]
        if tag == "cost":
            # ESPI cost is 1/100000 currency units (interval_reading.rs:36-38)
            cost = _parse_text(child, float, 0.0) / 100000.0
        elif tag == "ReadingQuality":
            quality = _parse_text(child, int, 0)
        elif tag == "value":
            value = _parse_text(child, int, 0)
        elif tag == "tou":
            tou = _parse_text(child, int, 0)
        elif tag == "timePeriod":
            start = duration = None
            for sub in child:
                subtag = local[sub.tag]
                if subtag == "start":
                    start = _parse_text(sub, int, 0)
                elif subtag == "duration":
                    duration = _parse_text(sub, int, 0)
            if start is None:
                raise EspiParseError("Missing start time.")
            if duration is None:
                raise EspiParseError("Missing duration")
        else:
            # reference rejects unknown IntervalReading children
            # (interval_reading.rs:43-47)
            raise EspiParseError(f"Unmatched tag name: {tag!r}")
    if value is None:
        raise EspiParseError("Missing required field value in IntervalReading")
    if start is None:
        raise EspiParseError("Missing timePeriod in IntervalReading")
    return {
        "row_kind": KIND_INTERVAL_READING,
        "entry_index": entry_index,
        "cost": cost,
        "quality": quality,
        "value": value,
        "tou": tou,
        "time_period_start_unix": start,
        "time_period_duration_seconds": duration,
    }


_READING_TYPE_FIELDS = {
    "accumulationBehaviour": "accumulation_behaviour",
    "commodity": "commodity",
    "currency": "currency",
    "dataQualifier": "data_qualifier",
    "flowDirection": "flow_direction",
    "kind": "kind",
    "powerOfTenMultiplier": "power_of_ten_multiplier",
    "phase": "phase",
    "uom": "uom",
}


def _parse_reading_type(
    node: ET.Element, entry_index: int, local: _LocalNames
) -> dict[str, Any]:
    row: dict[str, Any] = {
        "row_kind": KIND_READING_TYPE,
        "entry_index": entry_index,
        "phase": 0,  # "none" when missing (reading_type.rs:19-20)
    }
    for child in node:
        col = _READING_TYPE_FIELDS.get(local[child.tag])
        if col is not None:
            row[col] = _parse_text(child, int, 0)
    for col in _READING_TYPE_FIELDS.values():
        if col not in row:
            raise EspiParseError(f"Missing required ReadingType field {col}")
    return row


def _parse_local_time_parameters(
    node: ET.Element, entry_index: int, local: _LocalNames
) -> dict[str, Any]:
    # _parse_entry adds the carrying entry's href: its usage-point
    # prefix scopes the LTP in the non-strict multi-LTP mode, which
    # resolves LTPs per usage point; the reference itself never needs
    # it (it aborts on multiple LTPs, lib.rs:42-50)
    row: dict[str, Any] = {
        "row_kind": KIND_LOCAL_TIME_PARAMETERS,
        "entry_index": entry_index,
    }
    for child in node:
        tag = local[child.tag]
        if tag == "dstStartRule":
            row["dst_start_rule"] = _parse_hex_u32(_all_text(child), "dstStartRule")
        elif tag == "dstEndRule":
            row["dst_end_rule"] = _parse_hex_u32(_all_text(child), "dstEndRule")
        elif tag == "dstOffset":
            row["dst_offset"] = _parse_text(child, int, 0)
        elif tag == "tzOffset":
            row["tz_offset"] = _parse_text(child, int, 0)
        elif tag:
            raise EspiParseError(f"Unmatched tag name: {tag!r}")
    for col in ("dst_start_rule", "dst_end_rule", "dst_offset", "tz_offset"):
        if col not in row:
            raise EspiParseError(f"Missing required LocalTimeParameters field {col}")
    return row


def _parse_entry(
    node: ET.Element, entry_index: int, local: _LocalNames
) -> tuple[dict[str, Any], list[dict[str, Any]]]:
    """-> (the entry row, its reading / reading-type / LTP rows)."""
    entry: dict[str, Any] = {
        "row_kind": KIND_ENTRY,
        "entry_index": entry_index,
        "related_meter_reading_entry_href": "",
        "related_reading_type_entry_href": "",
    }
    content_node: ET.Element | None = None
    for child in node:
        tag = local[child.tag]
        if tag == "title":
            if child.text is None:
                raise EspiParseError("Empty title.")
            entry["title"] = child.text
        elif tag == "published":
            if child.text is None:
                raise EspiParseError("Missing published text")
            entry["published_unix"] = _rfc3339_naive_utc_seconds(child.text)
        elif tag == "updated":
            if child.text is None:
                raise EspiParseError("Missing updated text")
            entry["updated_unix"] = _rfc3339_naive_utc_seconds(child.text)
        elif tag == "content":
            content_node = child
        elif tag == "link":
            href = child.get("href")
            if href is not None:
                if child.get("rel") == "related" and child.get("type") == "espi-entry/ReadingType":
                    entry["related_reading_type_entry_href"] = href
                if child.get("rel") == "self":
                    entry["href"] = href
                    m = _METER_READING_RE.match(href)
                    if m:
                        entry["related_meter_reading_entry_href"] = m.group(1)

    if content_node is None:
        raise EspiParseError("Missing content node")

    # content dispatch with mixed-type enforcement (content.rs:26-54)
    entry_type: str | None = None

    def set_type(new: str) -> None:
        nonlocal entry_type
        if entry_type is None or entry_type == new:
            entry_type = new
        else:
            raise EspiParseError("Entry has mixed content types.")

    interval_blocks: list[ET.Element] = []
    reading_type_node: ET.Element | None = None
    ltp_node: ET.Element | None = None
    for child in content_node:
        tag = local[child.tag]
        if tag == "IntervalBlock":
            set_type(ENTRY_TYPE_INTERVAL_BLOCK)
            interval_blocks.append(child)
        elif tag == "ReadingType":
            set_type(ENTRY_TYPE_READING_TYPE)
            reading_type_node = child
        elif tag == "LocalTimeParameters":
            set_type(ENTRY_TYPE_LOCAL_TIME_PARAMETERS)
            ltp_node = child
        elif tag in _OTHER_PAYLOADS:
            set_type(ENTRY_TYPE_OTHER)
        else:
            raise EspiParseError(f"Unknown tag name {tag!r}")

    entry["entry_type"] = entry_type or ENTRY_TYPE_OTHER
    for required in ("href", "title", "published_unix", "updated_unix"):
        if required not in entry:
            raise EspiParseError(f"Missing required entry field {required}")

    rows = [
        _parse_interval_reading(child, entry_index, local)
        for ib in interval_blocks
        for child in ib
        if local[child.tag] == "IntervalReading"
    ]
    if rows:
        starts = [r["time_period_start_unix"] for r in rows]
        entry["first_start_unix"], entry["last_start_unix"] = min(starts), max(starts)
    if reading_type_node is not None:
        rows.append(_parse_reading_type(reading_type_node, entry_index, local))
    if ltp_node is not None:
        rows.append(
            _parse_local_time_parameters(ltp_node, entry_index, local) | {"href": entry["href"]}
        )
    return entry, rows


_RT_CODES = tuple(_READING_TYPE_FIELDS.values())


def _link_entries(
    entries: list[dict[str, Any]], reading_types: dict[int, dict[str, Any]]
) -> None:
    """J1/J2 for one file, as the reference links entries
    (lib.rs:52-83): an href -> entry index (the last entry wins on a
    duplicate href, as a HashMap insert), then two lookups: entry ->
    meter reading (by the href prefix ``_METER_READING_RE`` cut) ->
    reading type (by the meter reading's related link).  Each entry row
    gets its reading type's ``power_of_ten_multiplier`` and enum codes;
    they stay unset (NULL) when a hop finds nothing or lands on an
    entry that is not a reading type (lib.rs:168-169 then fails the
    file if the entry has readings)."""
    by_href = {e["href"]: e for e in entries}
    for entry in entries:
        mr_href = entry["related_meter_reading_entry_href"]
        mr = by_href.get(mr_href) if mr_href else None
        rt = by_href.get(mr["related_reading_type_entry_href"]) if mr else None
        codes = reading_types.get(rt["entry_index"]) if rt else None
        if codes:
            for col in _RT_CODES:
                entry[col] = codes[col]


def iter_espi_stream(source, source_file: str):
    """The parser behind :func:`parse_espi_feed`: ``ET.XMLPullParser``
    fed 16 KiB at a time, yielding PARSED_SCHEMA row dicts per completed
    ``<entry>`` and dropping each finished entry subtree.  The entry
    rows themselves are held back to the end of the file, where
    ``_link_entries`` resolves their reading types over the whole
    file's hrefs.

    ``source`` is a file-like object (text mode preserves the
    reference's strict-UTF-8 read: a bad byte raises UnicodeDecodeError
    mid-stream and becomes the file's error row).

    A mid-file error yields a ``row_kind='error'`` row after whatever
    rows already streamed out; :func:`parse_espi_feed` keeps only that
    error row, and the denormalize plan drops an error file's partial
    rows anyway (it gets no dimension row; lib.rs:32-50 fail-the-file
    semantics).
    """
    entries: list[dict[str, Any]] = []
    reading_types: dict[int, dict[str, Any]] = {}
    try:
        parser = ET.XMLPullParser(events=("start", "end"))
        local = _LocalNames()
        depth = -1
        entry_index = 0
        root: ET.Element | None = None
        while True:
            data = source.read(16 * 1024)
            if data:
                parser.feed(data)
            else:
                parser.close()
            for event, elem in parser.read_events():
                if event == "start":
                    depth += 1
                    if depth == 0:
                        root = elem
                        if local[elem.tag] != "feed":
                            raise EspiParseError("Missing feed")
                    continue
                depth -= 1
                if depth == 0 and local[elem.tag] == "entry":
                    entry, rows = _parse_entry(elem, entry_index, local)
                    entry["source_file"] = source_file
                    entries.append(entry)
                    for row in rows:
                        row["source_file"] = source_file
                        if row["row_kind"] == KIND_READING_TYPE:
                            reading_types[entry_index] = row
                        yield row
                    entry_index += 1
                    # drop the finished entry subtree from the root
                    root.clear()
            if not data:
                break
        if not entries:
            # an empty feed would otherwise vanish from every downstream
            # table; the reference errors it at denormalize (lib.rs:46-50)
            raise EspiParseError("Missing LocalTimeParameters.")
        _link_entries(entries, reading_types)
        yield from entries
    except Exception as ex:  # noqa: BLE001 - error channel, not crash
        yield {
            "row_kind": KIND_ERROR,
            "source_file": source_file,
            "error": f"{type(ex).__name__}: {ex}",
        }


def parse_espi_feed(xml_text: str, source_file: str) -> list[dict[str, Any]]:
    """Parse one ESPI Atom feed into PARSED_SCHEMA row dicts.

    A failed file produces a SINGLE error row and nothing else (S2
    per-file tolerance) — the buffered wrapper over the streaming
    parser, for callers that already hold the text in memory."""
    import io

    rows = list(iter_espi_stream(io.StringIO(xml_text), source_file))
    if rows and rows[-1]["row_kind"] == KIND_ERROR:
        return [rows[-1]]
    return rows
