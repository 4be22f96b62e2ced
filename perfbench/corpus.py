"""Seeded Green Button (ESPI Atom) corpus generator.

Every byte is a function of ``(seed, spec)`` alone: randomness comes from
``random.Random`` seeded with a string (SHA-512 based, independent of
``PYTHONHASHSEED``) and entry ids are SHA-1 digests of the entry href, so
two processes build byte-identical corpora for one seed.

Provider shapes (each one exercises a pipeline quirk):

* ``egd_gas``        daily gas readings, one IntervalBlock entry per month
                     (an EGD-like export), US DST rules
* ``hourly_electric`` hourly kWh, one IntervalBlock entry per day, a
                     forward and sometimes a net series, US DST rules
* ``enova``          hourly, host contains "enova": costs x100 patch,
                     EU DST rules
* ``hydro``          several IntervalBlocks inside ONE content element
                     per week (Hydro One shape), empty cost tags (-> 0.0),
                     no-DST sentinel rules

Bad files (each lands in the engine's error channel, never in the data):

* ``bad_xml``        a valid feed truncated mid-element
* ``bad_no_ltp``     a well-formed feed with no LocalTimeParameters entry
* ``bad_utf8``       a valid feed with an invalid UTF-8 byte in a title
"""

from __future__ import annotations

import calendar
import hashlib
import random
from dataclasses import dataclass

GOOD_SHAPES = ("egd_gas", "hourly_electric", "enova", "hydro")
BAD_SHAPES = ("bad_xml", "bad_no_ltp", "bad_utf8")

# Real-world encoded DST rules (ESPI dstStartRule / dstEndRule hex):
US_DST = ("360E2000", "B40E2000")  # second Sunday of March / first of Nov, 02:00
EU_DST = ("3E0A1000", "AE0A1000")  # last Sunday of March / October, 01:00
NO_DST = ("FFFFFFFF", "FFFFFFFF")

_RT_GAS = {"accumulationBehaviour": 4, "commodity": 7, "currency": 124,
           "dataQualifier": 12, "flowDirection": 1, "kind": 58,
           "powerOfTenMultiplier": -3, "uom": 169}
_RT_KWH = {"accumulationBehaviour": 4, "commodity": 1, "currency": 840,
           "dataQualifier": 12, "flowDirection": 1, "kind": 12,
           "powerOfTenMultiplier": 0, "uom": 72}
_RT_NET = dict(_RT_KWH, flowDirection=4, powerOfTenMultiplier=-1, phase=0)
_RT_ENOVA = dict(_RT_KWH, currency=578, powerOfTenMultiplier=-2)
_QUALITY = (17, 17, 17, 17, 14, 8, 0, 19)


@dataclass(frozen=True)
class Feed:
    name: str
    shape: str
    data: bytes

    @property
    def bad(self) -> bool:
        return self.shape in BAD_SHAPES


def _entry(title: str, href: str, typ: str, content: str,
           related: tuple[str, str] | None = None) -> str:
    link = f'    <link rel="self" href="{href}" type="{typ}"/>\n'
    if related:
        link += f'    <link rel="related" href="{related[0]}" type="{related[1]}"/>\n'
    eid = hashlib.sha1(href.encode()).hexdigest()[:16]
    return (
        "  <entry>\n"
        f"    <id>urn:uuid:{eid}</id>\n"
        f"{link}"
        f"    <title>{title}</title>\n"
        f"    <content>{content}</content>\n"
        "    <published>2024-06-01T08:30:00-04:00</published>\n"
        "    <updated>2024-06-01T08:30:00Z</updated>\n"
        "  </entry>\n"
    )


def _ltp(tz: int, rules: tuple[str, str]) -> str:
    return (
        "<espi:LocalTimeParameters>"
        f"<espi:dstEndRule>{rules[1]}</espi:dstEndRule>"
        "<espi:dstOffset>3600</espi:dstOffset>"
        f"<espi:dstStartRule>{rules[0]}</espi:dstStartRule>"
        f"<espi:tzOffset>{tz}</espi:tzOffset>"
        "</espi:LocalTimeParameters>"
    )


def _rt(fields: dict[str, int]) -> str:
    return "<espi:ReadingType>" + "".join(
        f"<espi:{k}>{v}</espi:{k}>" for k, v in sorted(fields.items())
    ) + "</espi:ReadingType>"


def _reading(rng: random.Random, start: int, dur: int, value: int,
             cost: str | None) -> str:
    parts = ["<espi:IntervalReading>"]
    if cost is not None:
        parts.append(f"<espi:cost>{cost}</espi:cost>")
    q = _QUALITY[rng.randrange(len(_QUALITY))]
    if q != 16:
        parts.append(f"<espi:ReadingQuality>{q}</espi:ReadingQuality>")
    parts.append(f"<espi:timePeriod><espi:duration>{dur}</espi:duration>"
                 f"<espi:start>{start}</espi:start></espi:timePeriod>")
    tou = rng.randrange(3)
    if tou:
        parts.append(f"<espi:tou>{tou}</espi:tou>")
    parts.append(f"<espi:value>{value}</espi:value></espi:IntervalReading>")
    return "".join(parts)


def _block(readings: list[str], start: int, dur: int) -> str:
    return ("<espi:IntervalBlock><espi:interval>"
            f"<espi:duration>{dur}</espi:duration><espi:start>{start}</espi:start>"
            "</espi:interval>" + "".join(readings) + "</espi:IntervalBlock>")


def _series(rng: random.Random, shape: str, t0: int, days: int) -> list[str]:
    """-> the content of each IntervalBlock entry of one series."""
    if shape == "egd_gas":
        dur, per_entry, per_block = 86400, 30, 30
    elif shape == "hydro":
        dur, per_entry, per_block = 3600, 24 * 7, 24
    else:
        dur, per_entry, per_block = 3600, 24, 24
    n = days * 86400 // dur
    base = rng.randrange(200, 2000)
    contents: list[str] = []
    for lo in range(0, n, per_entry):
        blocks = []
        for blo in range(lo, min(lo + per_entry, n), per_block):
            readings = []
            for i in range(blo, min(blo + per_block, lo + per_entry, n)):
                value = base + rng.randrange(-base // 2, base)
                if shape == "hydro":
                    cost = "" if rng.random() < 0.3 else str(rng.randrange(1000, 90000))
                else:
                    cost = str(rng.randrange(1000, 900000))
                readings.append(_reading(rng, t0 + i * dur, dur, value, cost))
            blocks.append(_block(readings, t0 + blo * dur, dur * len(readings)))
        contents.append("".join(blocks))
    return contents


def make_feed(seed: int | str, name: str, shape: str, days: int,
              net_series: bool = False) -> Feed:
    """One provider-shaped export covering ``days`` days of readings.

    ``net_series`` adds a second (net) series to an ``hourly_electric``
    feed; it is a parameter, not a seeded draw, so every seed yields the
    same number of rows."""
    rng = random.Random(f"gbcorpus:{seed}:{name}:{shape}")
    good = shape if shape in GOOD_SHAPES else "hourly_electric"
    host = {"enova": "api.enova.example.no", "hydro": "greenbutton.hydro.example.ca",
            "egd_gas": "myaccount.egd.example.com"}.get(good, "utility.example.com")
    tz, rules = {
        "enova": (3600, EU_DST),
        "hydro": (-18000, NO_DST),
    }.get(good, (rng.choice((-18000, -21600, -25200, -28800)), US_DST))
    year = 2019 + rng.randrange(5)
    t0 = calendar.timegm((year, 1, 1, 0, 0, 0)) - tz
    up = rng.randrange(10**6, 10**7)
    base = f"https://{host}/DataCustodian/espi/1_1/resource"
    up_href = f"{base}/Subscription/{up}/UsagePoint/{up}"

    rt_list = {"egd_gas": [_RT_GAS], "enova": [_RT_ENOVA], "hydro": [_RT_KWH]}.get(
        good, [_RT_KWH, _RT_NET] if net_series else [_RT_KWH])

    xml = ['<?xml version="1.0" encoding="UTF-8"?>\n'
           '<feed xmlns="http://www.w3.org/2005/Atom" '
           'xmlns:espi="http://naesb.org/espi">\n'
           f"  <id>urn:uuid:feed-{up}</id>\n  <title>Green Button Usage Feed</title>\n"
           "  <updated>2024-06-01T08:30:00Z</updated>\n"]
    xml.append(_entry(f"Service {up}", up_href, "espi-entry/UsagePoint",
                      "<espi:UsagePoint><espi:ServiceCategory><espi:kind>"
                      f"{1 if good == 'egd_gas' else 0}</espi:kind>"
                      "</espi:ServiceCategory></espi:UsagePoint>"))
    if shape != "bad_no_ltp":
        xml.append(_entry("DST For North America", f"{base}/LocalTimeParameters/{up}",
                          "espi-entry/LocalTimeParameters", _ltp(tz, rules)))
    for k, rt_fields in enumerate(rt_list, start=1):
        mr = f"{up_href}/MeterReading/{k}"
        rt = f"{base}/ReadingType/{up}{k}"
        xml.append(_entry("Meter Reading", mr, "espi-entry/MeterReading",
                          "<espi:MeterReading/>", (rt, "espi-entry/ReadingType")))
        xml.append(_entry(f"Type of Meter Reading Data {k}", rt,
                          "espi-entry/ReadingType", _rt(rt_fields)))
        title = f"{host.split('.')[1].title()} {'Usage' if k == 1 else 'Net'} {up}"
        for b, content in enumerate(_series(rng, good, t0, days), start=1):
            xml.append(_entry(title, f"{mr}/IntervalBlock/{b}",
                              "espi-entry/IntervalBlock", content))
    xml.append("</feed>\n")
    data = "".join(xml).encode("utf-8")
    if shape == "bad_xml":
        data = data[: len(data) * 2 // 3]
    elif shape == "bad_utf8":
        data = data.replace(b"<title>Meter Reading</title>",
                            b"<title>Meter \xff Reading</title>", 1)
    return Feed(name, shape, data)


def make_corpus(seed: int | str, n_good: int, days: int, prefix: str = "f") -> list[Feed]:
    """``n_good`` feeds cycling through the provider shapes, plus one of
    each bad shape; names encode the position and shape."""
    feeds = [
        make_feed(seed, f"{prefix}{i:04d}_{GOOD_SHAPES[i % 4]}.xml", GOOD_SHAPES[i % 4],
                  days, net_series=(i // 4) % 2 == 1)
        for i in range(n_good)
    ]
    return feeds + [make_feed(seed, f"{prefix}bad_{s}.xml", s, min(days, 7)) for s in BAD_SHAPES]


def corpus_digest(feeds: list[Feed]) -> str:
    h = hashlib.sha256()
    for f in feeds:
        h.update(f.name.encode() + b"\0" + f.data)
    return h.hexdigest()
