"""Build the ESPI enum dictionary dim table from the NAESB espi.xsd.

Reimplements the reference's build-time dictionary compilation
(lib/personalgreenbutton/build.rs:111-218) as a small offline script:

* complexType 'ReadingType' -> (type, field, field_type) rows
  (build.rs:28-57 — only ReadingType's sequence is materialized)
* simpleType with union/simpleType/restriction/enumeration ->
  (field_type, value, app_info, documentation) rows (build.rs:59-109)
* left join on field_type, union of bare simple types with type='',
  filter value NOT NULL AND (type='ReadingType' OR
  field='QualityOfReading') (build.rs:133-172)

Output: a small JSON table of ``[type, field, value, app_info]`` rows,
loaded once per process by ``espi/schemas.enum_maps`` and turned into
literal SQL maps (the Spark analog of the reference's phf static map,
gb_type_details.rs:8-31) and the CLI fast path's dict lookups.

Usage: python tools/build_enum_dim.py [xsd_path] [out_json]
"""

from __future__ import annotations

import json
import sys
import xml.etree.ElementTree as ET
from pathlib import Path

DEFAULT_XSD = "/root/reference/lib/personalgreenbutton/preprocessing/espi.xsd.xml"
DEFAULT_OUT = (
    Path(__file__).resolve().parent.parent
    / "greenbuttonengine_spark"
    / "espi"
    / "data"
    / "espi_enum_dim.json"
)

XS = "{http://www.w3.org/2001/XMLSchema}"


def local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_xsd(xsd_path: str):
    tree = ET.parse(xsd_path)
    schema = tree.getroot()

    complex_rows: list[tuple[str, str, str]] = []  # (type, field, field_type)
    simple_rows: list[tuple[str, int, str | None, str]] = []  # (field_type, value, app_info, doc)

    for d in schema:
        tag = local(d.tag)
        if tag == "complexType" and d.get("name") == "ReadingType":
            for cc in d:
                if local(cc.tag) != "complexContent":
                    continue
                ext = next(c for c in cc if local(c.tag) == "extension")
                seq = next(c for c in ext if local(c.tag) == "sequence")
                for el in seq:
                    if local(el.tag) != "element":
                        continue
                    complex_rows.append(("ReadingType", el.get("name"), el.get("type")))
        elif tag == "simpleType":
            name = d.get("name")
            union = next((c for c in d if local(c.tag) == "union"), None)
            if union is None:
                continue
            inner = next((c for c in union if local(c.tag) == "simpleType"), None)
            if inner is None:
                continue
            restriction = next((c for c in inner if local(c.tag) == "restriction"), None)
            if restriction is None:
                continue
            for enum in restriction:
                if local(enum.tag) != "enumeration":
                    continue
                ann = next(c for c in enum if local(c.tag) == "annotation")
                doc = next(c for c in ann if local(c.tag) == "documentation")
                appinfo = next((c for c in ann if local(c.tag) == "appinfo"), None)
                simple_rows.append(
                    (
                        name,
                        int(enum.get("value")),
                        appinfo.text if appinfo is not None else None,
                        doc.text or "",
                    )
                )

    simple_by_type: dict[str, list[tuple[str, int, str | None, str]]] = {}
    for row in simple_rows:
        simple_by_type.setdefault(row[0], []).append(row)

    out: list[tuple[str, str, int, str | None, str]] = []
    # complex fields left-joined to enum simple types (non-matching fields
    # would carry null values and are filtered, as in the reference)
    for xml_type, field, field_type in complex_rows:
        for _, value, app_info, doc in simple_by_type.get(field_type, []):
            out.append((xml_type, field, value, app_info, doc))
    # bare simple types under type=''
    for field_type, value, app_info, doc in simple_rows:
        out.append(("", field_type, value, app_info, doc))

    out = [
        r
        for r in out
        if r[0] == "ReadingType" or r[1] == "QualityOfReading"
    ]
    return out


def main() -> None:
    xsd = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_XSD
    out_path = Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_OUT
    rows = parse_xsd(xsd)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    # stdlib json loads in ~1 ms vs ~300 ms for a pyarrow import, which
    # matters for the CLI fast path's single-file conversions
    with open(out_path, "w") as fh:
        json.dump(
            [[r[0], r[1], r[2], r[3]] for r in rows],
            fh,
            ensure_ascii=False,
            separators=(",", ":"),
        )
    print(f"wrote {len(rows)} enum rows -> {out_path}")


if __name__ == "__main__":
    main()
