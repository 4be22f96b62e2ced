"""ESPI enum dictionary (P10, S7).

The reference compiles the XSD enum values into a static phf map and
decodes per row (gb_type_details.rs:8-31).  Here the dictionary is DATA
— a 454-row JSON table (built by tools/build_enum_dim.py from the
public NAESB espi.xsd, loaded by ``schemas.enum_maps``) — read once per
process and turned into literal SQL maps.  The pipeline decodes the
reading-type codes once per entry, on its entry dimension, and the
reading quality per row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .schemas import MISSING_APP_INFO, enum_maps

_DECODE_SQL_CACHE: dict[tuple[str, str, str], str] = {}


def _decode_sql(code_col: str, field: str, scope: str) -> str:
    """The literal-map decode as ONE SQL string, cached per process.

    Building the map from ~100 ``F.lit`` Column objects costs ~2 py4j
    round trips per literal (~0.5s per pipeline construction across the
    9 decode columns); a single parsed expression string is one round
    trip total, and the string survives session restarts (Columns are
    tied to a JVM gateway, strings are not)."""
    key = (code_col, field, scope)
    if key not in _DECODE_SQL_CACHE:
        mapping = enum_maps()[(scope, field)]

        def q(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        entries = ", ".join(
            f"{code}, {q(mapping[code])}" for code in sorted(mapping)
        )
        _DECODE_SQL_CACHE[key] = (
            f"coalesce(map({entries})[`{code_col}`], {q(MISSING_APP_INFO)})"
        )
    return _DECODE_SQL_CACHE[key]


def decode_enum_expr(code_col: str, field: str, scope: str = "ReadingType"):
    """Enum decode as a literal MAP lookup — the Spark analog of the
    reference's compile-time phf map (gb_type_details.rs:8-31).

    No exchange and no extra stage: it evaluates inside whole-stage
    codegen.
    Unknown / NULL codes -> 'Missing app info' (gb_type_details.rs:24-29).
    """
    return F.expr(_decode_sql(code_col, field, scope))
