"""ESPI enum dictionary (P10, S7).

The reference compiles the XSD enum values into a static phf map and
decodes per row (gb_type_details.rs:8-31).  Here the dictionary is DATA
— a 454-row JSON table (built by tools/build_enum_dim.py from the
public NAESB espi.xsd, loaded by ``schemas.enum_maps``) — read once per
process and turned into literal SQL maps.  The pipeline decodes the
reading-type codes once per entry, on its entry dimension, and the
reading quality per row, inside its one SQL statement.
"""

from __future__ import annotations

from functools import lru_cache

from .schemas import MISSING_APP_INFO, enum_maps


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@lru_cache(maxsize=None)
def decode_enum_sql(code_col: str, field: str, scope: str = "ReadingType") -> str:
    """Enum decode as a literal MAP lookup — the Spark analog of the
    reference's compile-time phf map (gb_type_details.rs:8-31) — as
    ONE SQL expression string, built once per process.

    Building the map from ~100 ``F.lit`` Column objects costs ~2 py4j
    round trips per literal; a string costs nothing until the statement
    that holds it is parsed, and it survives session restarts (Columns
    are tied to a JVM gateway, strings are not).  No exchange and no
    extra stage: it evaluates inside whole-stage codegen.
    Unknown / NULL codes -> 'Missing app info' (gb_type_details.rs:24-29).
    """
    mapping = enum_maps()[(scope, field)]
    entries = ", ".join(f"{code}, {sql_str(mapping[code])}" for code in sorted(mapping))
    return f"coalesce(map({entries})[`{code_col}`], {sql_str(MISSING_APP_INFO)})"
