"""Output checks: order-independent, float32-exact digests of TimeSeries rows.

A row's key spells every one of the 15 TimeSeries columns, floats by
their float32 bit pattern (NaN as one token), so two engines agree only
when every cell agrees bit for bit.  The digest is the row count plus
the sum, mod 2**64, of each key's SHA-1 prefix: row order does not
matter, duplicates do.
"""

from __future__ import annotations

import csv
import hashlib
import io
import math
import struct

COLUMNS = (
    "title", "cost", "quality", "value", "tou", "time_period_start_unix",
    "time_period_duration_seconds", "accumulation_behaviour", "commodity",
    "currency", "data_qualifier", "flow_direction", "kind", "phase", "uom",
)
_FLOATS = {1, 3}
_INTS = {4, 5, 6}


def _cell(i: int, v) -> bytes:
    if i in _FLOATS:
        f = float(v)
        return b"nan" if math.isnan(f) else struct.pack("<f", f)
    if i in _INTS:
        return str(int(v)).encode()
    return str(v).encode()


def digest_tuples(rows) -> tuple[int, str]:
    """rows: iterable of 15-tuples in COLUMNS order, start in epoch s."""
    n, acc = 0, 0
    for row in rows:
        key = b"\x1f".join(_cell(i, v) for i, v in enumerate(row))
        acc = (acc + int.from_bytes(hashlib.sha1(key).digest()[:8], "little")) % 2**64
        n += 1
    return n, f"{acc:016x}"


def digest_dicts(rows: list[dict]) -> tuple[int, str]:
    return digest_tuples(tuple(r[c] for c in COLUMNS) for r in rows)


def digest_parquet(path: str) -> tuple[int, str]:
    """Digest of a parquet file or directory written by either engine."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet").to_table()
    cols = []
    for c in COLUMNS:
        col = table.column(c)
        if c == "time_period_start_unix":  # millis or micros -> epoch s
            col = col.cast(pa.timestamp("s")).cast(pa.int64())
        cols.append(col.to_pylist())
    return digest_tuples(zip(*cols))


def digest_csv(text: str) -> tuple[int, str]:
    """Digest of the CLI's CSV output (header row, then COLUMNS order)."""
    reader = csv.reader(io.StringIO(text))
    header = next(reader)
    if tuple(header) != COLUMNS:
        raise ValueError(f"unexpected CSV header {header}")
    return digest_tuples(reader)


def expected_file(path: str) -> tuple[list[str], int, str]:
    """Reference output of one file: (errors, row count, digest) from the
    driver-only converter ``espi.fastpath.convert_file``."""
    from greenbuttonengine_spark.espi import fastpath

    rows, errors = fastpath.convert_file(path)
    return (errors, *digest_dicts(rows))


def combine(digests) -> tuple[int, str]:
    """Digest of the union of row sets, from their (count, digest) pairs."""
    n, acc = 0, 0
    for cnt, hexd in digests:
        n += cnt
        acc = (acc + int(hexd, 16)) % 2**64
    return n, f"{acc:016x}"


if __name__ == "__main__":
    # python3 perfbench/checks.py FILE... (from the checkout root): prints
    # the JSON list of expected_file(FILE) for each FILE
    import json
    import os
    import sys

    sys.path.insert(0, os.getcwd())
    print(json.dumps([expected_file(p) for p in sys.argv[1:]]))
