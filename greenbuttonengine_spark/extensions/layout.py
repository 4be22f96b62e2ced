"""Z-order (Morton) layout keys: multi-dimensional data skipping for
the 100 TB lake (the technique behind Delta Lake's OPTIMIZE ZORDER
and Hudi/Iceberg sort-order clustering).

Sorting a table by ONE column gives tight per-file min/max ranges for
that column only; queries filtering a second column read everything.
Interleaving the bit representations of k columns (the Morton / Z
curve) gives every file a small bounding BOX in k-dim key space, so
min/max pruning works for filters on ANY prefix-free subset of the
key columns — the standard layout move before handing a fact table to
selective readers.

Everything here is pure Catalyst bit arithmetic (shifts, masks, ORs)
— whole-stage-codegen'd, no UDF, and bit-identical in DuckDB (the
``ops_zorder_key`` oracle mirrors the same shifts), so the key is
portable across writers.

Usage at scale::

    keyed = df.withColumn(
        "zorder_key", morton_code([F.col("user_id"), F.col("bucket")]))
    keyed.repartitionByRange(N, "zorder_key").sortWithinPartitions(
        "zorder_key").write.parquet(...)

``repartitionByRange`` on the key is one range shuffle; every output
file then covers a compact Z-curve segment = a small bounding box on
the key columns, and parquet row-group min/max statistics prune on
either column.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def _spread_bits(col: Column, bits: int, stride: int, offset: int) -> Column:
    """Place bit j of ``col`` at output position j*stride + offset.
    Plain shift/mask/OR terms — Catalyst folds them into one codegen
    expression; no loops at runtime."""
    terms = [
        F.shiftleft(
            F.shiftright(col, j).bitwiseAND(F.lit(1)), j * stride + offset
        )
        for j in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def morton_code(cols: list[Column], bits: int = 21) -> Column:
    """Interleave the low ``bits`` bits of k non-negative integer
    columns into one BIGINT Z-order key (k * bits <= 63 so the key
    stays in a signed long; 2 cols x 21 bits and 3 x 21 both fit).
    Values are clamped to the representable range first — a clamped
    outlier sorts to the curve's edge instead of corrupting the
    interleave."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed long")
    cap = (1 << bits) - 1
    clamped = [
        F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit(cap)) for c in cols
    ]
    spread = [_spread_bits(c, bits, k, i) for i, c in enumerate(clamped)]
    return reduce(lambda a, b: a.bitwiseOR(b), spread)
