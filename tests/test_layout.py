"""Z-order layout keys: Python-reference bit parity and the locality
property that justifies the layout (bounded per-chunk boxes on BOTH
key columns)."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F


def py_morton(vals, bits=21):
    out = 0
    k = len(vals)
    for i, v in enumerate(vals):
        v = max(0, min(v, (1 << bits) - 1))
        for j in range(bits):
            out |= ((v >> j) & 1) << (j * k + i)
    return out


def test_morton_matches_python_reference(spark):
    from greenbuttonengine_spark.extensions.layout import morton_code

    rng = random.Random(3)
    vals = ([(0, 0), (1, 0), (0, 1), ((1 << 21) - 1, (1 << 21) - 1),
             (5, 2**40), (-7, 3)]  # clamping cases included
            + [(rng.randrange(1 << 21), rng.randrange(1 << 21))
               for _ in range(200)])
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in vals])
    got = {(r.a, r.b): r.z for r in df.select(
        "a", "b", morton_code([F.col("a"), F.col("b")]).alias("z")).collect()}
    for a, b in vals:
        assert got[(a, b)] == py_morton([a, b]), (a, b)


def test_morton_three_columns(spark):
    from greenbuttonengine_spark.extensions.layout import morton_code

    df = spark.createDataFrame([Row(a=3, b=5, c=6)])
    z = df.select(morton_code(
        [F.col("a"), F.col("b"), F.col("c")]).alias("z")).collect()[0].z
    assert z == py_morton([3, 5, 6])


def test_morton_rejects_overflowing_width(spark):
    import pytest

    from greenbuttonengine_spark.extensions.layout import morton_code

    with pytest.raises(ValueError):
        morton_code([F.lit(1)] * 4, bits=21)  # 84 bits > signed long


def test_zorder_prunes_on_either_column(spark):
    """The property the layout buys: with files/chunks laid out in
    Z-order, min/max pruning skips chunks for range filters on EITHER
    key column; a single-column sort prunes on the lead column only
    (every chunk spans the full range of the other).  Metric is the
    mean number of chunk bounding boxes a narrow range filter
    intersects — exactly what file-level min/max statistics decide.
    (Worst-CASE box area is deliberately not asserted: an unaligned
    Z-curve segment crossing the top-level quadrant boundary
    legitimately spans the space; pruning is about the average.)"""
    from greenbuttonengine_spark.extensions.layout import morton_code

    rng = random.Random(9)
    n, chunk, width = 4096, 256, 256
    rows = [Row(a=rng.randrange(1 << 12), b=rng.randrange(1 << 12))
            for _ in range(n)]
    df = spark.createDataFrame(rows).withColumn(
        "zorder_key", morton_code([F.col("a"), F.col("b")], bits=12))

    def chunk_boxes(order_col):
        data = [(r.a, r.b) for r in df.orderBy(order_col).collect()]
        boxes = []
        for i in range(0, n, chunk):
            c = data[i:i + chunk]
            aa = [x for x, _ in c]; bb = [y for _, y in c]
            boxes.append((min(aa), max(aa), min(bb), max(bb)))
        return boxes

    def mean_hits(boxes, dim):
        total = 0
        queries = [(q, q + width - 1)
                   for q in (rng.randrange((1 << 12) - width)
                             for _ in range(64))]
        for q0, q1 in queries:
            for lo, hi, blo, bhi in boxes:
                lo, hi = (lo, hi) if dim == 0 else (blo, bhi)
                if hi >= q0 and lo <= q1:
                    total += 1
        return total / len(queries)

    zb, ab = chunk_boxes("zorder_key"), chunk_boxes("a")
    n_chunks = n // chunk
    # single-column sort: perfect pruning on a, NONE on b
    assert mean_hits(ab, 1) == n_chunks
    # Z-order: real pruning on BOTH columns
    z_a, z_b = mean_hits(zb, 0), mean_hits(zb, 1)
    assert z_a <= 0.7 * n_chunks, z_a
    assert z_b <= 0.7 * n_chunks, z_b
