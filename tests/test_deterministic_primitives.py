"""Property tests (hypothesis) for the deterministic primitives the
sampling / packing / quantization operators rely on.  These run the
formulas in pure Python against arbitrary inputs; Spark-vs-DuckDB
agreement is covered by the oracle gate, and Spark-vs-formula by one
batch assertion each."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def py_hash_bucket(key: int, buckets: int = 10_000) -> int:
    mixed = (key % 2147483648) * 1103515245 + 12345
    return (mixed >> 16) % buckets


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=300, deadline=None)
def test_hash_bucket_formula_range(key):
    b = py_hash_bucket(key)
    assert 0 <= b < 10_000
    # mix stays inside non-overflowing i64 range (the DuckDB constraint)
    assert (key % 2147483648) * 1103515245 + 12345 < 2**63


def test_hash_bucket_spark_matches_formula(spark):
    from greenbuttonengine_spark.extensions.sampling import hash_bucket

    keys = list(range(0, 5000, 7)) + [2**40, 2**55, 2147483647, 2147483648]
    df = spark.createDataFrame([(k,) for k in keys], "key long")
    got = {r.key: r.b for r in df.select("key", hash_bucket(F.col("key")).alias("b")).collect()}
    for k in keys:
        assert got[k] == py_hash_bucket(k), k


def test_hash_bucket_uniformity():
    buckets = np.array([py_hash_bucket(k, 100) for k in range(100_000)])
    counts = np.bincount(buckets, minlength=100)
    # ~1000 per bucket; chi-square-ish sanity band
    assert counts.min() > 700 and counts.max() < 1300


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=32,
    ).filter(lambda v: max(abs(x) for x in v) > 1e-30)
)
@settings(max_examples=200, deadline=None)
def test_quantize_formula_bounds(vec):
    scale = max(abs(x) for x in vec) / 127.0
    q = [int(np.floor(x / scale + 0.5)) for x in vec]
    assert all(-127 <= v <= 127 for v in q)
    assert max(abs(v) for v in q) == 127
    # dequantization error bounded by half a step
    for x, v in zip(vec, q):
        assert abs(v * scale - x) <= scale / 2 + 1e-9 * abs(x)


# ---------------------------------------------------------------------------
# word n-grams: Spark expression vs pure-Python reference on one batch
# ---------------------------------------------------------------------------


def py_word_ngrams(text: str, n: int) -> list[str]:
    # mirror filter(split(text, '\s+'), w != ''): any-whitespace split,
    # empty tokens dropped
    import re

    words = [w for w in re.split(r"\s+", text) if w != ""]
    out, seen = [], set()
    for i in range(len(words) - n + 1):
        g = " ".join(words[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out if len(words) >= n else []


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n-é中"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=10, deadline=None)
def test_word_ngrams_matches_reference(spark, texts, n):
    from greenbuttonengine_spark.extensions.decontam import word_ngrams

    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    got = {
        r.i: list(r.g)
        for r in df.select("i", word_ngrams(F.col("t"), n).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_word_ngrams(t, n), (t, n, got[i])
