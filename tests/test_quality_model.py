"""Learned quality filter: the fixed-point perceptron's agreement with
its weak teacher on planted corpora, and its per-doc features."""

from __future__ import annotations

import random
import statistics

from pyspark.sql import Row


def _corpus(rng):
    words = ["analysis", "report", "between", "window", "stream", "table",
             "value", "metric", "signal", "daily"]
    good = [Row(doc_id=i, label=1,
                text=" ".join(rng.choice(words) for _ in range(30)))
            for i in range(30)]
    bad = ([Row(doc_id=100 + i, label=0, text="!!! ### $$$ %%% ;;; ,,,, .... " * 4)
            for i in range(15)]
           + [Row(doc_id=200 + i, label=0, text="spam " * 40)
              for i in range(15)])
    return good, bad


def test_quality_features_tolerate_degenerate_docs(spark):
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions.quality_model import (
        quality_feature_cols)

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="one"),
         Row(doc_id=3, text="   ")])
    feats = quality_feature_cols(F.col("text"))
    rows = {r.doc_id: r for r in docs.select(
        "doc_id", *[c.alias(n) for n, c in feats.items()]).collect()}
    assert rows[1].mean_token_len == 0.0 and rows[1].dup_bigram_frac == 0.0
    assert rows[2].n_tokens_f == 1.0
    assert rows[3].n_tokens_f == 0.0


def test_fixed_point_quality_agrees_with_weak_teacher(spark):
    """The oracle-backed fixed-point perceptron twin must reproduce
    the weak-supervision story: agree with the Gopher teacher on the
    clear-cut planted docs, score every doc exactly once, and replay
    bit-identically across partition layouts."""
    from greenbuttonengine_spark.extensions.quality_model import (
        fixed_point_quality)

    good, bad = _corpus(random.Random(11))
    docs = spark.createDataFrame(
        [Row(doc_id=r.doc_id, text=r.text) for r in good + bad])
    out = fixed_point_quality(docs).collect()
    assert len(out) == len(good) + len(bad)
    agree = sum(1 for r in out if r.quality_keep == (r.weak_label == 1))
    assert agree / len(out) >= 0.9, agree
    # planted good docs must carry higher margins than planted spam
    sg = statistics.mean(r.quality_score for r in out if r.doc_id < 100)
    sb = statistics.mean(r.quality_score for r in out if r.doc_id >= 100)
    assert sg > sb, (sg, sb)
    replay = fixed_point_quality(docs.repartition(7)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, replay))
