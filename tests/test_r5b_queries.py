"""Round-5 second batch: bigram surprisal scoring, contamination
spans, linear attribution, weighted Bernoulli sampling, event
transitions, latest-per-key.  Planted-corpus tests pin INTENT; the
DuckDB oracle gate pins cross-engine agreement."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_doc_bigram_surprisal_planted(spark):
    from greenbuttonengine_spark.extensions.textstats import doc_bigram_surprisal

    # corpus bigrams: doc1 "a b a b" -> (a b) x2, (b a) x1
    #                 doc2 "a b"     -> (a b) x1
    # c12: (a b)=3, (b a)=1; contexts: a->3, b->1
    # surprisal(a b) = ilog2(3)-ilog2(3) = 0; (b a) = ilog2(1)-ilog2(1) = 0
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b")]
    )
    rows = {r.doc_id: r for r in doc_bigram_surprisal(docs).collect()}
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 1
    assert rows[1].sum_surprisal_bits == 0 and rows[2].sum_surprisal_bits == 0

    # now plant a rare transition: "a c" once among many "a b"
    docs2 = spark.createDataFrame(
        [Row(doc_id=i, text="a b") for i in range(7)] + [Row(doc_id=99, text="a c")]
    )
    rows2 = {r.doc_id: r for r in doc_bigram_surprisal(docs2).collect()}
    # c12(a b)=7, c12(a c)=1, ctx a=8 -> surprisal(a b)=3-2=1, (a c)=3-0=3
    assert rows2[0].sum_surprisal_bits == 1
    assert rows2[99].sum_surprisal_bits == 3


def test_contamination_spans_planted(spark):
    from greenbuttonengine_spark.extensions.decontam import contamination_spans

    # eval doc contributes 3-grams of "q w e r t y"; the train doc
    # quotes "w e r t" (positions 3..6, 0-based 2..5 -> grams at pos
    # 2,3 hit: "w e r","e r t") plus an isolated hit elsewhere.
    ev = spark.createDataFrame([Row(doc_id=100, text="q w e r t y")])
    tr = spark.createDataFrame(
        [Row(doc_id=1, text="x x w e r t x x x q w e x")]
    )
    spans = contamination_spans(tr, ev, n=3, min_grams=2).collect()
    # run of grams at pos 2 ("w e r") and 3 ("e r t") -> span_start=3
    # (1-based), span_grams=2, span_words=4.  The lone "q w e" hit at
    # pos 9 is below min_grams and must NOT appear.
    assert len(spans) == 1
    s = spans[0]
    assert (s.doc_id, s.span_start, s.span_grams, s.span_words) == (1, 3, 2, 4)


def test_attribution_linear_weights_sum_to_one(spark, sf_correct_dir):
    """Each purchase's click weights must sum to exactly 1, and every
    attributed click must precede (or tie) its purchase per the
    (ts, event_id) order."""
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = QUERIES["attribution_linear_clicks"].fn(spark, sf_correct_dir)
    rows = out.collect()
    assert rows
    by_purchase: dict[int, float] = {}
    for r in rows:
        by_purchase[r.purchase_id] = by_purchase.get(r.purchase_id, 0.0) + r.weight
    for pid, s in by_purchase.items():
        assert abs(s - 1.0) < 1e-9, (pid, s)


def test_attribution_planted_ordering(spark):
    """Clicks after the last purchase are unattributed; a click credits
    the NEXT purchase, not a prior one."""
    from greenbuttonengine_spark.plans import extra_queries
    from greenbuttonengine_spark.plans.registry import QUERIES
    import os, tempfile

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        # user 1: click(1) -> purchase(2) -> click(3) -> purchase(4) -> click(5)
        Row(event_id=i, ts=t0 + datetime.timedelta(minutes=i), user_id=1,
            event_type=t, value=1.0, props="{}")
        for i, t in [(1, "click"), (2, "purchase"), (3, "click"),
                     (4, "purchase"), (5, "click")]
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    out = {
        r.click_id: r.purchase_id
        for r in QUERIES["attribution_linear_clicks"].fn(spark, d).collect()
    }
    assert out == {1: 2, 3: 4}  # click 5 unattributed


def test_sample_weighted_monotone_and_prob(spark, sf_correct_dir):
    """Longer docs must be kept at >= the rate of shorter docs (in
    expectation via keep_prob), keep_prob in (0, 1], and membership is
    deterministic across repartitionings."""
    from greenbuttonengine_spark.extensions.sampling import sample_weighted

    docs = spark.read.parquet(f"{sf_correct_dir}/documents.parquet")
    kept = sample_weighted(docs, "n_chars", "doc_id", rate_per_max=0.5)
    rows = kept.collect()
    assert rows
    assert all(0.0 < r.keep_prob <= 0.5 + 1e-12 for r in rows)
    # determinism across partition layouts
    again = {
        r.doc_id
        for r in sample_weighted(
            docs.repartition(7), "n_chars", "doc_id", rate_per_max=0.5
        ).collect()
    }
    assert again == {r.doc_id for r in rows}
    # keep_prob proportional to weight: p = floor(w*5000/max)/10000
    mx = docs.agg({"n_chars": "max"}).first()[0]
    for r in rows:
        assert r.keep_prob == min(int(r.n_chars * 5000.0 / mx), 10000) / 10000.0


def test_event_transitions_probabilities(spark, sf_correct_dir):
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = QUERIES["user_event_transitions"].fn(spark, sf_correct_dir).collect()
    assert out
    by_from: dict[str, float] = {}
    for r in out:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
    for f, s in by_from.items():
        assert abs(s - 1.0) < 1e-9, (f, s)


def test_latest_per_key_matches_bruteforce(spark, sf_correct_dir):
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    ev = spark.read.parquet(f"{sf_correct_dir}/events.parquet")
    expect = {}
    for r in ev.collect():
        k = (r.user_id, r.event_type)
        cur = expect.get(k)
        if cur is None or (r.ts, r.event_id) > (cur.ts, cur.event_id):
            expect[k] = r
    got = QUERIES["o11_latest_per_key"].fn(spark, sf_correct_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        e = expect[(r.user_id, r.event_type)]
        assert (r.last_event_id, r.last_value) == (e.event_id, e.value)


def test_dq_report_planted_violations(spark):
    from pyspark.sql import Row

    from greenbuttonengine_spark.extensions import dq

    df = spark.createDataFrame(
        [
            Row(id=1, v=5.0, t="a"),
            Row(id=1, v=50.0, t="b"),   # dup id, v out of range
            Row(id=None, v=None, t="x"),  # null id, null v, bad type
        ]
    )
    rows = {
        r.check: r
        for r in dq.check_report(
            df,
            [
                dq.not_null("id"),
                dq.unique("id"),
                dq.in_range("v", 0.0, 10.0),
                dq.in_set("t", ("a", "b")),
                dq.min_rows(5),
            ],
        ).collect()
    }
    assert (rows["not_null(id)"].observed, rows["not_null(id)"].passed) == (1, False)
    # 2 non-null ids, 1 distinct -> 1 duplicate
    assert (rows["unique(id)"].observed, rows["unique(id)"].passed) == (1, False)
    # v=50 out of range, v=NULL counts as violation
    assert (rows["in_range(v)"].observed, rows["in_range(v)"].passed) == (2, False)
    assert (rows["in_set(t)"].observed, rows["in_set(t)"].passed) == (1, False)
    assert (rows["min_rows(5)"].observed, rows["min_rows(5)"].passed) == (3, False)


def test_dq_report_single_scan(spark, sf_correct_dir):
    """The whole suite must compile to one aggregate over one scan —
    no per-check jobs (except the countDistinct expand)."""
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = QUERIES["dq_events_expectations"].fn(spark, sf_correct_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan[:2000]
    assert all(r.passed for r in out.collect())


def test_scd2_intervals_chain(spark, sf_correct_dir):
    """Per key: intervals tile the timeline (valid_to == next
    valid_from), exactly one open (is_current) row."""
    from collections import defaultdict

    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    rows = QUERIES["scd2_user_type_intervals"].fn(spark, sf_correct_dir).collect()
    bykey = defaultdict(list)
    for r in rows:
        bykey[(r.user_id, r.event_type)].append(r)
    for key, rs in bykey.items():
        rs.sort(key=lambda r: (r.valid_from, r.event_id))
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, key


def test_session_concurrency_planted(spark):
    """Overlap, exact-touch (end == start counts as concurrent), and a
    midnight-spanning session that must appear in both days."""
    import os
    import tempfile

    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    def ev(i, u, t):
        return Row(event_id=i, ts=t, user_id=u, event_type="view",
                   value=1.0, props="{}")

    d = datetime.datetime
    rows = [
        # user 1: one session 10:00-11:00 (events bound it; gap <= 30m)
        ev(1, 1, d(2026, 1, 1, 10, 0)), ev(2, 1, d(2026, 1, 1, 10, 30)),
        ev(3, 1, d(2026, 1, 1, 11, 0)),
        # user 2: 10:45-10:50 -> overlaps user 1 (peak 2)
        ev(4, 2, d(2026, 1, 1, 10, 45)), ev(5, 2, d(2026, 1, 1, 10, 50)),
        # user 3: single event exactly at user 1's session end 11:00 ->
        # still concurrent with it (closed intervals)
        ev(6, 3, d(2026, 1, 1, 11, 0)),
        # user 4: 23:50 -> 00:10 next day (one session, <=30m gaps)
        ev(7, 4, d(2026, 1, 1, 23, 50)), ev(8, 4, d(2026, 1, 2, 0, 10)),
    ]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet")
    )
    got = {
        r.day.isoformat(): r.peak_concurrency
        for r in QUERIES["session_concurrency_daily"].fn(spark, tmp).collect()
    }
    assert got == {"2026-01-01": 2, "2026-01-02": 1}


def test_catalog_normalizes_ntz_timestamps(spark, tmp_path):
    """Parquet annotated isAdjustedToUTC=false (TIMESTAMP_NTZ) must
    load as session-UTC TimestampType so epoch-arithmetic queries
    (sessionize, as-of, concurrency) keep working — ANSI forbids
    casting NTZ to long."""
    from pyspark.sql import types as T

    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES
    from greenbuttonengine_spark.sources.catalog import load_table

    src = load_table(spark, "events", "/root/testdata/sf0.001")
    ntz = src.withColumn("ts", F.col("ts").cast(T.TimestampNTZType()))
    ntz.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    back = load_table(spark, "events", str(tmp_path))
    assert isinstance(back.schema["ts"].dataType, T.TimestampType)
    # an epoch-arithmetic query must run end-to-end on the NTZ file
    out = QUERIES["session_concurrency_daily"].fn(spark, str(tmp_path))
    assert out.count() > 0
    # wall values survive the round-trip
    assert back.agg(F.max("ts")).first()[0] == src.agg(F.max("ts")).first()[0]


def test_lsh_clusters_recall_vs_exact(spark, sf_correct_dir):
    """The LSH-fed CC (scale path) must recover >= 90% of the exact
    clusters' co-membership pairs — same recall contract as the pair
    stage, lifted to the transitive closure."""
    from collections import defaultdict

    from greenbuttonengine_spark.plans import extension_queries  # noqa: F401
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    def comember(rows):
        by_cluster = defaultdict(list)
        for r in rows:
            by_cluster[r.cluster_id].append(r.node)
        pairs = set()
        for nodes in by_cluster.values():
            nodes.sort()
            pairs.update(
                (a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]
            )
        return pairs

    exact = comember(QUERIES["dedup_clusters"].fn(spark, sf_correct_dir).collect())
    lsh = comember(QUERIES["dedup_clusters_lsh"].fn(spark, sf_correct_dir).collect())
    assert exact
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, recall


def test_wav_codec_roundtrip_and_variants():
    import numpy as np

    from greenbuttonengine_spark.extensions.multimodal import (
        decode_wav,
        encode_wav,
    )

    t = np.arange(1600)
    sig = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    samples, rate = decode_wav(encode_wav(sig, 16000))
    assert rate == 16000 and len(samples) == 1600
    assert np.allclose(samples * 32768.0, sig, atol=0.5)
    # garbage and unsupported variants must raise ValueError, not crash
    import pytest

    with pytest.raises(ValueError):
        decode_wav(b"not a wav at all" * 10)
    # float-format WAV (format code 3) rejected
    blob = bytearray(encode_wav(sig))
    blob[20] = 3
    with pytest.raises(ValueError):
        decode_wav(bytes(blob))


def test_audio_features_match_numpy(spark):
    import numpy as np

    from greenbuttonengine_spark.extensions.multimodal import (
        audio_features,
        encode_wav,
    )

    rng = np.random.RandomState(7)
    rows = []
    blobs = {}
    for i in range(4):
        sig = (rng.randn(3000 + 500 * i) * 5000).astype(np.int16)
        blobs[i] = sig
        rows.append(Row(doc_id=i, media=bytearray(encode_wav(sig, 8000))))
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in audio_features(df).collect()}
    for i, sig in blobs.items():
        s = sig.astype(np.float64) / 32768.0
        r = got[i]
        assert r.sample_rate == 8000 and r.n_samples == len(sig)
        assert abs(r.rms - np.sqrt(np.mean(s**2))) < 1e-12
        zc = np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))
        assert abs(r.zero_cross_rate - zc) < 1e-12
        assert len(r.frame_rms) == len(sig) // 400
