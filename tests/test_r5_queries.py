"""Round-5 operators: unigram surprisal, calendar gap fill, time-range
moving average, per-stratum token budget, MAD anomalies.  Each test
plants a corpus where the expected output is hand-computable, so these
complement the DuckDB oracle (which checks engine agreement, not
intent)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_unigram_surprisal_planted(spark):
    from greenbuttonengine_spark.extensions.textstats import unigram_surprisal

    # corpus: "a a a a b" + "b c" -> N=7 tokens, cf: a=4, b=2, c=1
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a a a b"), Row(doc_id=2, text="b c")]
    )
    rows = {r.doc_id: r for r in unigram_surprisal(docs).collect()}
    # ilog2(7)=2; surprisal a: 2-2=0, b: 2-1=1, c: 2-0=2
    assert rows[1].n_tokens == 5
    assert rows[1].sum_surprisal_bits == 0 * 4 + 1  # four a's + one b
    assert rows[2].sum_surprisal_bits == 1 + 2  # b + c
    assert rows[2].mean_surprisal_bits == 1.5


def test_gap_fill_daily_planted(spark, tmp_path):
    """Drives the REGISTERED query (not a local re-implementation):
    user 1 has events on day 1 and day 4 -> days 2 and 3 must appear
    zero-filled; user 2's single-day series stays one row."""
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    ev = spark.createDataFrame(
        [
            Row(event_id=i, ts=ts, user_id=u, event_type="t", value=1.0,
                props="{}")
            for i, (u, ts) in enumerate(
                [
                    (1, datetime.datetime(2024, 1, 1, 10)),
                    (1, datetime.datetime(2024, 1, 4, 9)),
                    (1, datetime.datetime(2024, 1, 4, 11)),
                    (2, datetime.datetime(2024, 3, 5, 0)),
                ]
            )
        ]
    )
    d = str(tmp_path / "sfgap")
    ev.write.parquet(f"{d}/events.parquet")
    out = QUERIES["ts1_gap_fill_daily"].fn(spark, d).collect()
    got = {(r.user_id, str(r.day)): r.n_events for r in out}
    assert got == {
        (1, "2024-01-01"): 1,
        (1, "2024-01-02"): 0,
        (1, "2024-01-03"): 0,
        (1, "2024-01-04"): 2,
        (2, "2024-03-05"): 1,
    }


def test_moving_avg_range_frame_includes_ties(spark, sf_correct_dir):
    """RANGE frame ties: simultaneous events must share one frame —
    and the declared query must agree with a brute-force recompute."""
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = QUERIES["w5_moving_avg_time_range"].fn(spark, sf_correct_dir)
    sample = out.orderBy("user_id", "event_id").limit(200).collect()
    assert all(r.n_win >= 1 for r in sample)
    assert all(abs(r.avg_cents - r.sum_cents / r.n_win) < 1e-9 for r in sample)
    # brute-force one user
    ev = (
        spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        .filter(F.col("user_id") == sample[0].user_id)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("sec"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    by_id = {r.event_id: r for r in ev}
    for r in (x for x in sample if x.user_id == sample[0].user_id):
        me = by_id[r.event_id]
        frame = [e.cents for e in ev if me.sec - 3600 <= e.sec <= me.sec]
        assert r.n_win == len(frame) and r.sum_cents == sum(frame)


def test_token_budget_prefix_semantics(spark):
    from greenbuttonengine_spark.extensions.sampling import sample_token_budget

    docs = spark.createDataFrame(
        [
            # lang a, ordered by n_chars desc: d1(60 tok), d2(30), d3(20)
            Row(doc_id=1, lang="a", n_chars=600, n_tokens=60),
            Row(doc_id=2, lang="a", n_chars=300, n_tokens=30),
            Row(doc_id=3, lang="a", n_chars=200, n_tokens=20),
            Row(doc_id=4, lang="b", n_chars=10, n_tokens=1000),
        ]
    )
    kept = sample_token_budget(docs, "lang", "n_chars", "n_tokens", budget=95)
    ids = sorted(r.doc_id for r in kept.collect())
    # prefix: 60, 90 fit; 110 exceeds -> d3 dropped even though 20 alone
    # would fit a back-fill (prefix semantics, not FFD). lang b's first
    # doc overflows alone -> nothing kept.
    assert ids == [1, 2]


def test_mad_anomaly_planted(spark, tmp_path):
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    ev = spark.createDataFrame(
        [
            Row(event_id=i, ts=datetime.datetime(2024, 1, 1), user_id=1,
                event_type="t", value=float(v), props="{}")
            for i, v in enumerate([10, 10, 10, 11, 9, 10, 10, 500])
        ]
    )
    d = str(tmp_path / "sfx")
    ev.write.parquet(f"{d}/events.parquet")
    out = QUERIES["anomaly_mad_events"].fn(spark, d).collect()
    # med=1000 cents, MAD=median(|dev|)=0? devs: 0x5,100,100,49000 ->
    # sorted abs devs [0,0,0,0,0,100,100,49000], median=(0+0)/2=0 ->
    # zero-MAD stratum filtered, no rows (mirrors zscore zero-variance)
    assert out == []
    ev2 = spark.createDataFrame(
        [
            Row(event_id=i, ts=datetime.datetime(2024, 1, 1), user_id=1,
                event_type="t", value=float(v), props="{}")
            for i, v in enumerate([10, 12, 9, 11, 8, 13, 10.5, 500])
        ]
    )
    d2 = str(tmp_path / "sfy")
    ev2.write.parquet(f"{d2}/events.parquet")
    out2 = QUERIES["anomaly_mad_events"].fn(spark, d2).collect()
    assert [r.event_id for r in out2] == [7]  # only the planted outlier


def test_corr_exact_moments_matches_numpy(spark, sf_correct_dir):
    import numpy as np

    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = {r.event_type: r for r in QUERIES["stats_corr_events"].fn(
        spark, sf_correct_dir).collect()}
    pdf = (
        spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        .select("event_type", "value", "ts")
        .toPandas()
    )
    for etype, grp in pdf.groupby("event_type"):
        x = np.round(grp["value"].to_numpy() * 100)
        y = grp["ts"].dt.hour.to_numpy().astype(float)
        if x.std() == 0 or y.std() == 0:
            assert etype not in out
            continue
        expect = np.corrcoef(x, y)[0, 1]
        assert abs(out[etype].corr_value_hour - expect) < 1e-9


def test_cumulative_users_monotone_and_total(spark, sf_correct_dir):
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["cumulative_distinct_users"].fn(spark, sf_correct_dir).collect(),
        key=lambda r: r.day,
    )
    assert rows[-1].total_users == (
        spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    running = 0
    for r in rows:
        running += r.new_users
        assert r.total_users == running


def test_blocked_fuzzy_pairs_planted(spark):
    from greenbuttonengine_spark.extensions.dedup import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [Row(name=n) for n in
         ["red bolt", "red bolt", "red bolt", "ted bolt",   # dist 1, same len
          "red   bolt",                                      # longer: other block
          "blue gear", "blue gearx"]]                        # dist 1 but len differs
    )
    pairs = blocked_fuzzy_pairs(df, "name", max_dist=2).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.name_a, p.name_b, p.distance) == ("red bolt", "ted bolt", 1)
    assert (p.n_a, p.n_b) == (3, 1)  # exact dups collapsed, weight kept


def test_feature_bins_equal_frequency(spark, sf_correct_dir):
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    out = QUERIES["feature_bin_quantile"].fn(spark, sf_correct_dir)
    counts = (
        out.groupBy("l_returnflag", "qty_bin").count()
        .orderBy("l_returnflag", "qty_bin").collect()
    )
    # every group has all 4 bins and they are roughly equal-frequency
    # (exact equality impossible with heavily tied integer quantities)
    by_flag = {}
    for r in counts:
        by_flag.setdefault(r.l_returnflag, {})[r.qty_bin] = r["count"]
    for flag, bins in by_flag.items():
        assert set(bins) == {0, 1, 2, 3}, (flag, bins)
        tot = sum(bins.values())
        for b, n in bins.items():
            assert 0.15 < n / tot < 0.35, (flag, b, n / tot)


def test_rolling_7d_matches_bruteforce(spark, sf_correct_dir):
    import datetime

    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    got = {
        r.day: r.active_7d
        for r in QUERIES["rolling_7d_active_users"].fn(spark, sf_correct_dir).collect()
    }
    ud = (
        spark.read.parquet(f"{sf_correct_dir}/events.parquet")
        .select("user_id", F.to_date("ts").alias("day")).distinct().collect()
    )
    days = sorted({r.day for r in ud})
    span = [days[0] + datetime.timedelta(days=i)
            for i in range((days[-1] - days[0]).days + 1)]
    for target in span:
        expect = len({
            r.user_id for r in ud
            if target - datetime.timedelta(days=6) <= r.day <= target
        })
        assert got[target] == expect, target


def test_gap_fill_null_series_key(spark, tmp_path):
    """A NULL-keyed series (unattributed events) keeps its own counts —
    a plain equi-join would silently zero every day of that series."""
    import datetime as dt

    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=dt.datetime(2024, 1, 1), user_id=None,
                event_type="t", value=1.0, props="{}"),
            Row(event_id=2, ts=dt.datetime(2024, 1, 3), user_id=None,
                event_type="t", value=1.0, props="{}"),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sfnull")
    ev.write.parquet(f"{d}/events.parquet")
    rows = sorted(
        QUERIES["ts1_gap_fill_daily"].fn(spark, d).collect(), key=lambda r: r.day
    )
    assert [r.n_events for r in rows] == [1, 0, 1]
    assert all(r.user_id is None for r in rows)


def test_pagerank_matches_numpy_power_iteration(spark):
    """The fixed-point form tracks a float power iteration with uniform
    teleport to within its truncation bias (~ iters * outdeg * 2^-40)."""
    import numpy as np

    from greenbuttonengine_spark.extensions.graph import pagerank_scaled

    # 5 dangling-free nodes; 0 is a hub
    E = [(0, 1), (0, 2), (1, 0), (2, 0), (3, 0), (3, 4), (1, 4), (4, 3)]
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in E])
    got = {r.node: r.rank for r in pagerank_scaled(edges, iters=20).collect()}

    n, d = 5, 0.85
    out = {}
    for a, _ in E:
        out[a] = out.get(a, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        nxt = np.full(n, (1 - d) / n)
        for a, b in E:
            nxt[b] += d * r[a] / out[a]
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9  # rank mass conserved
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    # the hub outranks the leaves
    assert got[0] == max(got.values())


def test_pagerank_scaled_matches_integer_replay(spark):
    """The fixed-point declared form replays a pure-Python integer
    power iteration EXACTLY and refuses dangling graphs."""
    import pytest as _pytest

    from greenbuttonengine_spark.extensions.graph import PR_SCALE, pagerank_scaled

    # dangling-free 5-node graph (every node has out-edges)
    E = [(0, 1), (0, 2), (1, 0), (2, 0), (3, 0), (3, 4), (1, 4), (4, 3)]
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in E])
    got = {r.node: (r.rank_scaled, r.rank)
           for r in pagerank_scaled(edges, iters=10).collect()}

    n, q = 5, PR_SCALE
    out: dict[int, int] = {}
    for a, _ in E:
        out[a] = out.get(a, 0) + 1
    r = {v: q // n for v in range(n)}
    base = (3 * q) // (20 * n)
    for _ in range(10):
        m = {v: 0 for v in range(n)}
        for a, b in E:
            m[b] += r[a] // out[a]
        r = {v: base + (17 * m[v]) // 20 for v in range(n)}
    for v in range(n):
        assert got[v][0] == r[v], (v, got[v][0], r[v])
        assert got[v][1] == r[v] / q

    # dangling node 5 (in-edges only) must be rejected
    bad = spark.createDataFrame([Row(src=a, dst=b) for a, b in E + [(0, 5)]])
    with _pytest.raises(ValueError, match="dangling"):
        pagerank_scaled(bad, iters=2)


def test_gopher_flags_planted(spark):
    from greenbuttonengine_spark.extensions.textstats import gopher_flags

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a perfectly normal sentence with enough words"),
            Row(doc_id=2, text="too short"),                      # word count
            Row(doc_id=3, text="#### @@@@ %%%% &&&& !!!! ****"),  # symbols+alpha
            Row(doc_id=4, text="honorificabilitudinitatibus " * 10),  # word len
        ]
    )
    got = {r.doc_id: r for r in gopher_flags(docs).collect()}
    assert got[1].keep
    assert not got[2].ok_word_count and not got[2].keep
    assert not got[3].ok_alpha_words and not got[3].keep
    assert not got[4].ok_word_len and not got[4].keep


def test_ttr_hapax_planted(spark):
    from greenbuttonengine_spark.extensions.textstats import ttr_hapax

    docs = spark.createDataFrame([Row(doc_id=1, text="a b a c a b d")])
    r = ttr_hapax(docs).collect()[0]
    # tokens: a x3, b x2, c, d -> 7 tokens, 4 types, hapax {c, d}
    assert (r.n_tokens, r.n_types, r.n_hapax) == (7, 4, 2)
    assert r.ttr == 4 / 7 and r.hapax_frac == 0.5


def test_phrase_positions_planted(spark, tmp_path):
    from greenbuttonengine_spark.plans import extension_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the data is the data", lang="en", source="s",
                n_chars=20),
            Row(doc_id=2, text="data the backwards", lang="en", source="s",
                n_chars=18),
        ]
    )
    d = str(tmp_path / "sfp")
    docs.write.parquet(f"{d}/documents.parquet")
    rows = sorted(
        QUERIES["search_phrase_positions"].fn(spark, d).collect(),
        key=lambda r: (r.doc_id, r.pos),
    )
    assert [(r.doc_id, r.pos) for r in rows] == [(1, 0), (1, 3)]


def test_pagerank_empty_graph(spark):
    from greenbuttonengine_spark.extensions.graph import pagerank_scaled

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank_scaled(edges, iters=3).collect() == []


def test_bigram_lm_planted(spark, tmp_path):
    from greenbuttonengine_spark.plans import extension_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    # "a b" x6 and "a c" x2 within docs; threshold c12 >= 5 keeps (a,b)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a b a b a b x", lang="en", source="s", n_chars=13)
         for i in range(2)]
        + [Row(doc_id=10, text="a c a c", lang="en", source="s", n_chars=7)]
    )
    d = str(tmp_path / "sflm")
    docs.write.parquet(f"{d}/documents.parquet")
    rows = {(r.w1, r.w2): r for r in QUERIES["lm_bigram_probs"].fn(spark, d).collect()}
    assert ("a", "b") in rows
    r = rows[("a", "b")]
    # contexts of 'a': b x6, c x2 -> P(b|a) = 6/8
    assert r.c12 == 6 and r.p == 0.75
    assert ("a", "c") not in rows  # below min count


def test_asof_tolerance_keeps_unattributed(spark, tmp_path):
    import datetime as dt

    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=base - dt.timedelta(minutes=30), user_id=1,
                event_type="click", value=0.0, props="{}"),
            Row(event_id=2, ts=base - dt.timedelta(minutes=5), user_id=1,
                event_type="click", value=0.0, props="{}"),
            Row(event_id=3, ts=base, user_id=1,
                event_type="purchase", value=9.0, props="{}"),
            # user 2: only a stale click, outside the 1h window
            Row(event_id=4, ts=base - dt.timedelta(hours=3), user_id=2,
                event_type="click", value=0.0, props="{}"),
            Row(event_id=5, ts=base, user_id=2,
                event_type="purchase", value=9.0, props="{}"),
        ]
    )
    d = str(tmp_path / "sfasof")
    ev.write.parquet(f"{d}/events.parquet")
    got = {r.purchase_id: r for r in
           QUERIES["asof2_tolerance_join"].fn(spark, d).collect()}
    assert got[3].attributed_click_id == 2  # nearest in-window click wins
    assert got[5].attributed_click_id is None  # stale click NOT attributed


def test_profile_single_pass_and_planted_nulls(spark, tmp_path):
    import datetime as dt

    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=dt.datetime(2024, 1, 1), user_id=1,
                event_type="a", value=1.0, props="{}"),
            Row(event_id=2, ts=dt.datetime(2024, 1, 2), user_id=None,
                event_type="a", value=None, props="{}"),
            Row(event_id=3, ts=dt.datetime(2024, 1, 3), user_id=1,
                event_type="b", value=1.0, props="{}"),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sfprof")
    ev.write.parquet(f"{d}/events.parquet")
    got = {r.col_name: r for r in
           QUERIES["profile_events_columns"].fn(spark, d).collect()}
    assert got["user_id"].n_null == 1 and got["user_id"].n_distinct == 1
    assert got["value"].n_null == 1 and got["value"].n_distinct == 1
    assert got["event_type"].n_distinct == 2
    assert all(r.n_rows == 3 for r in got.values())
    # single scan: the plan must contain exactly one parquet read
    plan = QUERIES["profile_events_columns"].fn(spark, d)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:1500]
