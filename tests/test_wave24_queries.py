"""Wave-24 invariants: LM/retrieval evals and corpus-health operators
must agree with brute-force Python replays."""

from __future__ import annotations

import re
from collections import Counter

import pytest


def _lcg_split(doc_id: int) -> str:
    b = ((doc_id % 2147483648) * 1103515245 + 12345) // 65536 % 10000
    return "val" if b < 500 else ("test" if b < 1000 else "train")


def test_stupid_backoff_matches_bruteforce(spark, tmp_path):
    from pyspark.sql import Row

    from greenbuttonengine_spark.plans import wave24_queries as w24
    from greenbuttonengine_spark.plans.registry import QUERIES

    texts = [
        "a b c a b c a b c a b d",
        "a b c d e a b c d e",
        "x y z x y z x y",
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )
    d = str(tmp_path / "sfsb")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        (r.w1, r.w2, r.w3): r
        for r in QUERIES["lm_stupid_backoff_trigram"].fn(spark, d).collect()
    }

    tg: Counter = Counter()
    bg: Counter = Counter()
    uni: Counter = Counter()
    for t in texts:
        ws = re.split(r"\s+", t.strip().lower())
        uni.update(w for w in ws if w)
        for i in range(len(ws) - 1):
            bg[(ws[i], ws[i + 1])] += 1
        for i in range(len(ws) - 2):
            tg[(ws[i], ws[i + 1], ws[i + 2])] += 1
    # expected: top-3 per context with c12 >= 5
    want = {}
    by_ctx: dict = {}
    for (w1, w2, w3), c in tg.items():
        by_ctx.setdefault((w1, w2), []).append((w3, c))
    for (w1, w2), lst in by_ctx.items():
        if bg[(w1, w2)] < w24._SB_MIN_C12:
            continue
        lst.sort(key=lambda x: (-x[1], x[0]))
        for w3, c in lst[: w24._SB_TOPK]:
            want[(w1, w2, w3)] = c
    assert set(got) == set(want)
    for (w1, w2, w3), r in got.items():
        assert r.c123 == want[(w1, w2, w3)]
        assert r.c12 == bg[(w1, w2)]
        assert r.score == r.c123 / r.c12
        assert r.score_backoff == w24._SB_ALPHA * (bg[(w2, w3)] / uni[w2])
        # observed-trigram score should usually dominate its backoff
        assert r.score > 0


def test_ndcg_matches_replay_and_bounds(spark, sf_dir):
    from greenbuttonengine_spark.extensions.similarity import lsh_topk
    from greenbuttonengine_spark.plans import wave24_queries as w24
    from greenbuttonengine_spark.plans.registry import QUERIES
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = QUERIES["eval_retrieval_ndcg"].fn(spark, sf_dir).collect()
    assert len(rows) == 16
    emb = load_table(spark, "embeddings", sf_dir)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    lab_n = Counter(labels.values())
    lsh = lsh_topk(emb, emb.filter("vec_id < 16"), k=w24._NDCG_K, planes=4)
    ranked: dict[int, list] = {}
    for r in lsh.collect():
        ranked.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for r in rows:
        n_rel = lab_n[labels[r.query_id]] - 1
        assert r.n_rel == n_rel
        dcg = sum(
            w24._NDCG_W[rank - 1]
            for rank, nid in ranked.get(r.query_id, [])
            if labels[nid] == labels[r.query_id]
        )
        idcg = w24._NDCG_PREFIX[min(n_rel, w24._NDCG_K)]
        assert r.dcg_scaled == dcg
        assert r.idcg_scaled == idcg
        assert r.ndcg_at_10 == (0.0 if n_rel == 0 else dcg / idcg)
        assert 0.0 <= r.ndcg_at_10 <= 1.0


def test_diversity_indices_match_bruteforce(spark, sf_dir):
    from greenbuttonengine_spark.plans.registry import QUERIES
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = QUERIES["corpus_diversity_indices"].fn(spark, sf_dir).collect()
    docs = load_table(spark, "documents", sf_dir).select(
        "lang", "source", "n_chars", "text").collect()
    per_lang: dict[str, Counter] = {}
    chars: dict[str, Counter] = {}
    for d in docs:
        toks = [w for w in re.split(r"\s+", d.text.strip().lower()) if w]
        per_lang.setdefault(d.lang, Counter()).update(toks)
        chars.setdefault(d.lang, Counter())[d.source] += d.n_chars
    assert {r.lang for r in rows} == set(per_lang)
    for r in rows:
        tc = per_lang[r.lang]
        n = sum(tc.values())
        assert r.n_tokens == n
        assert r.vocab_size == len(tc)
        assert r.ttr == len(tc) / n
        simpson_num = sum(c * (c - 1) for c in tc.values())
        assert r.simpson_repeat == simpson_num / (float(n) * float(n - 1))
        top = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        assert r.top100_share == sum(c for _, c in top) / n
        cl = sum(chars[r.lang].values())
        h_num = sum(c * c for c in chars[r.lang].values())
        assert r.src_herfindahl == h_num / (float(cl) * float(cl))
        # sanity: indices live in their ranges
        assert 0 < r.ttr <= 1 and 0 <= r.simpson_repeat <= 1
        assert 1.0 / len(chars[r.lang]) <= r.src_herfindahl <= 1.0


def test_split_leakage_matches_candidates(spark, sf_dir):
    from greenbuttonengine_spark.extensions import dedup
    from greenbuttonengine_spark.plans.wave24_queries import eval_split_leakage
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = eval_split_leakage(spark, sf_dir).collect()
    cand = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.0, seeded=True
    ).select("id_a", "id_b").collect()
    want: dict[tuple, list] = {}
    for p in cand:
        sa, sb = _lcg_split(p.id_a), _lcg_split(p.id_b)
        if sa != sb:
            want.setdefault((sa, sb), []).append((p.id_a, p.id_b))
    got = {(r.split_a, r.split_b): r for r in rows}
    assert set(got) == set(want)
    for k, pairs in want.items():
        r = got[k]
        assert r.n_pairs == len(pairs)
        assert r.n_docs_a == len({a for a, _ in pairs})
        assert r.n_docs_b == len({b for _, b in pairs})
        # leakage rows never pair a split with itself
        assert r.split_a != r.split_b


def test_ohlc_matches_pandas_replay(spark, sf_dir):
    from greenbuttonengine_spark.plans.registry import QUERIES
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = QUERIES["ts3_ohlc_daily"].fn(spark, sf_dir).collect()
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "ts", "event_id", "value").collect()
    groups: dict[tuple, list] = {}
    for e in ev:
        day = e.ts.replace(hour=0, minute=0, second=0, microsecond=0)
        groups.setdefault((e.event_type, day), []).append(
            (e.ts, e.event_id, e.value))
    assert len(rows) == len(groups)
    for r in rows:
        g = sorted(groups[(r.event_type, r.day)])
        assert r.open == g[0][2]
        assert r.close == g[-1][2]
        assert r.high == max(v for _, _, v in g)
        assert r.low == min(v for _, _, v in g)
        assert r.n_events == len(g)
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high
