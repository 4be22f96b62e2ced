"""Round-11 additions: batch-parity oracle row for the streaming
interval join, trained-PQ residual encoding, CLI fast path."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_attribution_interval_join_replays_static_join(spark, sf_dir):
    """The declared batch form (which calls the PRODUCTION streaming
    function on batch frames) equals an independently-built static
    time-range join, row for row, with exact delay accounting."""
    from greenbuttonengine_spark.plans.wave20_queries import (
        attribution_interval_join)
    from greenbuttonengine_spark.sources.catalog import load_table

    got = {
        (r.key, r.l_id, r.r_id, r.delay_sec)
        for r in attribution_interval_join(spark, sf_dir).collect()
    }

    ev = load_table(spark, "events", sf_dir)
    imps = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id k", "event_id i_id", "ts i_ts")
    convs = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id ck", "event_id c_id", "ts c_ts")
    want = {
        (r.k, r.i_id, r.c_id,
         (r.c_ts - r.i_ts).total_seconds())
        for r in imps.join(
            convs,
            (imps.k == convs.ck)
            & (convs.c_ts >= imps.i_ts)
            & (convs.c_ts <= F.expr("i_ts + INTERVAL 60 minutes")),
        ).collect()
    }
    assert want, "corpus has no view->purchase pairs within the window"
    assert got == want
    assert all(0 <= d <= 3600 for *_, d in got)


def test_bpe_tokenize_stats_degenerate_lang_parity(spark):
    """A lang whose docs ALL tokenize to zero tokens (empty /
    whitespace-only text) must produce IDENTICAL rows on both engines:
    total_tokens 0 (not NULL), chars_per_token NULL (not NaN/inf) —
    the r10 ADVICE degenerate case."""
    import duckdb
    import math
    import pandas as pd

    from greenbuttonengine_spark.extensions.bpe import (
        bpe_tokenize_stats_oracle_sql, bpe_train)
    from tests.test_bpe import bpe_tokenize
    from pyspark.sql import functions as F

    rows = [
        (0, "aa bb aa bb", "en", 11),
        (1, "aa aa bb", "en", 8),
        (2, "", "zz", 0),          # degenerate lang: no tokens at all
        (3, "   ", "zz", 3),       # whitespace-only still has chars
    ]
    cols = ["doc_id", "text", "lang", "n_chars"]
    sdf = spark.createDataFrame(rows, "doc_id long, text string, "
                                      "lang string, n_chars long")
    merges, _ = bpe_train(sdf, n_merges=4)
    toks = bpe_tokenize(sdf, merges)
    got = {
        r.lang: (r.n_docs, r.total_tokens, r.chars_per_token)
        for r in sdf.select("doc_id", "lang", "n_chars")
        .join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.when(
                F.sum("n_tokens") > 0,
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double"),
            ).alias("chars_per_token"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=cols))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            bpe_tokenize_stats_oracle_sql(n_merges=4)).fetchall()
    }
    assert set(got) == {"en", "zz"}
    assert got["zz"] == (2, 0, None), got["zz"]
    for lang in got:
        g, w = got[lang], want[lang]
        assert g[:2] == w[:2], (lang, g, w)
        if g[2] is None or w[2] is None:
            assert g[2] == w[2], (lang, g, w)
        else:
            assert not math.isnan(g[2]) and g[2] == w[2], (lang, g, w)


def _cli(argv):
    from greenbuttonengine_spark.cli import main
    return main(argv)


def test_cli_fastpath_value_parity_with_spark(spark, tmp_path, egd_feed):
    """The driver-side fast path (espi/fastpath.py, no Spark job) must
    write byte-identical CSV and influx output and value-identical
    parquet vs the Spark engine, across: an EGD-shaped daily gas export
    (US DST rules, readings straddling both window edges), the enova
    provider (cost
    x100 patch + NaN sentinel + cost gate), the hydro shape (two
    IntervalBlocks, quality 0, tou 2, empty cost -> 0.0), and a
    synthetic feed with the Green Button Alliance DST rules."""
    import math

    import duckdb

    from tests.test_espi_synthetic_golden import (
        ENOVA_SERIES, HYDRO_SERIES, TZ_ENOVA, TZ_HYDRO, make_feed)

    files = {"egd": egd_feed(tmp_path)}
    (tmp_path / "enova.xml").write_text(
        make_feed("api.enova.example", TZ_ENOVA, ENOVA_SERIES))
    files["enova"] = str(tmp_path / "enova.xml")
    (tmp_path / "hydro.xml").write_text(
        make_feed("api.hydroex.example", TZ_HYDRO, HYDRO_SERIES))
    files["hydro"] = str(tmp_path / "hydro.xml")
    # GBA example rules: 360E2000 (2nd Sun Mar 02:00) / B40E3000
    # (1st Sun Nov 02:00); summer reading inside the window, winter out
    dst_feed = make_feed("api.dst.example", -18000, [dict(
        HYDRO_SERIES[0],
        blocks=[[r for r in HYDRO_SERIES[0]["blocks"][0]]],
    )]).replace(
        "<espi:dstEndRule>FFFFFFFF", "<espi:dstEndRule>B40E3000"
    ).replace(
        "<espi:dstStartRule>FFFFFFFF", "<espi:dstStartRule>360E2000"
    )
    (tmp_path / "dst.xml").write_text(dst_feed)
    files["dst"] = str(tmp_path / "dst.xml")

    con = duckdb.connect()
    for name, path in files.items():
        for ft, ext in (("csv", "csv"), ("influxdb", "txt")):
            a = tmp_path / f"{name}_spark.{ext}"
            b = tmp_path / f"{name}_fast.{ext}"
            assert _cli(["--engine", "spark", "--filetype", ft, "--sort",
                         "--out", str(a), path]) == 0
            assert _cli(["--engine", "local", "--filetype", ft, "--sort",
                         "--out", str(b), path]) == 0
            sa, sb = a.read_text(), b.read_text()
            if ft == "influxdb":  # row order is engine-dependent
                sa = "\n".join(sorted(sa.splitlines()))
                sb = "\n".join(sorted(sb.splitlines()))
            assert sa == sb, (name, ft)
        pa_, pb = tmp_path / f"{name}_s.parquet", tmp_path / f"{name}_f.parquet"
        assert _cli(["--engine", "spark", "--filetype", "parquet",
                     "--out", str(pa_), path]) == 0
        assert _cli(["--engine", "local", "--filetype", "parquet",
                     "--out", str(pb), path]) == 0
        q = ("SELECT * FROM read_parquet('{}') "
             "ORDER BY title, time_period_start_unix, value")
        ra = con.execute(q.format(pa_)).fetchall()
        rb = con.execute(q.format(pb)).fetchall()
        ta = [r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{pa_}')").fetchall()]
        tb = [r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{pb}')").fetchall()]
        assert ta == tb, (name, ta, tb)
        eq = lambda x, y: x == y or (  # noqa: E731
            isinstance(x, float) and isinstance(y, float)
            and math.isnan(x) and math.isnan(y))
        assert len(ra) == len(rb) and all(
            all(eq(x, y) for x, y in zip(r1, r2)) for r1, r2 in zip(ra, rb)
        ), (name, ra[:2], rb[:2])


def test_cli_fastpath_latency_and_routing(tmp_path, capsys, egd_feed):
    """Fast-path conversion of a small EGD-shaped export must stay well
    under 200 ms in-process (convert + CSV of its 20 rows measured ~1 ms
    on a 4-core x86 box; a whole CLI process on it ~0.1 s, mostly
    interpreter startup), must never import pyspark, and the CLI must
    route single files to it and directories/globs to Spark."""
    import subprocess
    import sys as _sys
    import time
    from pathlib import Path

    egd = egd_feed(tmp_path)
    # routing decisions (no conversion)
    import argparse

    from greenbuttonengine_spark.cli import _use_fastpath

    ns = lambda **kw: argparse.Namespace(  # noqa: E731
        engine="auto", out_dir=None, **kw)
    assert _use_fastpath(ns(paths=[egd]))
    assert not _use_fastpath(ns(paths=[egd, egd]))
    assert not _use_fastpath(ns(paths=[str(tmp_path)]))
    assert not _use_fastpath(
        argparse.Namespace(engine="spark", out_dir=None, paths=[egd]))
    assert not _use_fastpath(
        argparse.Namespace(engine="auto", out_dir=str(tmp_path / "out"), paths=[egd]))

    # latency: convert + format, in-process (subprocess wall depends on
    # interpreter startup; pin the work itself with margin)
    from greenbuttonengine_spark.espi import fastpath as fp

    fp.convert_file(egd)  # warm the enum-map cache
    t0 = time.perf_counter()
    rows, errs = fp.convert_file(egd)
    fp.csv_lines(rows, sort=True)
    dt = time.perf_counter() - t0
    assert not errs and len(rows) == 20
    assert dt < 0.2, f"fast path took {dt:.3f}s"

    # a fresh interpreter running the fast path must never load pyspark
    code = (
        "import sys; from greenbuttonengine_spark.cli import main; "
        f"main(['--engine','local','--filetype','csv','--out','{tmp_path}/o.csv','{egd}']); "
        "assert 'pyspark' not in sys.modules, 'pyspark imported'"
    )
    repo = Path(__file__).resolve().parents[1]
    r = subprocess.run([_sys.executable, "-c", code], cwd=repo,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr


def test_md5_60_hash_family_cross_engine_property(spark):
    """The seeded md5-60/md5-32 hash family underpins 7+ oracles
    (minhash bands, incremental-near admission, shard assign, RAG
    encoder): hypothesis-generated strings — including regex
    metacharacters, unicode, whitespace runs, and the empty string —
    must hash identically in Spark and DuckDB."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from greenbuttonengine_spark.extensions.dedup import (
        md5_hash32, md5_hash60)
    from pyspark.sql import functions as F

    alphabet = st.sampled_from(list("abc .$\\^|()[]{}*+?\"'é中\n\t0"))
    texts: list[str] = [""]  # always include the empty string

    @settings(max_examples=120, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=24))
    def collect(s):
        texts.append(s)

    collect()
    # evaluate the whole batch in ONE Spark job + ONE DuckDB query
    # (the repo's hypothesis pattern, cf. test_dst_rules.py: Spark
    # inside @given is slow and trips hypothesis' stackframe guard)
    sdf = spark.createDataFrame(
        list(enumerate(texts)), "i long, s string")
    got = {
        (r.i, r.h60, r.h32)
        for r in sdf.select(
            "i",
            md5_hash60(F.col("s")).alias("h60"),
            md5_hash32(F.col("s")).alias("h32"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "s": texts}))
    want = set(map(tuple, con.execute(
        "SELECT i, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT),"
        "       CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)"
        " FROM t").fetchall()))
    assert got == want


def test_minhash_band_membership_cross_engine_property(spark):
    """Band membership (doc_id, band_idx, band_hash) — the unit the LSH
    bucket join and the persistent band store key on — must be
    SET-EQUAL between minhash_signatures/band_buckets(seeded=True) and
    the DuckDB CTE chain built from the same LCG literals, on
    hypothesis-generated corpora (short docs stress the
    greatest(len-k+1, 1) single-shingle edge; repeated-run docs stress
    duplicate shingles under the distinct=False fast path)."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from greenbuttonengine_spark.extensions.dedup import (
        _MH_P, band_buckets, lcg_perm_params,
        minhash_signatures, _BAND_BASE)

    num_perm, bands, k = 16, 4, 4
    rows = num_perm // bands
    params = lcg_perm_params(num_perm)
    values = ", ".join(
        f"({j}, {a}, {b}, {_BAND_BASE ** (j % rows)}, {j // rows})"
        for j, (a, b) in enumerate(params)
    )
    oracle = f"""
    WITH params(j, a, b, w, band) AS (VALUES {values}),
    ex AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)
                   % {_MH_P} AS h0
        FROM (
            SELECT doc_id, unnest([substring(text, i, {k})
                       for i in generate_series(1,
                           greatest(length(text) - {k - 1}, 1))]) AS sh
            FROM documents
        )
    ),
    sigv AS (
        SELECT doc_id, j, MIN((a * h0 + b) % {_MH_P}) AS m
        FROM ex CROSS JOIN params GROUP BY doc_id, j
    )
    SELECT s.doc_id, p.band AS band_idx, SUM(s.m * p.w) AS band_hash
    FROM sigv s JOIN params p USING (j)
    GROUP BY s.doc_id, p.band
    """

    unit = st.text(alphabet=st.sampled_from(list("ab c.$\\n")),
                   min_size=1, max_size=6)
    doc = st.builds(lambda u, r: u * r, unit, st.integers(1, 4))

    texts: list[str] = []

    @settings(max_examples=80, deadline=None)
    @given(doc)
    def collect(t):
        texts.append(t)

    collect()
    # band membership is a per-doc function, so all generated docs
    # evaluate as ONE corpus in one Spark job + one DuckDB query
    sdf = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    sig = minhash_signatures(sdf, num_perm=num_perm, k=k, seeded=True)
    got = {
        (r.doc_id, r.band_idx, r.band_hash)
        for r in band_buckets(
            sig, num_perm=num_perm, bands=bands, seeded=True).collect()
    }
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want = set(map(tuple, con.execute(oracle).fetchall()))
    assert len(got) == len(texts) * bands
    assert got == want


def test_kneser_ney_bigram_planted(spark, tmp_path):
    """p_kn must equal the textbook interpolated-KN computation (same
    op order, exact float compare) on a planted corpus, and smoothed
    probabilities must dominate the discounted MLE term."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.plans import wave21_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    texts = ["a b a b a b x", "a b a c", "b c b c b a"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )
    d = str(tmp_path / "sfkn")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        (r.w1, r.w2): r
        for r in QUERIES["lm_kneser_ney_bigram"].fn(spark, d).collect()
    }

    # brute-force reference
    from collections import Counter

    bg = Counter()
    for t in texts:
        ws = t.split()
        for x, y in zip(ws, ws[1:]):
            bg[(x, y)] += 1
    c1 = Counter()
    nf = Counter()
    np_ = Counter()
    for (x, y), c in bg.items():
        c1[x] += c
        nf[x] += 1
        np_[y] += 1
    tt = len(bg)
    D = 0.75
    want = {}
    for (x, y), c in bg.items():
        if c1[x] >= 5:
            want[(x, y)] = (c - D) / c1[x] + (D * nf[x]) / c1[x] * (np_[y] / tt)
    # only contexts with c1 >= 5 appear; top-3 per context
    assert all(c1[w1] >= 5 for w1, _ in got)
    for key, r in got.items():
        assert r.p_kn == want[key], (key, r.p_kn, want[key])
        assert r.c12 == bg[key]
        # discounted MLE alone underestimates: continuation mass is added
        assert r.p_kn > (bg[key] - D) / c1[key[0]]


def test_graph_triangle_count_matches_bruteforce(spark, sf_dir):
    """Degree-oriented counting == brute-force set-intersection
    triangle counting on the same symmetrized kNN graph."""
    import numpy as np

    from greenbuttonengine_spark.plans import wave21_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES
    from greenbuttonengine_spark.sources.catalog import load_table

    got = {
        r.node: (r.degree, r.n_triangles, r.clustering_coeff)
        for r in QUERIES["graph_triangle_count"].fn(spark, sf_dir).collect()
    }

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    v = np.array([r.embedding for r in emb])
    cos = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    np.fill_diagonal(cos, -np.inf)
    adj: dict[int, set[int]] = {int(i): set() for i in ids}
    for r in range(len(ids)):
        order = np.lexsort((ids, -cos[r]))[:5]
        for j in order:
            a, b = int(ids[r]), int(ids[j])
            adj[a].add(b)
            adj[b].add(a)
    tri = {n: 0 for n in adj}
    for a_ in adj:
        for b_ in adj[a_]:
            if b_ <= a_:
                continue
            common = adj[a_] & adj[b_]
            for c_ in common:
                if c_ > b_:
                    tri[a_] += 1
                    tri[b_] += 1
                    tri[c_] += 1
    for n, neigh in adj.items():
        deg = len(neigh)
        want_cc = (2.0 * tri[n]) / (deg * (deg - 1.0))
        assert got[n] == (deg, tri[n], want_cc), (n, got[n], (deg, tri[n]))


def test_corpus_heaps_curve_planted(spark, tmp_path):
    """Checkpoints, cumulative counts and vocab growth on a corpus
    built to saturate (later docs add no new types): the curve must
    flatten exactly, and totals must reconcile with the corpus."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.plans import wave21_queries  # noqa: F401
    from greenbuttonengine_spark.plans.registry import QUERIES

    # docs 0-1: new types; docs 2-7: pure repeats
    texts = {0: "a b", 1: "c a", 2: "a a", 3: "b c",
             4: "a b c", 5: "c", 6: "a", 7: "b c a"}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in texts.items()]
    )
    d = str(tmp_path / "sfheaps")
    docs.write.parquet(f"{d}/documents.parquet")
    rows = sorted(
        QUERIES["corpus_heaps_curve"].fn(spark, d).collect(),
        key=lambda r: r.j,
    )
    # buckets: j=0 (doc 0), j=1 (doc 1), j=2 (docs 2-3), j=3 (docs 4-7)
    assert [(r.j, r.n_docs, r.n_tokens, r.vocab_size) for r in rows] == [
        (0, 1, 2, 2),       # doc 0: 2 tokens, types {a,b}
        (1, 2, 4, 3),       # +doc 1: type c is new
        (2, 4, 8, 3),       # repeats only: vocab flat
        (3, 8, 16, 3),      # still flat; tokens keep growing
    ]
    # monotone + reconciliation properties
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs >= a.n_docs and b.vocab_size >= a.vocab_size
    total_tokens = sum(len(t.split()) for t in texts.values())
    assert rows[-1].n_tokens == total_tokens
    assert rows[-1].vocab_size == len({w for t in texts.values()
                                       for w in t.split()})


def test_eval_kmeans_silhouette_replay(spark, sf_dir):
    """Silhouette rows must replay a pure-Python recomputation: same
    trained centroids (the wave-17 replay machinery), own/second-min
    exact distances, and the (b-a)/b formula with identical IEEE ops;
    plus sanity: b >= a, s in [0, 1), boundary points exist."""
    import math

    from greenbuttonengine_spark.extensions.similarity import seeded_centroids
    from greenbuttonengine_spark.plans.wave22_queries import (
        eval_kmeans_silhouette)

    rows = {r.vec_id: r for r in eval_kmeans_silhouette(spark, sf_dir).collect()}
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb = {
        r.vec_id: [int(math.floor(float(u) * 4096.0)) for u in r.embedding]
        for r in emb_df.collect()
    }
    cents = [
        [int(math.floor(x * 4096.0)) for x in sv]
        for _, sv, _ in seeded_centroids(emb_df, 16)
    ]

    def dists(q):
        return [sum((q[d] - c[d]) ** 2 for d in range(64)) for c in cents]

    for _ in range(2):
        clusters: dict[int, list[list[int]]] = {}
        for q in emb.values():
            d2 = dists(q)
            c = min(range(16), key=lambda s: (d2[s], s))
            clusters.setdefault(c, []).append(q)
        new = [list(c) for c in cents]
        for c, members in clusters.items():
            n = len(members)
            for d in range(64):
                s = sum(m[d] for m in members)
                new[c][d] = -((-s) // n) if s < 0 else s // n
        cents = new

    for v, q in emb.items():
        d2 = sorted(dists(q))
        a2, b2 = d2[0], d2[1]
        r = rows[v]
        assert (r.dist2_own, r.dist2_next) == (a2, b2), v
        want_s = 0.0 if b2 == 0 else (
            (math.sqrt(float(b2)) - math.sqrt(float(a2)))
            / math.sqrt(float(b2)))
        assert r.silhouette == want_s, (v, r.silhouette, want_s)
        assert 0.0 <= r.silhouette < 1.0
    # the corpus is near-isotropic: plenty of boundary points
    assert any(r.silhouette < 0.5 for r in rows.values())


def test_pack_concat_chunks_replay(spark, tmp_path):
    """Bucket-offset prefix sums == a sequential Python replay on a
    planted corpus spanning multiple offset buckets (sparse,
    non-contiguous doc_ids), and chunk identities hold: every token
    position is covered exactly once, fragmentation flags are right."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.plans import wave22_queries as w22
    from greenbuttonengine_spark.plans.registry import QUERIES

    # doc_ids straddle three DIV-4096 buckets, with gaps
    ids = [0, 1, 5, 4095, 4096, 4097, 9000, 12288]
    texts = {i: " ".join("w" for _ in range((i % 7) * 900 + 1)) for i in ids}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in texts.items()]
    )
    d = str(tmp_path / "sfcc")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {r.doc_id: r for r in
           QUERIES["pack_concat_chunks"].fn(spark, d).collect()}

    B = w22._CC_BUDGET
    off = 0
    for i in sorted(ids):
        n = len(texts[i].split())
        r = got[i]
        assert (r.n_tokens, r.tok_offset) == (n, off), (i, r)
        assert r.first_chunk == off // B
        assert r.last_chunk == (off + n - 1) // B
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1
        off += n
    # exact coverage: offsets tile [0, total) with no gap or overlap
    assert sorted(r.tok_offset for r in got.values())[0] == 0
    assert sum(r.n_tokens for r in got.values()) == off
