"""Invariant tests for the approximate extension operators, cross-
checked against their exact counterparts (the rows-only queries'
correctness story).

The exact counterparts that no query runs live here: the plain
set-similarity join ``ngram_jaccard_pairs``, the per-row HOF
``simhash_column`` and the all-pairs ``embedding_cosine_pairs``."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from greenbuttonengine_spark.extensions.dedup import (
    _dot,
    _shingles,
    _with_norm,
    md5_hash60,
)
from greenbuttonengine_spark.sources.catalog import spread_scan

SF = "/root/testdata/sf0.01"


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8, k: int = 8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact set-Jaccard over k-shingles via the sparse set-similarity
    join (explode shingles, equi-join on shingle, count co-occurrences)
    — the classic AllPairs/token-join shape, NOT a quadratic cross
    join.  Cost is sum over shingles of C(docs_sharing_it, 2): near
    all-pairs only for degenerate corpora where every doc shares
    shingles.  jaccard = i / (|A| + |B| - i) with integer sizes, so the
    double division is bit-deterministic across engines.

    At 100 TB: one hash shuffle on the shingle key; frequent-shingle
    hot keys are the skew risk.  MEASURED under a degenerate corpus
    (SCALING.md r14: 20k docs sharing one universal shingle -> 2e8
    candidate pairs): AQE skew-join did NOT engage — at that shape the
    token join is a BroadcastHashJoin, outside OptimizeSkewedJoin's
    scope, and even on a shuffled join AQE only re-parallelizes the
    straggler partition, the candidate WORK stays quadratic in the hot
    key's document frequency.  :func:`ngram_jaccard_pairs_prefix` is
    the real fix — the exact-result refinement that removes hot keys
    from the candidate join entirely (7.2x there; the gap grows as
    df^2)."""
    # shingling + explode is the heavy per-row stage; spread an
    # under-parallelized single-file scan across cores first (r15)
    ex = spread_scan(docs).select(
        F.col(id_col), F.explode(_shingles(text_col, k)).alias("__sh")
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_column(
    col, bits: int = 48, token_pattern: str = r"\s+", seeded: bool = False
):
    """bits-wide SimHash: per token, a 64-bit hash supplies the bit
    pattern; each output bit is the sign of the +1/-1 vote sum.
    ``seeded=True`` swaps xxhash64 for the md5-derived 60-bit hash the
    DuckDB oracle reproduces (bits must then be <= 60)."""
    if seeded and bits > 60:
        raise ValueError("seeded simhash draws bits from a 60-bit hash")
    tokens = F.split(F.trim(col), token_pattern)
    hash_fn = md5_hash60 if seeded else F.xxhash64

    def vote(b: int):
        return F.aggregate(
            F.transform(
                tokens,
                lambda t: F.when(
                    F.shiftright(hash_fn(t), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )

    bit_votes = [vote(b) for b in range(bits)]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= threshold.

    All-pairs (correctness / small-SF); the LSH route for scale is
    similarity.lsh_topk's bucketing applied pairwise.  Vectors are cast
    to double before the fold so the sum is bit-deterministic."""
    base = _with_norm(emb, vec_col, id_col)
    a, b = base.alias("a"), base.alias("b")
    cosine = _dot("a.v", "b.v") / (F.col("a.__norm") * F.col("b.__norm"))
    return (
        a.crossJoin(b)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.mark.parametrize("family", ["xxhash", "seeded"])
def test_minhash_lsh_recall_vs_exact(spark, docs, family):
    """Both hash families must clear the recall bar: the xxhash64
    production/streaming form AND the seeded md5+LCG form the
    registered dedup_minhash_lsh query runs (a biased lcg_perm_params
    permutation would pass the oracle — which only pins Spark==DuckDB
    on the same family — while silently missing near-dups)."""
    from greenbuttonengine_spark.extensions import dedup

    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.8, seeded=family == "seeded"
        ).collect()
    }
    assert exact, "corpus should contain true near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"{family} LSH recall {recall} too low ({len(approx)} candidates)"


@pytest.mark.parametrize("seeded", [False, True])
def test_simhash_finds_near_dups(spark, docs, seeded):
    from greenbuttonengine_spark.extensions import dedup

    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    sim = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_pairs(docs, max_hamming=3, seeded=seeded).collect()
    }
    # simhash on token multisets: near-dup docs must collide
    recall = len(exact & sim) / len(exact)
    assert recall >= 0.8, f"simhash(seeded={seeded}) recall {recall}"


def test_duplicate_clusters_deep_chain_converges(spark):
    """A 3000-node path graph has diameter 2999: plain min-label
    propagation needs 2999 rounds and would hit the 20-round cap
    (which now RAISES instead of returning partially-merged labels);
    pointer jumping must converge within it and label every node with
    the chain's min id — the case where Spark would otherwise diverge
    from the oracle's unbounded recursive-CTE closure."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.extensions import dedup

    n = 3000
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])
    got = dedup.duplicate_clusters(edges).collect()
    assert len(got) == n
    assert all(r.cluster_id == 0 for r in got)


@pytest.mark.parametrize("seeded", [False, True])
def test_simhash_signatures_equal_column_form(spark, seeded):
    """The explode+aggregate simhash (shipped plan) must be bit-equal
    to the HOF expression form for both hash families — pins the
    'identical results' claim so the two cannot silently drift."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.extensions import dedup

    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="the quick brown fox jumps  over the lazy dog"),
        Row(doc_id=2, text="completely different words entirely here now"),
        Row(doc_id=3, text="x"),
        Row(doc_id=4, text=""),
    ]
    df = spark.createDataFrame(rows)
    want = {
        (r.doc_id, r.sh)
        for r in df.select(
            "doc_id",
            simhash_column(F.col("text"), 48, seeded=seeded).alias("sh"),
        ).collect()
    }
    got = {
        (r.doc_id, r.sh)
        for r in dedup.simhash_signatures(df, bits=48, seeded=seeded).collect()
    }
    assert got == want


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    from greenbuttonengine_spark.extensions import similarity

    queries = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, queries, k=10, planes=4).collect()
    }
    # multi-probe scans (1+4)/16 of the corpus; recall must clearly beat
    # that random-subset baseline on this near-orthogonal corpus
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH ANN recall {recall} suspiciously low"
    single = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, queries, k=10, planes=4, multiprobe=False).collect()
    }
    assert len(exact & approx) > len(exact & single), "multi-probe should raise recall"
    assert all(r.rank <= 10 for r in similarity.lsh_topk(emb, queries, k=10).collect())


def test_ivf_recall_vs_bruteforce(spark, emb):
    from greenbuttonengine_spark.extensions import similarity

    queries = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, queries, similarity.KMeansQuantizer(16), k=10, n_probe=4
        ).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # probing 4/16 cells of a near-orthogonal corpus: recall well above
    # the ~25% a random cell subset would give
    assert recall >= 0.3, f"IVF recall {recall}"

    # the 100 TB configuration: KMeans fit on a seeded half-sample (the
    # fit is otherwise itself a full-corpus job). The recall invariant
    # must hold with sampled centroids too.
    sampled = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, queries, similarity.KMeansQuantizer(16, fit_sample_fraction=0.5),
            k=10, n_probe=4,
        ).collect()
    }
    recall_sampled = len(exact & sampled) / len(exact)
    assert recall_sampled >= 0.3, f"IVF sampled-fit recall {recall_sampled}"


def test_approx_aggregates_bounded_error(spark):
    from greenbuttonengine_spark.plans.extension_queries import approx_aggregates

    got = {r.l_returnflag: r for r in approx_aggregates(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    for flag, e in exact.items():
        g = got[flag]
        assert abs(g.approx_orders - e.orders) / e.orders < 0.05
        assert abs(g.approx_median_price - e.median) / e.median < 0.05


def test_multimodal_plumbing(spark, docs):
    from greenbuttonengine_spark.extensions import multimodal

    media = multimodal.attach_fake_media(docs.limit(50))
    row = media.first()
    assert isinstance(row.media, (bytes, bytearray)) and len(row.media) == 32
    assert row.media_meta.kind == "image/fake"

    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 50
    for r in feats[:5]:
        assert len(r.byte_histogram) == multimodal.HIST_BINS
        assert abs(sum(r.byte_histogram) - 1.0) < 1e-9  # normalized histogram


def test_exact_dedup_finds_normalized_dups(spark, docs):
    from greenbuttonengine_spark.extensions import dedup

    # plant a normalized duplicate (case + whitespace differences)
    first_text = docs.first().text
    planted = docs.limit(0).sparkSession.createDataFrame(
        [(99999, "  " + first_text.upper() + "  ", "en", "srcX", len(first_text))],
        schema=docs.schema,
    )
    out = dedup.exact_duplicates(docs.unionByName(planted))
    dupes = out.filter(F.col("n_copies") > 1).collect()
    assert any(r.n_copies == 2 for r in dupes)


def test_stratified_sample_rates_and_determinism(spark):
    """Keep-rates land near targets per stratum, and membership is a
    pure key function: two runs (and a repartitioned run) select the
    identical row set."""
    from greenbuttonengine_spark.extensions.sampling import sample_stratified
    from greenbuttonengine_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    rates = {"en": 0.5, "zh": 0.25, "de": 0.10}
    kept = sample_stratified(docs, rates, "lang", "doc_id", default_rate=0.02)
    tot = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, rate in rates.items():
        frac = got.get(lang, 0) / tot[lang]
        assert abs(frac - rate) < 0.12, (lang, frac, rate)

    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in sample_stratified(
            docs.repartition(13), rates, "lang", "doc_id", default_rate=0.02
        ).select("doc_id").collect()
    }
    assert ids1 == ids2, "sampling membership changed with partitioning"


def test_quantize_int8_bounds(spark, emb):
    from greenbuttonengine_spark.extensions.embeddings import quantize_int8

    q = quantize_int8(emb)
    stats = q.agg(
        F.min("q").alias("lo"), F.max("q").alias("hi"), F.count("*").alias("n")
    ).first()
    assert -127 <= stats.lo and stats.hi <= 127
    # every vector's peak magnitude maps to +/-127
    peaks = q.withColumn("a", F.abs("q")).groupBy("vec_id").agg(F.max("a").alias("m"))
    assert peaks.filter("m != 127").count() == 0


def test_prefix_filtered_jaccard_exact_equal(spark, docs):
    """Prefix filtering (AllPairs/PPJoin) is an exact optimization:
    identical pair set and jaccard values as the plain sparse join."""
    from greenbuttonengine_spark.extensions import dedup

    base = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    pref = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs_prefix(docs, threshold=0.8).collect()
    }
    assert base == pref and base


def test_prefix_jaccard_hashed_path_identical(spark, docs):
    """The hashed=True scale path (candidates AND verify keyed on
    xxhash64 longs) must emit exactly the raw-shingle result — the
    docstring's collision argument, pinned on the real corpus."""
    from greenbuttonengine_spark.extensions import dedup

    raw = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs_prefix(docs, threshold=0.8).collect()
    }
    hashed = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs_prefix(
            docs, threshold=0.8, hashed=True
        ).collect()
    }
    assert raw == hashed and raw


def test_spread_scan_spreads_scans_and_noops_elsewhere(spark, docs, tmp_path):
    """spread_scan raises a single-file scan's partition count to the
    session's parallelism, never changes rows, and NO-OPS on plans
    that are not narrow scans (already downstream of an exchange)."""
    from greenbuttonengine_spark.sources.catalog import spread_scan

    p = spark.sparkContext.defaultParallelism
    spread = spread_scan(docs)
    assert spread.rdd.getNumPartitions() == p
    assert sorted(spread.select("doc_id").toPandas()["doc_id"]) == sorted(
        docs.select("doc_id").toPandas()["doc_id"]
    )
    # a local path with a space reaches inputFiles() percent-encoded;
    # it must still be found on disk and spread
    spaced = str(tmp_path / "with space" / "documents.parquet")
    docs.coalesce(1).write.parquet(spaced)
    spaced_docs = spark.read.parquet(spaced)
    assert spread_scan(spaced_docs).rdd.getNumPartitions() == p
    # narrow project/filter on top: still a scan, still spread
    narrowed = spread_scan(docs.filter(F.col("text").isNotNull()).select("doc_id"))
    assert narrowed.rdd.getNumPartitions() == p
    # aggregate: not a scan — returned unchanged (no repartition node)
    agg = docs.groupBy("lang").count()
    assert spread_scan(agg) is agg


def test_spread_scan_single_row_group_beats_size_estimate(spark, docs):
    """r16 ADVICE (medium): a single-row-group parquet file always
    scans as ONE task no matter how many byte-splits maxPartitionBytes
    implies — the estimate must key on ROW GROUPS, not size/maxPB.
    With maxPartitionBytes shrunk so the byte estimate alone says
    'already parallel', the row-group bound must still fire the
    spread.  Also pins the 'file:/...' single-slash URI spelling
    (urlparse handles it; the old prefix-strip silently no-op'd)."""
    from greenbuttonengine_spark.sources.catalog import spread_scan

    p = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny splits: size/maxPB >> parallelism, but one row group
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        spread = spread_scan(docs)
        assert spread.rdd.getNumPartitions() == p
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_pack_sequences_invariants(spark, docs):
    """Every doc lands in exactly one bin; non-oversize bins respect
    the budget; packing efficiency beats the trivial one-doc-per-bin
    layout by a wide margin; membership is partition-invariant."""
    from greenbuttonengine_spark.extensions.packing import pack_sequences

    budget = 512
    packed = pack_sequences(docs, budget=budget, n_groups=8).cache()
    n_docs = docs.count()
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs

    per_bin = (
        packed.filter(~F.col("oversize"))
        .groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("tok"))
    )
    assert per_bin.filter(F.col("tok") > budget).count() == 0

    n_bins = packed.select("bin_id").distinct().count()
    total_tokens = packed.agg(F.sum("n_tokens")).first()[0]
    lower_bound = -(-total_tokens // budget)  # ceil: fewest possible bins
    assert n_bins <= 1.5 * lower_bound + 8, (n_bins, lower_bound)
    assert n_bins < n_docs / 2  # real packing happened

    again = {
        (r.doc_id, r.bin_id)
        for r in pack_sequences(docs.repartition(13), budget=budget, n_groups=8).collect()
    }
    assert {(r.doc_id, r.bin_id) for r in packed.collect()} == again
    packed.unpersist()


def test_duplicate_clusters_match_union_find(spark, docs):
    """Spark connected components == a reference union-find over the
    same edge list (plus keeper semantics)."""
    from greenbuttonengine_spark.extensions import dedup

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)  # denser graph
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edges

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    # canonicalize reference roots to min-of-component
    comp: dict[int, list[int]] = {}
    for n, r in want.items():
        comp.setdefault(find(r), []).append(n)
    want = {n: root for root, members in comp.items() for n in members}

    got = {r.node: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == want

    keepers = dedup.dedup_keepers(pairs)
    kept = keepers.filter("keep").count()
    assert kept == len(set(want.values()))  # exactly one keeper per component


def test_dedup_cascade_soundness(spark, docs):
    """Cascade decisions are sound: exactly one keeper per duplicate
    relation — no two kept docs are near-dups or exact dups, and every
    dropped doc has a kept (or transitively dropped-into-kept)
    witness."""
    from greenbuttonengine_spark.extensions import dedup

    decisions = {r.doc_id: r for r in dedup.dedup_cascade(docs, threshold=0.8).collect()}
    assert len(decisions) == docs.count()
    kept = {d for d, r in decisions.items() if r.keep}
    assert kept

    # no kept pair may be an exact or near duplicate of another kept doc
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    for a, b in pairs:
        assert not (a in kept and b in kept), (a, b)

    exact = dedup.exact_duplicates(docs).collect()
    n_exact_dups = sum(r.n_copies - 1 for r in exact)
    dropped_exact = sum(1 for r in decisions.values() if r.reason == "exact_dup")
    assert dropped_exact == n_exact_dups

    # every near-dup drop is linked (directly) to some pair participant
    near_dropped = {d for d, r in decisions.items() if r.reason == "near_dup"}
    participants = {x for p in pairs for x in p}
    assert near_dropped <= participants


def test_chunk_documents_empty_and_boundaries(spark):
    """Empty docs emit zero chunks (the sequence(0,-1) descent bug);
    boundary lengths emit exactly floor((len-1)/stride)+1 chunks and
    every chunk is a verbatim substring."""
    from greenbuttonengine_spark.extensions.textstats import chunk_documents

    rows = [(0, ""), (1, "x" * 150), (2, "y" * 151), (3, "z" * 200), (4, "w" * 351)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(docs, size=200, stride=150).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 0 not in by_doc, "empty doc produced chunks"
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_len == 150
    assert len(by_doc[2]) == 2 and by_doc[2][1].chunk_len == 1
    assert len(by_doc[3]) == 2 and by_doc[3][1].chunk_len == 50
    assert len(by_doc[4]) == 3
    for r in out:
        text = dict(rows)[r.doc_id]
        assert r.chunk_text == text[r.chunk_id * 150 : r.chunk_id * 150 + 200]


def test_temperature_sample_null_stratum_and_flattening(spark):
    """NULL-stratum rows are sampled as their own stratum (not dropped),
    and a 4x-larger stratum contributes ~2x rows (alpha=0.5 mix)."""
    from greenbuttonengine_spark.extensions.sampling import sample_temperature

    rows = [(i, "big") for i in range(4000)]
    rows += [(10_000 + i, "small") for i in range(1000)]
    rows += [(20_000 + i, None) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = sample_temperature(df, "lang", "doc_id", coefficient=10.0)
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got.get(None, 0) > 0, "NULL-stratum rows were dropped"
    # rate_big = 10/sqrt(4000), rate_small = 10/sqrt(1000): expect ~632 vs ~316
    assert abs(got["big"] - 632) < 130, got
    assert abs(got["small"] - 316) < 90, got
    assert abs(got[None] - 316) < 90, got
    # membership must be partition-invariant
    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in sample_temperature(
            df.repartition(7), "lang", "doc_id", coefficient=10.0
        ).select("doc_id").collect()
    }
    assert ids1 == ids2


def test_word_ngrams_and_contamination(spark):
    """n-gram edges: short docs (< n words) give zero grams; a doc's
    share reflects exactly its distinct-gram overlap with the eval set;
    clean docs are absent from the report."""
    from greenbuttonengine_spark.extensions.decontam import (
        flag_contamination,
        word_ngrams,
    )

    rows = [
        (0, "the quick brown fox jumps"),          # eval doc
        (1, "quick brown fox runs away"),          # shares 'quick brown fox'
        (2, "totally clean document here ok"),     # no overlap
        (3, "the quick brown fox jumps"),          # verbatim eval copy
        (4, "two words"),                          # < n words: no grams
        (5, ""),                                   # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", word_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert grams[0] == ["the quick brown", "quick brown fox", "brown fox jumps"]
    assert grams[4] == [] and grams[5] == []

    out = {
        r.doc_id: r
        for r in flag_contamination(
            df.filter("doc_id > 0"), df.filter("doc_id = 0"), n=3
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1].n_shared_ngrams == 1 and out[1].n_ngrams == 3
    assert out[3].n_shared_ngrams == 3 and out[3].n_ngrams == 3
    assert out[3].share == 1.0


def test_length_histogram_buckets_and_shares(spark):
    from greenbuttonengine_spark.extensions.audit import length_histogram

    rows = [(0, 0), (1, 1), (2, 7), (3, 8), (4, 1023), (5, 1024)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = {r.len_bucket: r for r in length_histogram(df).collect()}
    # exact power-of-two boundaries must not straddle buckets
    assert set(out) == {-1, 0, 2, 3, 9, 10}
    assert out[3].min_len == 8 and out[9].max_len == 1023 and out[10].min_len == 1024
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-12


def test_source_report_dup_rate(spark):
    from greenbuttonengine_spark.extensions.audit import source_report

    rows = [
        (0, "aaa  bbb", "s1", 8),   # fingerprint-equal to doc 1
        (1, "AAA BBB", "s1", 7),    # (whitespace collapse + lowercase)
        (2, "ccc", "s1", 3),
        (3, "ddd", "s2", 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    out = {r.source: r for r in source_report(df).collect()}
    assert out["s1"].n_docs == 3 and out["s1"].n_distinct == 2
    assert abs(out["s1"].dup_rate - (1 - 2 / 3)) < 1e-12
    assert out["s2"].dup_rate == 0.0


def test_incremental_dedup_verdicts(spark):
    from greenbuttonengine_spark.extensions.dedup import incremental_dedup

    store = (
        spark.range(1)
        .select(F.explode(F.array(F.lit("already accepted"), F.lit("other known"))).alias("t"))
        .select(F.md5(F.col("t")).alias("fingerprint"))
    )
    batch = spark.createDataFrame(
        [
            (10, "already accepted"),   # in store -> dup_of_corpus
            (11, "fresh text"),         # accept
            (12, "Fresh   TEXT"),       # normalizes == 11 -> dup_in_batch
            (13, "already  ACCEPTED"),  # batch copy of 10: dup_in_batch
            (14, "OTHER known"),        # first in batch, in store
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.verdict for r in incremental_dedup(batch, store).collect()}
    assert out == {
        10: "dup_of_corpus",
        11: "accept",
        12: "dup_in_batch",
        13: "dup_in_batch",
        14: "dup_of_corpus",
    }


def test_semantic_dedup_recall_and_precision(spark, emb):
    """Within-cell comparison must find (nearly) all true near-dup
    pairs - near-identical vectors co-cluster - and every emitted pair
    is exactly verified (cosine recomputed >= threshold).  The corpus
    has no high-cosine pairs (its 0.3-pairs are weak same-label
    similarity, which SemDeDup does not target), so plant 30
    near-identical copies: vec' = vec + small deterministic noise."""
    from greenbuttonengine_spark.extensions import dedup
    from greenbuttonengine_spark.extensions.similarity import KMeansQuantizer

    rows = emb.limit(30).collect()
    planted = spark.createDataFrame(
        [
            (100_000 + r.vec_id,
             [v + 0.01 * ((i * 7 + r.vec_id) % 3 - 1) for i, v in enumerate(r.embedding)],
             r.label)
            for r in rows
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = emb.unionByName(planted)
    thr = 0.95
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(corpus, threshold=thr).collect()
    }
    assert len(exact) >= 30, f"planting failed: {len(exact)} pairs"
    sem_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup_pairs(
            corpus, KMeansQuantizer(16), threshold=thr
        ).collect()
    }
    assert sem_pairs <= exact, "within-cell verify must be exact (no false pairs)"
    recall = len(sem_pairs & exact) / len(exact)
    assert recall >= 0.8, f"semantic dedup recall {recall}"
    # sampled-fit configuration (the 100 TB posture) keeps the invariant
    sem_s = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup_pairs(
            corpus, KMeansQuantizer(16, fit_sample_fraction=0.5), threshold=thr
        ).collect()
    }
    assert sem_s <= exact and len(sem_s & exact) / len(exact) >= 0.8


def test_semantic_dedup_seeded_recall_and_precision(spark, emb):
    """The seeded-quantizer variant (oracle-checkable declared form of
    dedup_semantic) must keep SemDeDup's contract on the same planted
    corpus: no false pairs, recall >= 0.8 of the exact all-pairs set."""
    from greenbuttonengine_spark.extensions import dedup
    from greenbuttonengine_spark.extensions.similarity import SeededQuantizer

    rows = emb.limit(30).collect()
    planted = spark.createDataFrame(
        [
            (100_000 + r.vec_id,
             [v + 0.01 * ((i * 7 + r.vec_id) % 3 - 1) for i, v in enumerate(r.embedding)],
             r.label)
            for r in rows
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = emb.unionByName(planted)
    thr = 0.95
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(corpus, threshold=thr).collect()
    }
    seeded = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup_pairs(
            corpus, SeededQuantizer(16), threshold=thr
        ).collect()
    }
    assert seeded <= exact, "within-cell verify must be exact"
    assert len(seeded & exact) / len(exact) >= 0.8


def test_contamination_shuffle_join_variant_identical(spark):
    """broadcast_eval=False (corpus-vs-corpus posture) must produce
    byte-identical results to the broadcast probe, and its plan must
    be a real shuffle join (no broadcast of the eval side)."""
    from greenbuttonengine_spark.extensions.decontam import flag_contamination
    from greenbuttonengine_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    a = flag_contamination(tr, ev, n=3)
    b = flag_contamination(tr, ev, n=3, broadcast_eval=False)
    ra = {(r.doc_id, r.n_shared_ngrams, r.n_ngrams) for r in a.collect()}
    rb = {(r.doc_id, r.n_shared_ngrams, r.n_ngrams) for r in b.collect()}
    assert ra == rb
    # no explicit broadcast HINT in the logical plan — at real scale the
    # join shuffles; at this test scale AQE is free to (and does)
    # convert it back to broadcast, which is the desired adaptivity
    logical = b._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_training_mix_to_shards_end_to_end(spark, tmp_path):
    """The flagship path a trainer consumes: pipeline_training_mix
    runs end to end through the driver contract."""
    import __spark_entry__ as e

    mix = e.queries()["pipeline_training_mix"](spark, SF)
    mix.count()


def test_split_assignment_and_fixed_draw(spark):
    """Splits are disjoint/exhaustive with ~90/5/5 rates and stable
    under repartitioning; the fixed draw returns exactly n per stratum
    and the same membership regardless of layout."""
    from greenbuttonengine_spark.extensions.sampling import (
        assign_splits,
        sample_fixed_per_stratum,
    )
    from greenbuttonengine_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    sp = assign_splits(docs, "doc_id")
    counts = {r.split: r.n for r in sp.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    assert 0.02 < counts.get("val", 0) / total < 0.10
    assert 0.02 < counts.get("test", 0) / total < 0.10
    m1 = {(r.doc_id, r.split) for r in sp.select("doc_id", "split").collect()}
    m2 = {
        (r.doc_id, r.split)
        for r in assign_splits(docs.repartition(11), "doc_id").select("doc_id", "split").collect()
    }
    assert m1 == m2

    draw = sample_fixed_per_stratum(docs, "lang", "doc_id", 25)
    per = {r.lang: r.n for r in draw.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    lang_tot = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(25, lang_tot[lang]), (lang, n)
    d1 = {r.doc_id for r in draw.select("doc_id").collect()}
    d2 = {
        r.doc_id
        for r in sample_fixed_per_stratum(docs.repartition(11), "lang", "doc_id", 25)
        .select("doc_id").collect()
    }
    assert d1 == d2


def test_embedding_cosine_blocked_bitwise_equals_bnlj(spark, emb):
    """The triangle block join (declared scale path) must reproduce the
    BNLJ all-pairs oracle BITWISE — same pairs, same float64 cosines —
    for any block count, including blocks larger than the corpus."""
    from greenbuttonengine_spark.extensions import dedup

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_cosine_pairs(emb, threshold=0.3).collect()
    }
    assert exact, "corpus should contain 0.3-cosine pairs"
    for n_blocks in (1, 5, 8):
        blocked = {
            (r.id_a, r.id_b): r.cosine
            for r in dedup.embedding_cosine_pairs_blocked(
                emb, threshold=0.3, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == exact, f"n_blocks={n_blocks}: mismatch"


def test_repetition_stats_short_docs_yield_null(spark):
    """Docs with <2 words have no bigrams: dup_bigram_frac must be NULL
    (matching DuckDB's 0/0 -> NULL), not an ANSI DIVIDE_BY_ZERO crash."""
    from greenbuttonengine_spark.extensions import textstats

    df = spark.createDataFrame(
        [(1, "hello"), (2, "a b a b a b"), (3, ""), (4, "x y")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    assert out[1].dup_bigram_frac is None
    assert out[3].dup_bigram_frac is None
    assert out[2].dup_bigram_frac == pytest.approx(1.0 - 2.0 / 5.0)
    assert out[4].dup_bigram_frac == 0.0


def test_incremental_dedup_double_delivered_row(spark):
    """A double-delivered shard (same doc_id AND same text twice in one
    batch) must yield exactly ONE admitted representative — the second
    physical copy is dup_in_batch, so the accepted corpus never gets
    the row twice."""
    from greenbuttonengine_spark.extensions import dedup

    batch = spark.createDataFrame(
        [(1, "the same row"), (1, "the same row"), (2, "fresh content")],
        "doc_id long, text string",
    )
    store = spark.createDataFrame([("no-match",)], "fingerprint string")
    verdicts = [
        r.verdict
        for r in dedup.incremental_dedup(batch, store)
        .filter(F.col("doc_id") == 1)
        .collect()
    ]
    assert sorted(verdicts) == ["accept", "dup_in_batch"]


def test_anomaly_zscore_zero_variance_stratum(spark, tmp_path):
    """A constant-value event_type (std = 0) must not abort the query
    under ANSI (DIVIDE_BY_ZERO) nor emit inf rows — zero-variance
    strata have no outliers by definition and are filtered."""
    import __spark_entry__ as e

    rows = [(i, "steady", 5.0) for i in range(10)]
    rows += [(100 + i, "noisy", float(v)) for i, v in enumerate(
        [1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 500])]
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = e.queries()["anomaly_zscore_events"](spark, str(tmp_path)).collect()
    assert all(r.event_type != "steady" for r in out)
    assert any(r.event_type == "noisy" for r in out)


def test_ivf_seeded_recall_and_cell_cover(spark, emb):
    """The seeded-sample quantizer (oracle-checkable ann_ivf_topk
    form) must keep the same recall contract as the k-means form, and
    every corpus vector must land in exactly one of the 16 cells."""
    from greenbuttonengine_spark.extensions import similarity

    queries = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    seeded = similarity.ivf_topk(
        emb, queries, similarity.SeededQuantizer(16), k=10, n_probe=4
    ).collect()
    got = {(r.query_id, r.neighbor_id) for r in seeded}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.3, f"seeded IVF recall {recall}"
    # per-query output is a valid ranked list
    by_q = {}
    for r in seeded:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1)), q


def test_lsh_planted_skew_band(spark, docs):
    """The declared LSH hot-key posture must actually engage on a
    degenerate corpus: 180 identical docs collapse into one bucket per
    band.  With max_bucket below the bucket size the cap drops those
    buckets (pairs among the copies are the exact-dedup pass's job)
    while pairs among normal docs are unaffected; with the default cap
    the skewed bucket still completes and yields exactly C(180,2)
    est-Jaccard-1.0 pairs among the copies."""
    from greenbuttonengine_spark.extensions import dedup

    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    copies = spark.range(1000, 1180).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate page exactly repeated across the whole crawl "
              "with enough length to produce a realistic shingle set").alias("text"),
    )
    corpus = base.unionByName(copies)

    base_pairs = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(base, threshold=0.8).collect()
    }

    capped = dedup.minhash_lsh_pairs(corpus, threshold=0.8, max_bucket=50)
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert not any(a >= 1000 for a, _ in capped_pairs), "capped bucket leaked pairs"
    assert {p for p in capped_pairs if p[1] < 1000} == base_pairs

    full = dedup.minhash_lsh_pairs(corpus, threshold=0.8, max_bucket=10000)
    copy_pairs = [
        r for r in full.collect() if r.id_a >= 1000 and r.id_b >= 1000
    ]
    assert len(copy_pairs) == 180 * 179 // 2
    assert all(r.est_jaccard == 1.0 for r in copy_pairs)


def test_knn_graph_bitwise_equals_bruteforce(spark, emb):
    """The blocked kNN graph must equal the broadcast brute-force
    ranking bitwise (same neighbors, same cosines, same ranks) for any
    block count: per-task top-k union is a lossless cover of the true
    top-k because both use the (cosine desc, id asc) total order."""
    from greenbuttonengine_spark.extensions import similarity

    brute = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.cosine_topk(emb, emb, k=5).collect()
    }
    for n_blocks in (3, 8):
        g = {
            (r.vec_id, r.rank): (r.neighbor_id, r.cosine)
            for r in similarity.knn_graph(emb, k=5, n_blocks=n_blocks).collect()
        }
        assert g == brute, f"n_blocks={n_blocks}"


def test_line_dedup_planted_corpus(spark):
    """Boilerplate lines keep only the (min doc, min pos) occurrence;
    unique lines always survive; cleaned text preserves order."""
    from greenbuttonengine_spark.extensions import textstats

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique alpha\nCOOKIE BANNER"),
            (2, "COOKIE BANNER\nunique beta"),
            (3, "unique gamma\nCOOKIE BANNER\nunique delta"),
            (4, "totally unique doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.line_dedup(docs).collect()}
    # doc 1 owns the banner at pos 0; its pos-2 repeat is removed
    assert out[1].cleaned_text == "COOKIE BANNER\nunique alpha"
    assert out[1].n_lines == 3 and out[1].dup_line_frac == pytest.approx(1 / 3)
    assert out[2].cleaned_text == "unique beta"
    assert out[3].cleaned_text == "unique gamma\nunique delta"
    assert out[4].cleaned_text == "totally unique doc"
    assert out[4].dup_line_frac == 0.0


def test_rare_token_stats_planted(spark):
    """rare_frac counts occurrences of corpus-rare tokens; mean_token_cf
    is the exact integer-ratio mean frequency."""
    from greenbuttonengine_spark.extensions import textstats

    docs = spark.createDataFrame(
        [(1, "the the the the the zzyzx"), (2, "the the the the common words")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.rare_token_stats(docs, min_cf=2).collect()}
    # corpus cf: the=9, zzyzx=1, common=1, words=1
    assert out[1].n_tokens == 6
    assert out[1].rare_frac == pytest.approx(1 / 6)
    assert out[1].mean_token_cf == pytest.approx((9 * 5 + 1) / 6)
    assert out[2].rare_frac == pytest.approx(2 / 6)


def test_near_dedup_store_side_bucket_cap(spark):
    """A degenerate STORE bucket (more members than max_bucket) must
    not fan a colliding batch doc out to every member: with the cap
    engaged the probe skips that bucket entirely (the doc can still
    match via its other bands — here it has none, so it is accepted)."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.extensions.dedup import (
        band_buckets, incremental_near_dedup, minhash_signatures)

    text = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest before the winter snow")
    # store: 5 docs with IDENTICAL text -> identical signatures ->
    # every one of their 8 band buckets has 5 members
    corpus = spark.createDataFrame([Row(doc_id=i, text=text)
                                    for i in range(5)])
    store_sigs = minhash_signatures(corpus)
    store_bands = band_buckets(store_sigs)
    batch = spark.createDataFrame([Row(doc_id=100, text=text)])

    uncapped = incremental_near_dedup(batch, store_bands, store_sigs,
                                      threshold=0.6)
    assert uncapped.collect()[0].verdict == "near_dup_of_corpus"

    capped = incremental_near_dedup(batch, store_bands, store_sigs,
                                    threshold=0.6, max_bucket=3)
    assert capped.collect()[0].verdict == "accept"


def test_production_band_buckets_pinned(spark):
    """The xxhash64 band hashes the streaming admission store persists
    (streaming/admission.py) must not drift: a store written by one
    build is probed by the next, so these values are a stored format.
    Docs 1 and 2 are near-duplicates and collide in band 4."""
    from greenbuttonengine_spark.extensions.dedup import band_buckets, minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dogs"),
            (3, "green button interval readings, 15-minute kWh"),
        ],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in band_buckets(minhash_signatures(docs)).collect())
    assert got == [
        (1, 0, 9075539338583317957),
        (1, 1, -6572481575991725399),
        (1, 2, -8744377538475515363),
        (1, 3, 7869751729565463464),
        (1, 4, 454308336826852834),
        (1, 5, 2192081292627811450),
        (1, 6, -6534266525969603635),
        (1, 7, 3589202839876291198),
        (2, 0, -8362099355998858128),
        (2, 1, -8397371966824699036),
        (2, 2, -1567592825411834924),
        (2, 3, -8398707747430617151),
        (2, 4, 454308336826852834),
        (2, 5, -419495896903852293),
        (2, 6, 69926878793635982),
        (2, 7, 8398905253234718217),
        (3, 0, 4686670210916486113),
        (3, 1, -8093195949714158302),
        (3, 2, 269250061386063799),
        (3, 3, 4337624490525743163),
        (3, 4, 6500650426667892706),
        (3, 5, -4617123674218086429),
        (3, 6, 2804374502391369563),
        (3, 7, -5714132950133805802),
    ]
