"""Declared queries for the training-data-pipeline extension operators
(dedup / similarity / text stats / multimodal) over the driver's
``documents`` and ``embeddings`` tables.

Oracle coverage: exact-math operators (exact dedup, all-pairs Jaccard,
cosine pairs, brute-force top-k, every text stat) have full DuckDB
oracles — including the floating-point ones, since integer-ratio
divisions and sequential double folds are bit-identical across engines
(validated empirically).  The randomized/approximate operators
(MinHash-LSH, SimHash, hyperplane-LSH, multimodal histogram) rely on
engine-specific hash functions and are declared rows-only; their
correctness is covered by pytest invariants against the exact variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions import dedup, multimodal, similarity, textstats
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    r"""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
    doc="Exact dedup via normalization fingerprint: one hash shuffle, "
    "min-id keeper. The first pass of any dedup cascade at scale.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, "documents", sf_dir))


@register(
    "dedup_ngram_jaccard",
    r"""
    WITH ex AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 8)
                   for i in generate_series(1, greatest(length(text)-7, 1))])) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    """,
    tags=("dedup",),
    doc="Exact 8-shingle set-Jaccard >= 0.8. Delegates to the prefix-"
    "filtered AllPairs/PPJoin plan (result-identical, pytest-pinned "
    "equal to the plain sparse join): the plain shuffle-on-shingle "
    "join costs sum C(df_shingle, 2), which blows up on boilerplate "
    "shingles (139.8s vs 12.2s at sf0.1) — the prefix filter keeps "
    "hot shingles out of candidate generation entirely, so this is "
    "the declared scale path; the plain join lives on as the "
    "tiny-scale pytest oracle. Integer set sizes -> "
    "bit-deterministic division.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, "documents", sf_dir), threshold=0.8, hashed=True
    )


@register(
    "dedup_ngram_jaccard_prefix",
    r"""
    WITH ex AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 8)
                   for i in generate_series(1, greatest(length(text)-7, 1))])) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    """,
    tags=("dedup",),
    doc="Prefix-filtered exact Jaccard (AllPairs/PPJoin, Bayardo "
    "WWW'07): candidate join restricted to each doc's rarest "
    "n-ceil(t*n)+1 shingles under a global document-frequency order — "
    "hot common shingles never enter the join, killing the skew the "
    "plain sparse join is exposed to. Result-identical to "
    "dedup_ngram_jaccard (same oracle); full-intersection verify on "
    "candidates only.",
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, "documents", sf_dir), threshold=0.8, hashed=True
    )


@register(
    "dedup_minhash_lsh",
    dedup.minhash_seeded_oracle_sql(threshold=0.8),
    tags=("dedup", "approx"),
    doc="MinHash(32) + 8x4 banded LSH candidates, est-Jaccard >= 0.8. "
    "The scalable near-dup path: shuffle on band keys, never all-pairs. "
    "Oracle-backed since r8 via the seeded cross-engine hash family "
    "(md5-derived 60-bit shingle hash + literal-LCG permutations + "
    "weighted-sum band keys — the r6 quantizer trick extended to "
    "string hashing); identical plan shape to the xxhash64 "
    "form, which the near-dup admission band store keeps.  pytest "
    "cross-checks recall against dedup_ngram_jaccard.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.8, seeded=True
    )


@register(
    "dedup_simhash",
    dedup.simhash_seeded_oracle_sql(max_hamming=3),
    tags=("dedup", "approx"),
    doc="48-bit SimHash near-dup, hamming <= 3, banded candidate "
    "generation (pigeonhole over 4 bands).  Oracle-backed since r8: "
    "md5-derived token hash makes every bit DuckDB-reproducible.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        load_table(spark, "documents", sf_dir), max_hamming=3, seeded=True
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """,
    tags=("dedup", "blocked"),
    doc="Embedding cosine near-dup pairs >= 0.3 (the corpus is near-"
    "orthogonal; 0.3 captures the true near-dup tail). Exact pair "
    "enumeration at this threshold is inherently Theta(n^2*d) FLOPs; "
    "the declared plan is the triangle block join (hash blocks, "
    "O(n*B) shuffle, per-task Arrow matrix verify) — evenly "
    "distributed quadratic compute, no BNLJ, k-ordered numpy adds "
    "bitwise-equal to DuckDB's list_dot_product (validated). The "
    "BNLJ all-pairs form survives as the pytest oracle; subquadratic "
    "requires the approximate paths (dedup_semantic, LSH).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs_blocked(
        load_table(spark, "embeddings", sf_dir), threshold=0.3
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_bruteforce_topk",
    """
    -- isfinite(list_dot_product(v, v)) mirrors _with_norm's entry
    -- gate: NaN/inf/overflow-magnitude components all fold the
    -- sum-of-squares non-finite in BOTH engines (same IEEE sequence),
    -- so the engines drop the same vectors (r14 ADVICE items 1+2)
    WITH e AS (SELECT vec_id, v
               FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
               WHERE isfinite(list_dot_product(v, v))),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 16),
    s AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(qv, e.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
        FROM q JOIN e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT s.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM s
        -- zero-norm guard mirror: DuckDB's /0 yields NULL, Spark's
        -- per-pair nrm != 0 filter likewise; both DROP the row pre-rank
        WHERE cosine IS NOT NULL
    ) t WHERE rank <= 10
    """,
    tags=("similarity", "all-pairs"),
    doc="Exact cosine top-10 for 16 query vectors: broadcast queries x "
    "corpus scan (corpus never shuffles), per-query window rank.",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 16), k=10)


def _seeded_cells_cte(n_centroids: int) -> str:
    """Shared DuckDB CTE fragment for the seeded-sample coarse
    quantizer (mirrors similarity.seeded_centroids): used by BOTH
    ann_ivf_topk's and dedup_semantic's oracles so the two cannot
    drift on the LCG key or tie-break."""
    return f"""seeds AS (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345)
                            % 2147483648, vec_id) - 1 AS cell, v
        FROM e
        QUALIFY cell < {n_centroids}
    )"""


def _ivf_seeded_oracle_sql(n_centroids: int = 16, n_probe: int = 4,
                           k: int = 10) -> str:
    """DuckDB mirror of similarity.ivf_topk(SeededQuantizer): the seeded-sample
    coarse quantizer is integer LCG arithmetic + ordered double folds,
    both of which DuckDB reproduces bit-for-bit (list_dot_product is
    the same left-to-right fold as the Spark aggregate)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_seeded_cells_cte(n_centroids)},
    -- ef mirrors _with_norm's entry gate on the SCORED sides only:
    -- seed selection (above) stays over the raw corpus, exactly as
    -- similarity.seeded_centroids samples before the gate
    ef AS (SELECT vec_id, v FROM e WHERE isfinite(list_dot_product(v, v))),
    assign AS (
        SELECT e.vec_id AS neighbor_id, e.v AS cv, s.cell
        FROM ef e CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.vec_id
            ORDER BY list_dot_product(e.v, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell) = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM ef WHERE vec_id < 16),
    probes AS (
        SELECT q.query_id, q.qv, s.cell
        FROM q CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY list_dot_product(q.qv, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell)
            <= {n_probe}
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               list_dot_product(p.qv, a.cv)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(a.cv, a.cv))) AS cosine
        FROM probes p JOIN assign a USING (cell)
        WHERE a.neighbor_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
            AS BIGINT) AS rank
        FROM scored
        WHERE cosine IS NOT NULL  -- zero-norm guard mirror (try_divide)
    ) t WHERE rank <= {k}
    """


@register(
    "ann_ivf_topk",
    _ivf_seeded_oracle_sql(),
    tags=("similarity", "approx"),
    doc="IVF approximate top-k, seeded-sample coarse quantizer (16 "
    "cells, 4 probes): a query scans ~25% of the corpus instead of "
    "all of it.  Assignment/probing is a scan-stage argmax against "
    "LITERAL seed vectors (no window, no shuffle); the only shuffle "
    "is the cell equi-join with the probe side broadcast.  The "
    "integer-LCG seed selection makes the whole query DuckDB-"
    "reproducible, so this carries a full oracle (r6 — it was rows-"
    "only when the quantizer was MLlib k-means; that trained variant "
    "remains as similarity.ivf_topk(KMeansQuantizer) with pytest "
    "recall bounds).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 16), similarity.SeededQuantizer(16), k=10
    )


def _lsh_sigs_probes_ctes(planes: int = 4, dim: int = 64) -> str:
    """Shared DuckDB CTE fragment for the LSH retriever (signature
    CASE-sum over literal hyperplane weights + Hamming-1 multiprobe):
    used by BOTH ann_lsh_topk's and eval_ann_recall's oracles so the
    evaluated retriever can never drift from the declared one."""
    ws = similarity.plane_weights(planes, dim)
    sig_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in w)}]) > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p, w in enumerate(ws)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(planes)]
    )
    return f"""sigs AS (
        SELECT vec_id, v, {sig_terms} AS bucket FROM e
    ),
    probes AS (
        SELECT query_id, qv, UNNEST([{probe_list}]) AS bucket
        FROM (SELECT vec_id AS query_id, v AS qv, bucket
              FROM sigs WHERE vec_id < 16)
    )"""


def _lsh_oracle_sql(planes: int = 4, dim: int = 64, k: int = 10) -> str:
    """DuckDB mirror of similarity.lsh_topk: the hyperplane weights
    are driver-computed LCG constants embedded as decimal literals
    (repr round-trips doubles exactly), so signatures match Spark's
    bit-for-bit."""
    return f"""
    -- isfinite gate mirrors _with_norm's entry validation, applied
    -- BEFORE bucketing exactly as similarity.lsh_topk gates before
    -- _bucket_signature (r14 ADVICE items 1+2)
    WITH e AS (SELECT vec_id, v
               FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
               WHERE isfinite(list_dot_product(v, v))),
    {_lsh_sigs_probes_ctes(planes, dim)},
    scored AS (
        SELECT p.query_id, s.vec_id AS neighbor_id,
               list_dot_product(p.qv, s.v)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(s.v, s.v))) AS cosine
        FROM probes p JOIN sigs s USING (bucket)
        WHERE s.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
            AS BIGINT) AS rank
        FROM scored
        WHERE cosine IS NOT NULL  -- zero-norm guard mirror (try_divide)
    ) t WHERE rank <= {k}
    """


@register(
    "ann_lsh_topk",
    _lsh_oracle_sql(),
    tags=("similarity", "approx"),
    doc="Hyperplane-LSH bucketed top-k — the 100 TB path (bucket join "
    "replaces the cross product), with Hamming-1 multi-probe.  "
    "Hyperplanes are driver-computed LCG literals (scan-stage "
    "constants; r5 re-evaluated xxhash64 per row per (plane, dim)), "
    "which also makes the query DuckDB-reproducible: full oracle "
    "since r6.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 16), k=10, planes=4)


@register(
    "approx_aggregates",
    None,  # HLL / KLL sketches are engine-specific by construction
    tags=("agg", "approx"),
    doc="The 100 TB aggregate path: approx_count_distinct (HLL++) and "
    "approx_percentile (KLL-ish) — sketch-based, mergeable, one pass. "
    "pytest bounds their error against the exact values.",
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median_price"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
               AS n_subword_tokens
    FROM documents
    """,
    tags=("textstats",),
    doc="Whitespace token count + BPE-ish subword proxy (words / digits "
    "/ punctuation as separate matches).",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cols = textstats.token_count_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "text_quality_score",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces,
           0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE))
             + 0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
             + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                            / CAST(length(text) AS DOUBLE)) AS quality_score
    FROM documents
    """,
    tags=("textstats",),
    doc="Quality heuristics: alpha/punct ratios + length score -> "
    "composite; deterministic double math from integer ratios.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cols = textstats.quality_score_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


_LANG_HITS_SQL = {
    lang: rf"CAST(len(regexp_extract_all(lower(text), '\b({'|'.join(words)})\b')) AS BIGINT)"
    for lang, words in textstats.LANG_MARKERS.items()
}


@register(
    "text_lang_id",
    f"""
    SELECT doc_id,
           {_LANG_HITS_SQL['en']} AS hits_en,
           {_LANG_HITS_SQL['de']} AS hits_de,
           {_LANG_HITS_SQL['fr']} AS hits_fr,
           {_LANG_HITS_SQL['es']} AS hits_es,
           CASE
             WHEN {_LANG_HITS_SQL['en']} >= greatest({_LANG_HITS_SQL['de']}, {_LANG_HITS_SQL['fr']}, {_LANG_HITS_SQL['es']}, 1) THEN 'en'
             WHEN {_LANG_HITS_SQL['de']} >= greatest({_LANG_HITS_SQL['fr']}, {_LANG_HITS_SQL['es']}, 1) THEN 'de'
             WHEN {_LANG_HITS_SQL['fr']} >= greatest({_LANG_HITS_SQL['es']}, 1) THEN 'fr'
             WHEN {_LANG_HITS_SQL['es']} >= 1 THEN 'es'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """,
    tags=("textstats",),
    doc="Marker-word n-gram language ID; argmax with declaration-order "
    "tie-break, 'und' when no marker hits.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    counts = textstats.lang_marker_counts(text)
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        textstats.lang_id_col(text).alias("lang_pred"),
    )


@register(
    "pipeline_quality_filter",
    r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
    WHERE length(text) BETWEEN 100 AND 2000
      AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE) >= 0.6
      AND len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 10 AND 500
      AND regexp_matches(lower(text), '\b(the|and|of|to|is)\b')
    """,
    tags=("textstats", "pipeline"),
    doc="Composed training-data filter: length bounds + letter-ratio "
    "floor + token bounds + an English-marker requirement — the "
    "filter-cascade shape of a corpus-cleaning pass, one codegen'd "
    "scan, every predicate pushable.",
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    n_tokens = F.size(F.split(F.trim(text), r"\s+"))
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
        / F.length(text).cast("double")
    )
    has_en_marker = F.lower(text).rlike(r"\b(the|and|of|to|is)\b")
    return (
        docs.filter(
            F.length(text).between(100, 2000)
            & (alpha_ratio >= 0.6)
            & n_tokens.between(10, 500)
            & has_en_marker
        )
        .select("doc_id", n_tokens.cast("bigint").alias("n_tokens"))
    )


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    tags=("textstats",),
    doc="Normalization fingerprint (lower + whitespace collapse + md5).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", textstats.fingerprint_col(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_byte_histogram",
    r"""
    WITH hx AS (
        SELECT doc_id, concat(md5(text), md5(text || '#2')) AS h
        FROM documents
    ),
    nib AS (
        -- byte j's HIGH nibble is hex char 2j-1 of the 64-char string,
        -- and the numpy path bins by (byte >> 4), so the histogram is
        -- a character count over the odd positions
        SELECT doc_id, substr(h, 2 * g.j - 1, 1) AS c
        FROM hx CROSS JOIN generate_series(1, 32) AS g(j)
    ),
    cnt AS (
        SELECT doc_id, b.bin AS bin,
               SUM(CASE WHEN strpos('0123456789abcdef', c) - 1 = b.bin
                        THEN 1 ELSE 0 END) AS n
        FROM nib CROSS JOIN generate_series(0, 15) AS b(bin)
        GROUP BY doc_id, b.bin
    )
    SELECT doc_id, CAST(32 AS BIGINT) AS n_bytes, CAST(bin AS INT) AS bin,
           CAST(n AS DOUBLE) / 32.0 AS frac
    FROM cnt
    """,
    tags=("multimodal",),
    doc="Binary media column plumbing: attach (media binary, meta "
    "struct), extract 16-bin byte histograms via Arrow-batched "
    "mapInPandas. The decode-to-image step is stubbed (no codec libs "
    "in this environment); the batch shape is the real one.  Oracle-"
    "backed since r8: the fake blob is unhex(md5(text)||md5(text||'#2')),"
    " so each byte's high nibble is a hex character of the md5 strings "
    "and DuckDB reproduces the numpy bincount by counting characters at "
    "odd positions; fractions n/32 are exact dyadic doubles.  The "
    "declared output posexplodes the histogram to scalars because the "
    "driver's value-hash canonicalizes scalar columns (the "
    "embedding_quantize_int8 lesson); the Arrow batch stage still "
    "produces the fixed-width array a real embedder would.",
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.extract_features(media, allow_fake=True)
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.posexplode("byte_histogram").alias("bin", "frac"),
    ).select(
        "doc_id", "n_bytes", F.col("bin").cast("int").alias("bin"),
        F.col("frac").cast("double").alias("frac"),
    )


# ---------------------------------------------------------------------------
# Embedding utilities + deterministic sampling (training-data mixing)
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e)
    SELECT vec_id, u.dim AS dim, u.q AS q, scale FROM (
        SELECT vec_id, scale,
               unnest([{'dim': CAST(i - 1 AS INT),
                        'q': COALESCE(CAST(floor(v[i] / nullif(scale, 0.0) + 0.5)
                                           AS INT), 0)}
                       for i in generate_series(1, len(v))]) AS u
        FROM s) t
    """,
    tags=("embedding",),
    doc="Symmetric per-vector int8 quantization (scale = max|v|/127, "
    "q = floor(v/scale + 0.5)) — the 4x shrink before ANN index build "
    "or trainer export. floor-based rounding is bit-deterministic "
    "across engines where round() half-tie rules differ; output "
    "exploded to scalars so the value-hash canonicalizes.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.embeddings import quantize_int8

    return quantize_int8(load_table(spark, "embeddings", sf_dir))


@register(
    "sample_stratified_lang",
    """
    WITH b AS (
        SELECT doc_id, lang, source,
               ((doc_id % 2147483648) * 1103515245 + 12345) // 65536 % 10000
                   AS bucket
        FROM documents
    )
    SELECT doc_id, lang, source FROM b
    WHERE bucket < CAST(
        (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25
                   WHEN 'de' THEN 0.10 ELSE 0.02 END) * 10000 AS BIGINT)
    """,
    tags=("sampling",),
    doc="Deterministic stratified sampling for training mixes: keep "
    "~rate[lang] of each language via an integer-only LCG bucket of "
    "doc_id — membership is a pure key function (reproducible across "
    "engines, retries, and partition layouts, unlike df.sample). "
    "Scan-stage filter: no shuffle, no RNG state.",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import sample_stratified

    docs = load_table(spark, "documents", sf_dir)
    return sample_stratified(
        docs,
        rates={"en": 0.5, "zh": 0.25, "de": 0.10},
        stratum_col="lang",
        key_col="doc_id",
        default_rate=0.02,
    ).select("doc_id", "lang", "source")


def _pack_oracle() -> str:
    from ..extensions.packing import pack_oracle_sql

    return pack_oracle_sql(budget=512, n_groups=8)


@register(
    "pack_sequences_docs",
    _pack_oracle(),
    tags=("packing",),
    doc="Sequence packing (trainer prep): docs -> fixed token-budget "
    "bins via deterministic group bucketing + per-group first-fit-"
    "decreasing in applyInPandas (the sanctioned custom-operator "
    "shape: the FFD loop has no native equivalent; groups are the "
    "parallelism unit). pytest asserts budget, coverage, efficiency "
    "and partition-invariance.  Oracle-backed since r10: FFD is a "
    "sequential fold over each group's (n_tokens desc, doc_id) order, "
    "and a recursive CTE replays a fold exactly — iteration r places "
    "each group's rank-r doc, carrying open-bin capacities as list "
    "state (extensions/packing.pack_oracle_sql); the LCG group bucket "
    "is already cross-engine integer arithmetic.",
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.packing import pack_sequences

    return pack_sequences(load_table(spark, "documents", sf_dir), budget=512, n_groups=8)


@register(
    "dedup_clusters",
    r"""
    WITH RECURSIVE ex AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 8)
                   for i in generate_series(1, greatest(length(text)-7, 1))])) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), labels(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label FROM edges e JOIN labels l ON l.node = e.dst
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM labels GROUP BY node
    """,
    tags=("dedup", "iterative"),
    doc="Connected components over the exact near-dup pairs (iterative "
    "min-label propagation, Kiveris SoCC'14 style): the transitive-"
    "closure step a dedup cascade needs before choosing keepers — "
    "pairwise 'keep one of each' over-deletes. Rounds = component "
    "diameter; one shuffle join per round; driver loop is control "
    "flow only. Oracle: DuckDB WITH RECURSIVE transitive closure + "
    "min-reachable-id per node; pytest additionally cross-checks a "
    "Python union-find.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix variant: result-identical to the plain sparse join (same
    # oracle) and ~10x faster at sf0.1 (13s vs 132s) because hot
    # common shingles never enter the candidate join
    pairs = dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, "documents", sf_dir), threshold=0.8, hashed=True
    )
    return dedup.duplicate_clusters(pairs)


@register(
    "text_repetition_stats",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2
    ), top AS (
        SELECT doc_id,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac,
               CAST(SUM(c) AS BIGINT) AS n_words
        FROM wc GROUP BY doc_id
    ), bi AS (
        SELECT doc_id,
               1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                   / CAST(len(bg) AS DOUBLE) AS dup_bigram_frac
        FROM (
            SELECT doc_id,
                   [ws[i] || ' ' || ws[i+1]
                    for i in generate_series(1, len(ws) - 1)] AS bg
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') AS ws
                  FROM documents) t
        ) u
    )
    SELECT top.doc_id AS doc_id, top_word_frac, n_words, dup_bigram_frac
    FROM top JOIN bi ON top.doc_id = bi.doc_id
    """,
    tags=("textstats",),
    doc="Repetition quality signals (Gopher/MassiveText rules): top-"
    "word dominance + duplicate-bigram fraction. Word mode shuffles "
    "one row per distinct (doc, word) after map-side combine; bigram "
    "ratios are scan-stage array expressions. Integer-ratio doubles "
    "-> bit-deterministic.",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(load_table(spark, "documents", sf_dir))


@register(
    "text_rare_token_stats",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), cf AS (
        SELECT w, COUNT(*) AS cf FROM w GROUP BY w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN cf < 5 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS rare_frac,
           CAST(SUM(cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_cf
    FROM w JOIN cf USING (w)
    GROUP BY doc_id
    """,
    tags=("textstats",),
    doc="Corpus-frequency quality signals: fraction of token "
    "occurrences whose corpus collection frequency < 5, plus mean "
    "token frequency — the data-driven junk/boilerplate detector. "
    "Two shuffles (vocab aggregate, token join-back with AQE skew "
    "guard on Zipf hot keys); integer-count ratios in double -> "
    "bit-deterministic.",
)
def text_rare_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.rare_token_stats(load_table(spark, "documents", sf_dir))


@register(
    "text_unigram_surprisal",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), cf AS (
        SELECT w, COUNT(*) AS cf FROM w GROUP BY w
    ), n AS (
        SELECT COUNT(*) AS n_corpus FROM w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM((length(bin(n_corpus)) - 1) - (length(bin(cf)) - 1))
                AS BIGINT) AS sum_surprisal_bits,
           CAST(SUM((length(bin(n_corpus)) - 1) - (length(bin(cf)) - 1))
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_surprisal_bits
    FROM w JOIN cf USING (w) CROSS JOIN n
    GROUP BY doc_id
    """,
    tags=("textstats", "tiny-bnlj"),
    doc="Unigram-LM surprisal scoring (KenLM-perplexity stand-in, the "
    "CCNet quality-bucket signal): per-token integer surprisal "
    "ilog2(N)-ilog2(cf) bits via bit-length (fp log2 is not cross-"
    "engine-stable), per-doc exact sum + one int/int division. Same "
    "two-shuffle shape as text_rare_token_stats; corpus total is a "
    "one-row broadcast.",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.unigram_surprisal(load_table(spark, "documents", sf_dir))


@register(
    "text_line_dedup",
    r"""
    WITH l AS (
        SELECT doc_id,
               unnest(generate_series(1, len(lines))) - 1 AS pos,
               unnest(lines) AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS lines
              FROM documents) t
    ), o AS (
        SELECT line, COUNT(*) AS n, MIN(doc_id) AS od FROM l GROUP BY line
    ), o2 AS (
        SELECT o.line, o.n, o.od, MIN(l.pos) AS op
        FROM l JOIN o ON l.line = o.line AND l.doc_id = o.od
        GROUP BY 1, 2, 3
    ), k AS (
        SELECT l.doc_id, l.pos, l.line,
               (o2.n = 1 OR (l.doc_id = o2.od AND l.pos = o2.op)) AS keep
        FROM l JOIN o2 ON l.line = o2.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS dup_line_frac,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY pos), '') AS cleaned_text
    FROM k GROUP BY doc_id
    """,
    tags=("textstats", "dedup"),
    doc="Cross-corpus line-level dedup (CCNet prep): repeated "
    "boilerplate lines keep only their canonical (min doc, min pos) "
    "occurrence; per doc emits n_lines, removed fraction and the "
    "cleaned text rebuilt in original order. Line shuffle + per-doc "
    "rebuild; whole docs never ride the line shuffle.",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.line_dedup(load_table(spark, "documents", sf_dir))


@register(
    "graph_knn_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine, rank FROM (
        SELECT s.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM s
        WHERE cosine IS NOT NULL  -- zero-norm guard mirror (try_divide)
    ) t WHERE rank <= 5
    """,
    tags=("similarity", "blocked"),
    doc="Exact cosine 5-NN graph over the whole corpus (SemDeDup "
    "pruning / density scoring / diversity-sampling primitive). "
    "Triangle block join; each Arrow task emits only its local top-k "
    "per vector, so the reduce side sees O(n*B*k) candidates, never "
    "O(n^2). k-ordered numpy adds keep cosines bitwise-equal to the "
    "DuckDB oracle.",
)
def graph_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_graph(load_table(spark, "embeddings", sf_dir), k=5)


@register(
    "dedup_cascade",
    dedup.cascade_oracle_sql(threshold=0.8),
    tags=("dedup", "iterative"),
    doc="The composed dedup pipeline: exact fingerprint pass (cheapest "
    "first, shrinks the corpus) -> prefix-filtered exact Jaccard pairs "
    "over survivors -> connected-component cluster resolution -> one "
    "keep decision + reason per document. pytest asserts keeper-set "
    "soundness (no kept near-dup pair, every drop has a kept witness). "
    "Oracle-backed since r8: the Spark iterative min-label CC converges "
    "to the same components as the oracle's recursive-CTE transitive "
    "closure, so the whole composition is value-checkable.",
)
def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_cascade(load_table(spark, "documents", sf_dir), threshold=0.8)


@register(
    "multimodal_frame_sample",
    """
    WITH m AS (
        SELECT doc_id,
               CAST(length(text) % 300 + 5 AS DOUBLE) AS duration_s,
               CAST(length(text) % 3 * 6 + 12 AS DOUBLE) AS fps
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS sample_idx,
           CAST(i AS DOUBLE) * 10.0 AS t_seconds,
           CAST(floor(CAST(i AS DOUBLE) * 10.0 * fps) AS BIGINT) AS frame_idx
    FROM m, UNNEST(generate_series(0, CAST(floor(duration_s / 10.0) AS INT))) AS t(i)
    """,
    tags=("multimodal",),
    doc="Video frame-sampling plan: one row per sampled frame "
    "(timestamp + frame index from the metadata struct's duration/fps "
    "— floor(t*fps) is what a seek-based decoder consumes). Pure "
    "Catalyst sequence/explode; the binary payload is dropped BEFORE "
    "the explode so blobs never multiply. Deterministic fake meta -> "
    "full oracle.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.attach_fake_video_meta(docs)
    return multimodal.sample_frames(media, every_n_seconds=10.0)


@register(
    "text_bigram_topk",
    r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ), bg AS (
        SELECT unnest([ws[i] || ' ' || ws[i+1]
                       for i in generate_series(1, len(ws) - 1)]) AS bigram
        FROM w
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    tags=("textstats",),
    doc="Corpus vocabulary analysis: top-50 bigrams by frequency "
    "(training-mix token audits / contamination screens). Map-side "
    "partial counts collapse the exploded bigrams before the shuffle; "
    "top-k is TakeOrderedAndProject (per-partition heaps). Full-order "
    "tiebreak on the bigram string for cross-engine determinism.",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(textstats.word_bigrams(F.col("text"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


@register(
    "dedup_keeper_decisions",
    r"""
    WITH RECURSIVE ex AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, 8)
                   for i in generate_series(1, greatest(length(text)-7, 1))])) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), labels(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label FROM edges e JOIN labels l ON l.node = e.dst
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(MIN(label) AS BIGINT) AS cluster_id,
           CAST(node = MIN(label) AS BOOLEAN) AS keep
    FROM labels GROUP BY node
    """,
    tags=("dedup", "iterative"),
    doc="Keeper decisions over near-dup clusters: one representative "
    "(min id) per connected component, the rest marked for drop — "
    "the terminal output of the dedup pipeline. Same recursive-CTE "
    "oracle as dedup_clusters plus the keep flag.",
)
def dedup_keeper_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix variant: same exact pairs, skew-proof (see dedup_clusters)
    pairs = dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, "documents", sf_dir), threshold=0.8, hashed=True
    )
    return dedup.dedup_keepers(pairs)


# ---------------------------------------------------------------------------
# Chunking + PII scan (context-window prep and compliance sweep)
# ---------------------------------------------------------------------------


@register(
    "text_chunk_docs",
    r"""
    WITH nz AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    idx AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                   CAST(floor((length(text)-1)/150) AS BIGINT))) AS chunk_id
        FROM nz
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           substring(text, CAST(chunk_id*150 + 1 AS INT), 200) AS chunk_text,
           CAST(length(substring(text, CAST(chunk_id*150 + 1 AS INT), 200))
                AS BIGINT) AS chunk_len
    FROM idx
    """,
    tags=("textstats", "chunking"),
    doc="Overlapping fixed-size character chunks (size=200, stride=150) "
    "for context-window-bounded embedding corpora; sequence + posexplode "
    "+ substring, scan-stage only. Empty docs yield zero chunks.",
)
def text_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.chunk_documents(load_table(spark, "documents", sf_dir))


def _pii_oracle_sql() -> str:
    from ..extensions.textstats import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(length(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    redacted = "text"
    for name, pat in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{pat}', '<{name.upper()}>', 'g')"
    total = " + ".join(
        f"length(regexp_extract_all(text, '{pat}'))" for pat in PII_PATTERNS.values()
    )
    return f"""
    SELECT doc_id,
           {counts},
           CAST(({total}) > 0 AS INT) AS has_pii,
           {redacted} AS redacted
    FROM documents
    """


@register(
    "text_pii_scan",
    _pii_oracle_sql(),
    tags=("textstats", "compliance"),
    doc="PII signal counts + typed-placeholder redaction per document "
    "(email/phone/ipv4/ssn; ASCII-only RE2/Java-agreeing patterns). "
    "Native regexp_extract_all/regexp_replace, scan-stage, no shuffle — "
    "the shape of a 100 TB compliance sweep.",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.pii_scan(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# Corpus audits + decontamination + temperature sampling
# ---------------------------------------------------------------------------


@register(
    "corpus_length_histogram",
    """
    WITH g AS (
        SELECT CASE WHEN n_chars <= 0 THEN -1
                    ELSE CAST(length(bin(n_chars)) - 1 AS BIGINT) END AS len_bucket,
               n_chars
        FROM documents
    ), a AS (
        SELECT len_bucket, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars,
               MIN(n_chars) AS min_len, MAX(n_chars) AS max_len
        FROM g GROUP BY len_bucket
    )
    SELECT len_bucket, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(min_len AS BIGINT) AS min_len,
           CAST(max_len AS BIGINT) AS max_len,
           CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS share
    FROM a
    """,
    tags=("audit", "tiny-global-window"),
    doc="Power-of-two document-length histogram (tokenizer budgeting / "
    "truncation-policy audit). One hash-agg shuffle to O(buckets) rows; "
    "the share denominator is a window over the AGGREGATE, so the corpus "
    "is scanned once. Bucket = bit-length - 1 (integer-exact floor(log2) "
    "on both engines; fp log2 is not cross-engine-stable at powers of 2).",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.audit import length_histogram

    return length_histogram(load_table(spark, "documents", sf_dir))


@register(
    "corpus_source_report",
    r"""
    WITH g AS (
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
                   AS n_distinct,
               SUM(n_chars) AS total_chars,
               MIN(n_chars) AS min_len, MAX(n_chars) AS max_len
        FROM documents GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(min_len AS BIGINT) AS min_len,
           CAST(max_len AS BIGINT) AS max_len
    FROM g
    """,
    tags=("audit",),
    doc="Per-source corpus health report: volume, exact-duplicate rate "
    "(same md5 normalization fingerprint as dedup_exact, so the report "
    "and the dedup stage agree), length extent. COUNT(DISTINCT md5) is "
    "a two-stage partial-distinct aggregate — one shuffle keyed on "
    "source; this is the table per-source sampling weights read off.",
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.audit import source_report

    return source_report(load_table(spark, "documents", sf_dir))


@register(
    "decontam_ngram_overlap",
    r"""
    WITH ev AS (
        SELECT DISTINCT unnest(list_distinct(
                   [array_to_string(words[i:i+2], ' ')
                    for i in generate_series(1, len(words) - 2)])) AS g
        FROM (SELECT list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words
              FROM documents WHERE doc_id % 97 = 0)
    ), tr AS (
        SELECT doc_id, list_distinct(
                   [array_to_string(words[i:i+2], ' ')
                    for i in generate_series(1, len(words) - 2)]) AS grams
        FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words
              FROM documents WHERE doc_id % 97 <> 0)
    ), x AS (
        SELECT doc_id, len(grams) AS n_ngrams, unnest(grams) AS g FROM tr
    )
    SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams,
           CAST(n_ngrams AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS share
    FROM x JOIN ev USING (g)
    GROUP BY x.doc_id, n_ngrams
    """,
    tags=("decontam",),
    doc="Train/eval decontamination: flag training docs sharing word "
    "3-grams with a held-out eval slice (doc_id % 97 == 0). Eval n-gram "
    "set is distinct-ed once and BROADCAST as 8-byte xxhash64 keys; the "
    "train side is scan-stage tokenize/explode + broadcast hash join + "
    "partial-agg count per doc — zero train-side shuffle before the "
    "per-doc aggregate. The canonical pretraining hygiene sweep.",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.decontam import flag_contamination

    docs = load_table(spark, "documents", sf_dir)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return flag_contamination(train, eval_df, n=3)


@register(
    "sample_temperature_lang",
    """
    WITH c AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), r AS (
        SELECT lang, least(1.0, 8.0 / sqrt(CAST(n AS DOUBLE))) AS rate FROM c
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
    WHERE ((d.doc_id % 2147483648) * 1103515245 + 12345) // 65536 % 10000
          < CAST(floor(rate * 10000) AS BIGINT)
    """,
    tags=("sampling",),
    doc="Temperature-flattened sampling (alpha=0.5 multilingual mix): "
    "stratum keep-rate min(1, c/sqrt(n)) — a 4x-larger language gives "
    "only 2x the rows. Stratum counts are a tiny aggregate broadcast "
    "back onto a scan-stage LCG-bucket filter (null-safe join keeps "
    "NULL strata); membership is a pure key function, reproducible "
    "across engines, retries, and partition layouts.",
)
def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import sample_temperature

    docs = load_table(spark, "documents", sf_dir)
    return sample_temperature(docs, "lang", "doc_id", coefficient=8.0).select(
        "doc_id", "lang", "source"
    )


@register(
    "dedup_incremental",
    r"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents WHERE doc_id % 5 = 4
    ), store AS (
        SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents WHERE doc_id % 5 <> 4
    ), firsts AS (
        SELECT doc_id, fingerprint,
               MIN(doc_id) OVER (PARTITION BY fingerprint) = doc_id AS is_first
        FROM fp
    )
    SELECT doc_id, fingerprint,
           CASE WHEN NOT is_first THEN 'dup_in_batch'
                WHEN fingerprint IN (SELECT fingerprint FROM store)
                    THEN 'dup_of_corpus'
                ELSE 'accept' END AS verdict
    FROM firsts
    """,
    tags=("dedup", "incremental"),
    doc="Incremental admission dedup: fingerprint only the NEW batch "
    "(docs with doc_id%5==4 here), window min-id for batch-internal "
    "copies, LEFT join against the accepted-corpus fingerprint store "
    "(rest of documents) for cross-batch copies. The per-crawl-drop "
    "pass at 100 TB: the store is never re-fingerprinted, and bucketed "
    "by fingerprint the join needs no store-side shuffle.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    store = dedup.exact_duplicates(corpus).select("fingerprint")
    return dedup.incremental_dedup(batch, store)


@register(
    "pipeline_training_mix",
    r"""
    WITH q AS (
        SELECT doc_id, text, lang, source FROM documents
        WHERE length(text) BETWEEN 100 AND 2000
          AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) >= 0.6
          AND len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 10 AND 500
          AND regexp_matches(lower(text), '\b(the|and|of|to|is)\b')
          AND doc_id % 97 <> 0
    ), ev AS (
        SELECT DISTINCT unnest(list_distinct(
                   [array_to_string(words[i:i+2], ' ')
                    for i in generate_series(1, len(words) - 2)])) AS g
        FROM (SELECT list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words
              FROM documents WHERE doc_id % 97 = 0)
    ), tr AS (
        SELECT doc_id, list_distinct(
                   [array_to_string(words[i:i+2], ' ')
                    for i in generate_series(1, len(words) - 2)]) AS grams
        FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words FROM q)
    ), x AS (
        SELECT doc_id, len(grams) AS n_ngrams, unnest(grams) AS g FROM tr
    ), contam AS (
        SELECT x.doc_id FROM x JOIN ev USING (g)
        GROUP BY x.doc_id, n_ngrams
        HAVING CAST(COUNT(*) AS DOUBLE) / CAST(n_ngrams AS DOUBLE) >= 0.2
    ), survive AS (
        SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ), keep AS (
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   MIN(doc_id) OVER (PARTITION BY
                       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
                       AS keeper
            FROM survive)
        WHERE doc_id = keeper
    ), c AS (
        SELECT lang, COUNT(*) AS n FROM keep GROUP BY lang
    ), r AS (
        SELECT lang, least(1.0, 8.0 / sqrt(CAST(n AS DOUBLE))) AS rate FROM c
    )
    SELECT k.doc_id, k.lang, k.source
    FROM keep k JOIN r ON k.lang IS NOT DISTINCT FROM r.lang
    WHERE ((k.doc_id % 2147483648) * 1103515245 + 12345) // 65536 % 10000
          < CAST(floor(rate * 10000) AS BIGINT)
    """,
    tags=("pipeline", "dedup", "decontam", "sampling"),
    doc="The end-to-end training-data build as ONE declared plan: "
    "quality filter (scan-stage predicates) -> eval-set "
    "decontamination (broadcast n-gram probe, drop share>=0.2) -> "
    "exact-dedup keepers (one fingerprint window) -> temperature-"
    "flattened language mix (broadcast rates + LCG bucket filter). "
    "Every stage is deterministic, so the whole composition is "
    "oracle-checkable; at 100 TB it is one scan, one broadcast "
    "probe, and two narrow shuffles (fingerprint, lang counts).",
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..extensions.decontam import flag_contamination
    from ..extensions.sampling import sample_temperature

    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    n_tokens = F.size(F.split(F.trim(text), r"\s+"))
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
        / F.length(text).cast("double")
    )
    quality = docs.filter(
        F.length(text).between(100, 2000)
        & (alpha_ratio >= 0.6)
        & n_tokens.between(10, 500)
        & F.lower(text).rlike(r"\b(the|and|of|to|is)\b")
        & (F.col("doc_id") % 97 != 0)
    ).select("doc_id", "text", "lang", "source")

    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    contaminated = flag_contamination(quality, eval_df, n=3).filter(
        F.col("share") >= 0.2
    )
    survive = quality.join(contaminated.select("doc_id"), "doc_id", "left_anti")

    keeper = F.min("doc_id").over(
        Window.partitionBy(textstats.fingerprint_col(F.col("text")))
    )
    keep = (
        survive.withColumn("__keeper", keeper)
        .filter(F.col("doc_id") == F.col("__keeper"))
        .select("doc_id", "lang", "source")
    )
    return sample_temperature(keep, "lang", "doc_id", coefficient=8.0).select(
        "doc_id", "lang", "source"
    )


def _semantic_seeded_oracle_sql(n_clusters: int = 16,
                                threshold: float = 0.3) -> str:
    """DuckDB mirror of dedup.semantic_dedup_pairs(SeededQuantizer) (same seeded
    quantizer construction as ann_ivf_topk's oracle)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_seeded_cells_cte(n_clusters)},
    assign AS (
        SELECT e.vec_id, e.v, s.cell
        FROM e CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.vec_id
            ORDER BY list_dot_product(e.v, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell) = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cosine
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= {threshold}
    """


@register(
    "dedup_semantic",
    _semantic_seeded_oracle_sql(),
    tags=("dedup", "semantic"),
    doc="SemDeDup-style semantic near-dup pairs: coarse cells, exact "
    "cosine within cells only - the comparison is an equi-join on the "
    "cell id (one shuffle, sum C(cell,2) work), never a cross join. "
    "Emitted pairs carry their true cosine, so precision is exact. "
    "The declared query uses the seeded-sample quantizer "
    "(integer-LCG seed selection, scan-stage argmax against literal "
    "seed vectors — DuckDB-reproducible, full oracle since r6); the "
    "MLlib k-means quantizer (similarity.KMeansQuantizer) remains "
    "the production choice, with pytest recall bounds against the "
    "all-pairs oracle.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.3 = the synthetic corpus' same-label similarity band
    # (it has no planted near-identical vectors); pytest covers the
    # high-threshold regime with planted copies
    return dedup.semantic_dedup_pairs(
        load_table(spark, "embeddings", sf_dir),
        similarity.SeededQuantizer(16),
        threshold=0.3,
    )


def _split_summary_oracle_sql() -> str:
    from ..extensions.sampling import split_case_oracle_sql

    return f"""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM (
        SELECT doc_id,
               {split_case_oracle_sql(indent=15)}
        FROM documents
    ) GROUP BY split
    """


@register(
    "sample_train_val_test",
    _split_summary_oracle_sql(),
    tags=("sampling",),
    doc="Deterministic train/val/test assignment (90/5/5 by LCG bucket "
    "ranges of doc_id): same row -> same split on every engine, retry "
    "and backfill — no RNG leakage between splits. Scan-stage CASE; "
    "the summary here is one tiny aggregate.  The oracle's split CASE "
    "is GENERATED from assign_splits' own rate/bucket literals "
    "(sampling.split_case_oracle_sql) — shared with eval_split_leakage "
    "and lm_heldout_surprisal so the three oracles can never drift "
    "from the assigner or from each other.",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import assign_splits

    docs = load_table(spark, "documents", sf_dir)
    return (
        assign_splits(docs, "doc_id", val_rate=0.05, test_rate=0.05)
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
    )


@register(
    "sample_eval_per_lang",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345)
                            // 65536 % 10000, doc_id) AS rn
        FROM documents
    ) WHERE rn <= 25
    """,
    tags=("sampling",),
    doc="Fixed-size per-language eval draw: exactly min(25, n_lang) "
    "docs per language, ranked by (LCG bucket, id) — exact output "
    "size (rate sampling can't give that) and stable under reruns / "
    "repartitioning. One per-stratum rank window.",
)
def sample_eval_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import sample_fixed_per_stratum

    docs = load_table(spark, "documents", sf_dir)
    return sample_fixed_per_stratum(docs, "lang", "doc_id", n_per_stratum=25).select(
        "doc_id", "lang"
    )


@register(
    "sample_token_budget_lang",
    r"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang
                                   ORDER BY n_chars DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 2000
    """,
    tags=("sampling",),
    doc="Per-language token-budget selection: longest-first ordered "
    "prefix whose cumulative whitespace-token count stays within 2k "
    "tokens per lang — training mixes are priced in tokens, not docs. "
    "One per-stratum cumulative-sum window (shuffle keyed by lang, "
    "never a global window); exact integer sums.",
)
def sample_token_budget_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import sample_token_budget

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return sample_token_budget(
        docs, "lang", "n_chars", "n_tokens", budget=2000
    ).select("doc_id", "lang", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens"))


@register(
    "embedding_label_centroids",
    """
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1048576.0 AS mean_val
    FROM (
        SELECT label,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS q,
               unnest([i for i in generate_series(0, len(embedding) - 1)]) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
    tags=("embeddings",),
    doc="Per-label centroid (class prototype / IVF-coarse seed): "
    "dimension-wise mean via posexplode + one (label, pos) hash "
    "aggregate.  Components are quantized to the exact binary grid "
    "2^-20 (multiply-by-2^20 is exact fp; error <= 5e-7, far below "
    "float32 noise) so sums are exact BIGINTs below 2^53 and every "
    "later double op is one correctly-rounded step — decimal "
    "accumulators are NOT enough here because the DECIMAL->DOUBLE "
    "cast itself differs by 1 ulp between engines. Emitted as "
    "(label, pos, mean_val) rows.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).withColumn("q", F.round(F.col("val") * 1048576).cast("bigint"))
    return ex.groupBy("label", F.col("pos").cast("bigint").alias("pos")).agg(
        (F.sum("q").cast("double") / F.count("*") / F.lit(1048576.0)).alias("mean_val")
    )


@register(
    "multimodal_hist_verify",
    """
    WITH h AS (
        SELECT doc_id, md5(text) || md5(text || '#2') AS hx FROM documents
    ), pos AS (
        SELECT doc_id,
               strpos('0123456789abcdef', substring(hx, 2 * i - 1, 1)) - 1 AS bin
        FROM h, generate_series(1, 32) t(i)
    ), cnt AS (
        SELECT doc_id, bin, COUNT(*) AS n FROM pos GROUP BY 1, 2
    ), grid AS (
        SELECT doc_id, g.b AS bin FROM h, generate_series(0, 15) g(b)
    )
    SELECT grid.doc_id, CAST(grid.bin AS BIGINT) AS bin,
           COALESCE(CAST(cnt.n AS DOUBLE), 0.0) / 32.0 AS share
    FROM grid LEFT JOIN cnt ON cnt.doc_id = grid.doc_id AND cnt.bin = grid.bin
    """,
    tags=("multimodal",),
    doc="Oracle-verified multimodal feature stage: the SAME Arrow "
    "mapInPandas numpy histogram as multimodal_byte_histogram, "
    "exploded to (doc_id, bin, share) scalar rows and cross-checked "
    "against a pure-SQL reconstruction (fake blob = unhex(md5(text)||md5(text||'#2')), "
    "so the high nibble of byte i is a hex char the oracle can count; "
    "share = n/32 is an exact power-of-two division). This closes the "
    "loop on the one Python extension stage: the UDF's numeric output "
    "is value-hash-matched cross-engine, not just pytest-shaped.",
)
def multimodal_hist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = multimodal.extract_features(multimodal.attach_fake_media(docs), allow_fake=True)
    return feats.select(
        "doc_id", F.posexplode("byte_histogram").alias("bin", "share")
    ).select("doc_id", F.col("bin").cast("bigint").alias("bin"), "share")


@register(
    "er_fuzzy_part_names",
    """
    WITH n AS (
        SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY 1
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
    FROM n a JOIN n b
      ON length(a.name) = length(b.name) AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    """,
    tags=("entity-resolution", "dedup"),
    doc="Blocked fuzzy entity matching over the part catalog: distinct "
    "names compared within equal-length blocks, Levenshtein <= 2 "
    "emitted with each side's row weight. The distinct step collapses "
    "row-level duplicates BEFORE any comparison, so candidate cost "
    "scales with the name vocabulary (sum C(block,2)), not the "
    "catalog; the block join is a pure equi-join on length. Integer "
    "distances/counts -> bit-deterministic.",
)
def er_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    return dedup.blocked_fuzzy_pairs(part, "p_name", max_dist=2)


def _pagerank_knn_oracle_sql(iters: int = 10, k: int = 5, scale: int = 1 << 40) -> str:
    """Unrolled fixed-point PageRank oracle: recursive CTEs cannot
    aggregate in the recursive term, but the iteration count is a
    STATIC constant, so the power iteration unrolls into ``iters``
    chained plain CTEs — each one the same integer update the Spark
    loop performs (floor contributions, 17/20 damping, (3*scale) div
    (20*n) teleport).  Every value is a BIGINT; both engines floor
    positive divisions identically, so the replay is bit-exact."""
    head = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    edges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM (
            SELECT s.*, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM s
        ) t WHERE rank <= {k}
    ),
    od AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst AS node FROM edges)
    ),
    c AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) // n AS r FROM nodes, c)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
    r{i} AS (
        SELECT nodes.node,
               (3 * CAST({scale} AS BIGINT)) // (20 * c.n)
                   + (17 * COALESCE(s.m, 0)) // 20 AS r
        FROM nodes CROSS JOIN c
        LEFT JOIN (
            SELECT edges.dst AS node, SUM(p.r // od.outdeg) AS m
            FROM r{i - 1} p
            JOIN od ON od.src = p.node
            JOIN edges ON edges.src = p.node
            GROUP BY edges.dst
        ) s ON s.node = nodes.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, CAST(r AS BIGINT) AS rank_scaled,
           CAST(r AS DOUBLE) / {float(scale)!r} AS rank
    FROM r{iters}
    """
    )


@register(
    "graph_pagerank_knn",
    _pagerank_knn_oracle_sql(),
    tags=("graph", "iterative", "tiny-bnlj"),
    doc="PageRank over the exact cosine 5-NN graph: rank identifies "
    "central/representative documents for diversity sampling and "
    "cluster-keeper election (the importance complement to the "
    "connected-components equivalence classes). Per iteration: one "
    "rank-onto-edges equi-join + one shuffle-by-dst sum; "
    "localCheckpoint truncates lineage per round (CC discipline). "
    "r9: the declared form is FIXED-POINT (BIGINT multiples of 2^-40, "
    "d = 17/20, floor contributions — graph.pagerank_scaled), which an "
    "unrolled 10-step SQL oracle replays bit for bit; a kNN graph has "
    "no dangling nodes (every node emits k out-edges), so the "
    "dangling-mass term vanishes and the truncation bias is bounded "
    "by iters * k * 2^-40 (pytest checks it against a float numpy "
    "power iteration).",
)
def graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.graph import pagerank_scaled

    emb = load_table(spark, "embeddings", sf_dir)
    edges = similarity.knn_graph(emb, k=5).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank_scaled(edges, iters=10)


@register(
    "text_gopher_flags",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS ws,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                    AS BIGINT) AS n_sym
        FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                   / CAST(len(ws) AS DOUBLE) AS mean_word_len,
               CAST(n_sym AS DOUBLE) / CAST(len(ws) AS DOUBLE)
                   AS symbol_word_ratio,
               CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                    AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS alpha_word_frac
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, alpha_word_frac,
           (n_words >= 5 AND n_words <= 10000) AS ok_word_count,
           (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS ok_word_len,
           (symbol_word_ratio <= 0.5) AS ok_symbols,
           (alpha_word_frac >= 0.6) AS ok_alpha_words,
           ((n_words >= 5 AND n_words <= 10000)
            AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
            AND (symbol_word_ratio <= 0.5)
            AND (alpha_word_frac >= 0.6)) AS keep
    FROM m
    """,
    tags=("textstats",),
    doc="Gopher/MassiveText composite quality gate with per-rule "
    "boolean flags (word-count bounds, mean word length, symbol-to-"
    "word ratio, alphabetic-word fraction) plus the final keep "
    "verdict — the audit table shows WHY a doc drops. One scan-stage "
    "projection; integer-ratio doubles.",
)
def text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.gopher_flags(load_table(spark, "documents", sf_dir))


@register(
    "text_ttr_hapax",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), wc AS (
        SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS hapax_frac
    FROM wc GROUP BY doc_id
    """,
    tags=("textstats",),
    doc="Lexical diversity: type-token ratio + intra-doc hapax "
    "fraction (spam skews low-TTR, OCR noise hapax-heavy). One "
    "map-side-combined (doc, word) shuffle + per-doc re-aggregate; "
    "integer-ratio doubles.",
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.ttr_hapax(load_table(spark, "documents", sf_dir))


@register(
    "search_phrase_positions",
    r"""
    WITH p AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ws))) - 1 AS pos,
               unnest(ws) AS w
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents) t
    )
    SELECT a.doc_id AS doc_id, CAST(a.pos AS BIGINT) AS pos
    FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.w = 'the' AND b.w = 'data'
    """,
    tags=("search",),
    doc="Exact phrase retrieval via positional postings: tokenize with "
    "positions, equi-join adjacent positions per doc ('the' at p, "
    "'data' at p+1) — the positional-index primitive behind quoted "
    "queries in every IR engine. Both sides filter to their term "
    "BEFORE the join (term postings, not full token streams, meet the "
    "shuffle); join key (doc, pos) is skew-free.",
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w"),
    )
    a = toks.filter(F.col("w") == "the").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("w") == "data").select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb")
    )
    return a.join(
        b, (F.col("doc_id") == F.col("db")) & (F.col("pb") == F.col("pa") + 1)
    ).select("doc_id", F.col("pa").cast("bigint").alias("pos"))


@register(
    "events_dow_hour_heatmap",
    """
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(date_part('hour', ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1, 2
    """,
    tags=("analytics",),
    doc="Day-of-week x hour activity heatmap (the ops-dashboard "
    "staple; DuckDB dayofweek == Spark dayofweek-1, aligned by "
    "formula). One map-side-combined hash agg to <=168 rows; exact "
    "integer cents.",
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        (F.dayofweek("ts") - F.lit(1)).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@register(
    "lm_bigram_probs",
    r"""
    WITH w AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ws))) - 1 AS pos, unnest(ws) AS w
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents) t
    ), bg AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c12
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ), uni AS (
        SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1
    ), ranked AS (
        SELECT bg.w1, bg.w2, CAST(bg.c12 AS BIGINT) AS c12,
               CAST(bg.c12 AS DOUBLE) / CAST(uni.c1 AS DOUBLE) AS p,
               ROW_NUMBER() OVER (PARTITION BY bg.w1
                                  ORDER BY bg.c12 DESC, bg.w2) AS rn
        FROM bg JOIN uni USING (w1)
    )
    SELECT w1, w2, c12, p FROM ranked WHERE rn <= 3 AND c12 >= 5
    """,
    tags=("textstats", "lm"),
    doc="Bigram language-model table: P(w2|w1) = count(w1 w2) / "
    "count(w1 *), top-3 continuations per context with count >= 5 — "
    "the n-gram LM estimation primitive (KenLM's first order, "
    "next-word suggesters, collocation mining). Bigram counts "
    "shuffle once keyed by (w1, w2) with map-side combine; the "
    "context total reuses the bigram aggregate (no second corpus "
    "pass); per-context top-k is a window over the O(vocab^2-ish) "
    "aggregate, partitioned by w1. Integer-ratio doubles.",
)
def lm_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w"),
    )
    nxt = toks.select(
        F.col("doc_id").alias("d2"),
        (F.col("pos") - 1).alias("p2"),
        F.col("w").alias("w2"),
    )
    bg = (
        toks.join(
            nxt, (F.col("doc_id") == F.col("d2")) & (F.col("pos") == F.col("p2"))
        )
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count("*").alias("c12"))
    )
    uni = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ranked = bg.join(uni, "w1").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("w1").orderBy(F.desc("c12"), F.col("w2"))
        ),
    )
    return ranked.filter((F.col("rn") <= 3) & (F.col("c12") >= 5)).select(
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("c12"),
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("p"),
    )
