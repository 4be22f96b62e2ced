"""Round-9 extension wave (second batch): pretraining-corpus
transforms the wave-8 trainer-prep family left open — fill-in-the-
middle restructuring, soft deduplication weights, Bloom-filter
decontamination, best-of-n reward curves, a context-length packing
sweep, and product-quantization codes for the ANN family.

Shared design rules (plans/registry.py has the full idiom list):

* Seeded decisions come from the md5-60 cross-engine hash
  (``conv(substring(md5(s),1,15),16,10)`` in Spark ==
  ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`` in DuckDB,
  bit for bit) — never ``rand()``: the driver re-executes every plan
  and per-RDD-seeded samples would not reproduce.
* All intermediate arithmetic is BIGINT (exact on both engines);
  any fraction is ONE final IEEE division of exact integer sums.
* Per-row transforms stay in Catalyst higher-order functions
  (transform/aggregate/filter on arrays) so the hot path is
  whole-stage codegen with zero Python and zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table, spread_scan
from .registry import register
from .wave8_queries import _md5_60


def _py_md5_60(s: str) -> int:
    """Driver-side twin of the md5-60 hash (same value as both engines'
    SQL form; pinned by test_wave9_queries.py)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# Fill-in-the-middle (FIM) restructuring
# ---------------------------------------------------------------------------


@register(
    "code_fim_transform",
    """
    WITH base AS (
        SELECT doc_id, text, length(text) AS len,
               CAST(concat('0x', substr(md5(concat('fim:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS sel,
               CAST(concat('0x', substr(md5(concat('f1:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(concat('f2:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h2
        FROM documents WHERE text IS NOT NULL
    ), split AS (
        SELECT doc_id, text, len,
               CASE WHEN sel < 50 AND len >= 4 THEN 1 ELSE 0 END AS fim_applied,
               CASE WHEN sel < 50 AND len >= 4
                    THEN h1 % (len + 1) ELSE len END AS a,
               CASE WHEN sel < 50 AND len >= 4
                    THEN h1 % (len + 1) + h2 % (len - (h1 % (len + 1)) + 1)
                    ELSE len END AS b
        FROM base
    )
    SELECT doc_id,
           CAST(fim_applied AS BIGINT) AS fim_applied,
           CAST(a AS BIGINT) AS prefix_len,
           CAST(b - a AS BIGINT) AS middle_len,
           CAST(len - b AS BIGINT) AS suffix_len,
           md5(concat(substr(text, 1, a),
                      substr(text, b + 1, len - b),
                      substr(text, a + 1, b - a))) AS out_fingerprint
    FROM split
    """,
    tags=("trainer", "fim"),
    doc="Fill-in-the-middle restructuring (Bavarian et al. 2022, the "
    "code-model pretraining transform): a seeded 50% of documents are "
    "split at two hash-derived pivots a <= b and re-emitted in PSM "
    "order (prefix, suffix, middle); the rest pass through.  Pivots "
    "come from md5-60 of the doc id (NOT the text, so near-dup "
    "documents get independent splits), spans may be empty exactly as "
    "in the reference recipe, and out_fingerprint = md5 of the "
    "reordered text proves the transform itself cross-engine, not "
    "just the bookkeeping.  Plan: pure scan-stage string/int "
    "expressions — no shuffle, no Python, no UDF; at 100 TB this is "
    "the ideal map-only shape and composes in front of pack_sequences "
    "without re-partitioning.",
)
def code_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    sid = F.col("doc_id").cast("string")
    base = docs.select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        (_md5_60(F.concat(F.lit("fim:"), sid)) % 100).alias("sel"),
        _md5_60(F.concat(F.lit("f1:"), sid)).alias("h1"),
        _md5_60(F.concat(F.lit("f2:"), sid)).alias("h2"),
    )
    applied = (F.col("sel") < 50) & (F.col("len") >= 4)
    a = F.when(applied, F.col("h1") % (F.col("len") + 1)).otherwise(F.col("len"))
    split = base.select(
        "doc_id",
        "text",
        "len",
        applied.cast("bigint").alias("fim_applied"),
        a.alias("a"),
        F.when(applied, a + F.col("h2") % (F.col("len") - a + 1))
        .otherwise(F.col("len"))
        .alias("b"),
    )
    return split.select(
        "doc_id",
        "fim_applied",
        F.col("a").cast("bigint").alias("prefix_len"),
        (F.col("b") - F.col("a")).cast("bigint").alias("middle_len"),
        (F.col("len") - F.col("b")).cast("bigint").alias("suffix_len"),
        F.md5(
            F.concat(
                F.expr("substr(text, 1, a)"),
                F.expr("substr(text, b + 1, len - b)"),
                F.expr("substr(text, a + 1, b - a)"),
            )
        ).alias("out_fingerprint"),
    )


# ---------------------------------------------------------------------------
# Soft deduplication weights (down-weight instead of drop)
# ---------------------------------------------------------------------------


@register(
    "sample_softdedup",
    r"""
    WITH fp AS (
        SELECT doc_id, coalesce(source, '') AS source_key,
               length(text) - length(replace(text, ' ', '')) + 1 AS tokens,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        FROM documents WHERE text IS NOT NULL
    ), mult AS (
        SELECT f, COUNT(*) AS n_copies FROM fp GROUP BY f
    ), weighted AS (
        SELECT fp.source_key, fp.tokens, mult.n_copies,
               1000000 // mult.n_copies AS w_ppm
        FROM fp JOIN mult USING (f)
    )
    SELECT source_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(tokens * w_ppm) AS BIGINT) AS eff_tokens_ppm,
           CAST(SUM(w_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000000.0 AS mean_weight
    FROM weighted GROUP BY source_key
    """,
    tags=("sampling", "dedup"),
    doc="Soft deduplication (SoftDeDup, She et al. 2024): instead of "
    "dropping duplicates, weight every copy by 1/multiplicity so the "
    "duplicated CONTENT keeps exactly one document's worth of "
    "expected gradient.  Multiplicity is the exact-dedup fingerprint "
    "(md5 of whitespace-normalized lowercased text, the dedup_exact "
    "key); weights are integer ppm (1e6 // n_copies) so the per-source "
    "effective-token mass is an exact BIGINT and the only float is "
    "the final mean division.  Plan: one hash shuffle on the "
    "fingerprint for multiplicity, one shuffle back on the "
    "fingerprint to attach weights (both map-side combined), then a "
    "tiny per-source aggregate — the same two-exchange shape as "
    "dedup_exact, so the 100-TB cost equals the dedup pass the weight "
    "replaces.",
)
def sample_softdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.textstats import fingerprint_col

    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    fp = docs.select(
        F.coalesce("source", F.lit("")).alias("source_key"),
        F.expr("length(text) - length(replace(text, ' ', '')) + 1")
        .cast("long")
        .alias("tokens"),
        fingerprint_col(F.col("text")).alias("f"),
    )
    mult = fp.groupBy("f").agg(F.count("*").alias("n_copies"))
    weighted = fp.join(mult, "f").withColumn(
        "w_ppm", F.expr("1000000 div n_copies")
    )
    return weighted.groupBy("source_key").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("n_copies") > 1).cast("long")).cast("long").alias("n_dup_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("tokens") * F.col("w_ppm")).cast("long").alias("eff_tokens_ppm"),
        (
            F.sum("w_ppm").cast("double") / F.count("*").cast("double") / 1000000.0
        ).alias("mean_weight"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (broadcast bit-set membership)
# ---------------------------------------------------------------------------

_BLOOM_M = 262144  # 2^18 bits
_BLOOM_SEEDS = (1, 2, 3)


@register(
    "decontam_bloom",
    f"""
    WITH ex AS MATERIALIZED (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('ev:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 50 = 0
                   AS is_eval,
               unnest(list_distinct([substring(text, i, 8)
                   for i in generate_series(1, greatest(length(text)-7, 1))]))
                   AS sh
        FROM documents WHERE text IS NOT NULL
    ), bits AS MATERIALIZED (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(concat('bl',
                   CAST(s AS VARCHAR), ':', sh)), 1, 15)) AS BIGINT)
                   % {_BLOOM_M} AS bit
        FROM ex CROSS JOIN generate_series(1, 3) AS g(s)
        WHERE is_eval
    ), eval_sh AS MATERIALIZED (
        SELECT DISTINCT sh FROM ex WHERE is_eval
    ), train AS (
        SELECT ex.doc_id, ex.sh,
               CAST(concat('0x', substr(md5(concat('bl1:', ex.sh)), 1, 15))
                   AS BIGINT) % {_BLOOM_M} AS b1,
               CAST(concat('0x', substr(md5(concat('bl2:', ex.sh)), 1, 15))
                   AS BIGINT) % {_BLOOM_M} AS b2,
               CAST(concat('0x', substr(md5(concat('bl3:', ex.sh)), 1, 15))
                   AS BIGINT) % {_BLOOM_M} AS b3
        FROM ex WHERE NOT is_eval
    ), tested AS (
        SELECT t.doc_id,
               CASE WHEN m1.bit IS NOT NULL AND m2.bit IS NOT NULL
                         AND m3.bit IS NOT NULL THEN 1 ELSE 0 END AS bloom_hit,
               CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
        FROM train t
        LEFT JOIN bits m1 ON m1.bit = t.b1
        LEFT JOIN bits m2 ON m2.bit = t.b2
        LEFT JOIN bits m3 ON m3.bit = t.b3
        LEFT JOIN eval_sh e ON e.sh = t.sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hit,
           CAST(SUM(exact_hit) AS BIGINT) AS n_exact_hit,
           CAST(CASE WHEN 2 * SUM(bloom_hit) >= COUNT(*) THEN 1 ELSE 0 END
               AS BIGINT) AS flagged
    FROM tested GROUP BY doc_id
    """,
    tags=("decontam", "bloom", "broadcast"),
    doc="Bloom-filter decontamination — the 100-TB-scale form of the "
    "eval-overlap check: the eval set's 8-gram shingles are folded "
    "into a 2^18-bit Bloom filter (3 seeded md5-60 hash functions), "
    "and every training document tests its shingles against the "
    "filter with NO join against the eval corpus itself.  Here the "
    "bit-set is a DISTINCT bit table consumed through three broadcast "
    "LEFT joins (a bit-for-bit relational model of the bitset probe; "
    "the production fast path would broadcast the packed 32 KiB "
    "bitmap itself), so the training-side scan never shuffles — the "
    "exact property that lets decontamination run as a map-only pass "
    "over 100 TB while the n-gram join form (decontam_ngram_overlap) "
    "shuffles the corpus.  n_exact_hit (true containment, LEFT join "
    "on the small eval shingle set) is emitted next to n_bloom_hit so "
    "the Bloom false-positive rate is measurable per document: "
    "no-false-negative (bloom >= exact) is pinned by pytest.  Eval "
    "membership is the seeded md5-60 2% slice of doc ids.",
)
def decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.dedup import _shingles

    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    # md5-per-shingle explode is the hot loop; spread the single-file
    # scan across cores first (sources/catalog.spread_scan, r15)
    ex = spread_scan(docs).select(
        "doc_id",
        (
            _md5_60(F.concat(F.lit("ev:"), F.col("doc_id").cast("string"))) % 50 == 0
        ).alias("is_eval"),
        F.explode(_shingles("text", k=8, distinct=True)).alias("sh"),
    )
    def bit(seed: int, col="sh"):
        return (
            _md5_60(F.concat(F.lit(f"bl{seed}:"), F.col(col))) % _BLOOM_M
        )

    eval_sh = ex.filter("is_eval").select("sh").distinct()
    bits = (
        eval_sh.select(
            F.explode(F.array(*[bit(s).alias(f"b{s}") for s in _BLOOM_SEEDS])).alias(
                "bit"
            )
        )
        .distinct()
    )
    train = ex.filter(~F.col("is_eval")).select(
        "doc_id",
        "sh",
        bit(1).alias("b1"),
        bit(2).alias("b2"),
        bit(3).alias("b3"),
    )
    m = [
        F.broadcast(bits.select(F.col("bit").alias(f"m{s}"))) for s in _BLOOM_SEEDS
    ]
    ev = F.broadcast(eval_sh.select(F.col("sh").alias("esh")))
    tested = (
        train.join(m[0], F.col("b1") == F.col("m1"), "left")
        .join(m[1], F.col("b2") == F.col("m2"), "left")
        .join(m[2], F.col("b3") == F.col("m3"), "left")
        .join(ev, F.col("sh") == F.col("esh"), "left")
        .select(
            "doc_id",
            (
                F.col("m1").isNotNull()
                & F.col("m2").isNotNull()
                & F.col("m3").isNotNull()
            )
            .cast("long")
            .alias("bloom_hit"),
            F.col("esh").isNotNull().cast("long").alias("exact_hit"),
        )
    )
    return tested.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("bloom_hit").cast("long").alias("n_bloom_hit"),
        F.sum("exact_hit").cast("long").alias("n_exact_hit"),
        (2 * F.sum("bloom_hit") >= F.count("*")).cast("long").alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Best-of-n reward scaling curve
# ---------------------------------------------------------------------------


@register(
    "rlhf_bon_curve",
    """
    WITH cand AS (
        SELECT coalesce(source, '') AS source_key,
               coalesce(lang, '') AS lang_key,
               doc_id,
               CAST(concat('0x', substr(md5(concat('rw:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                   % 1000000 AS reward,
               CAST(concat('0x', substr(md5(concat('bon:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        FROM documents
    ), ranked AS (
        SELECT source_key, lang_key, reward,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source_key, lang_key
                   ORDER BY ord, doc_id) AS BIGINT) AS k,
               MAX(reward) OVER (
                   PARTITION BY source_key, lang_key
                   ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS best_so_far
        FROM cand
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_pools,
           CAST(SUM(best_so_far) AS BIGINT) AS sum_best,
           CAST(SUM(best_so_far) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_best,
           CAST(MIN(best_so_far) AS BIGINT) AS min_best,
           CAST(MAX(best_so_far) AS BIGINT) AS max_best
    FROM ranked WHERE k <= 8 GROUP BY k
    """,
    tags=("sampling", "preference", "window"),
    doc="Best-of-n reward scaling curve: within each candidate pool "
    "(source, lang — the 'completions of one prompt' stand-in, same "
    "pools as rlhf_preference_pairs), order candidates by a seeded "
    "draw (md5-60 'bon:' hash, i.e. WHICH k samples you'd have drawn "
    "first) and track the running max reward; averaging best_so_far "
    "over pools at each k yields E[max of k draws] — the curve that "
    "tells you whether sampling 8 completions instead of 2 is worth "
    "4x the inference.  Rewards are the deterministic md5-60 %% 1e6 "
    "reward-model proxy shared with rlhf_preference_pairs.  Plan: one "
    "keyed window per pool (running max + row_number share a single "
    "sort), then an 8-group aggregate of exact BIGINTs; shuffles only "
    "on the pool key — millions of pools at production scale, fully "
    "parallel.",
)
def rlhf_bon_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sid = F.col("doc_id").cast("string")
    cand = docs.select(
        F.coalesce("source", F.lit("")).alias("source_key"),
        F.coalesce("lang", F.lit("")).alias("lang_key"),
        "doc_id",
        (_md5_60(F.concat(F.lit("rw:"), sid)) % 1000000).alias("reward"),
        _md5_60(F.concat(F.lit("bon:"), sid)).alias("ord"),
    )
    win = W.partitionBy("source_key", "lang_key").orderBy("ord", "doc_id")
    ranked = cand.select(
        F.row_number().over(win).cast("long").alias("k"),
        F.max("reward")
        .over(win.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("best_so_far"),
    ).filter(F.col("k") <= 8)
    return ranked.groupBy("k").agg(
        F.count("*").cast("long").alias("n_pools"),
        F.sum("best_so_far").cast("long").alias("sum_best"),
        (F.sum("best_so_far").cast("double") / F.count("*").cast("double")).alias(
            "mean_best"
        ),
        F.min("best_so_far").cast("long").alias("min_best"),
        F.max("best_so_far").cast("long").alias("max_best"),
    )


# ---------------------------------------------------------------------------
# Context-length packing sweep
# ---------------------------------------------------------------------------

_SWEEP_WINDOWS = (16, 32, 64, 128)


@register(
    "pack_context_sweep",
    f"""
    WITH toks AS (
        SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS t
        FROM documents WHERE text IS NOT NULL
    ), sweep AS (
        SELECT w, t, (t + w - 1) // w AS chunks
        FROM toks CROSS JOIN (
            SELECT CAST(unnest({list(_SWEEP_WINDOWS)}) AS BIGINT) AS w
        ) g
    )
    SELECT w AS context_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(SUM(chunks) AS BIGINT) AS total_chunks,
           CAST(SUM(chunks * w - t) AS BIGINT) AS total_pad,
           CAST(SUM(chunks * w - t) AS DOUBLE)
               / CAST(SUM(chunks * w) AS DOUBLE) AS pad_frac,
           CAST(SUM(CASE WHEN t > w THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_split
    FROM sweep GROUP BY w
    """,
    tags=("packing", "sweep"),
    doc="Context-length packing sweep: for each candidate training "
    "context length (16/32/64/128 tokens here; 2k-32k in production) "
    "compute, in ONE corpus pass, how many chunks each document "
    "shards into under pad-to-boundary chunking (ceil(t/w)), the "
    "total padding burned, the padded-slot fraction, and how many "
    "documents must be split — the table you read before choosing a "
    "context window, complementing pack_padding_waste (which audits "
    "one chosen packing).  All integer arithmetic; the explode is a "
    "literal 4-element array so the row blow-up is x4, then one "
    "4-group map-side-combined aggregate.  Map-only at any corpus "
    "size.",
)
def pack_context_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    toks = docs.select(
        F.expr("length(text) - length(replace(text, ' ', '')) + 1")
        .cast("long")
        .alias("t")
    )
    sweep = toks.select(
        "t",
        F.explode(
            F.array(*[F.lit(w).cast("long") for w in _SWEEP_WINDOWS])
        ).alias("w"),
    ).withColumn("chunks", F.expr("(t + w - 1) div w"))
    return sweep.groupBy(F.col("w").alias("context_len")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.sum("chunks").cast("long").alias("total_chunks"),
        F.sum(F.col("chunks") * F.col("w") - F.col("t"))
        .cast("long")
        .alias("total_pad"),
        (
            F.sum(F.col("chunks") * F.col("w") - F.col("t")).cast("double")
            / F.sum(F.col("chunks") * F.col("w")).cast("double")
        ).alias("pad_frac"),
        F.sum((F.col("t") > F.col("w")).cast("long"))
        .cast("long")
        .alias("n_docs_split"),
    )


# ---------------------------------------------------------------------------
# Product-quantization codes (IVF-PQ building block)
# ---------------------------------------------------------------------------

_PQ_SUBS = 8       # sub-quantizers (64-d -> 8 sub-vectors of 8 dims)
_PQ_K = 16         # centroids per sub-quantizer (4-bit codes)
_PQ_DIM = 8
_PQ_GRID = 4096    # input quantization grid (2^-12), the PCA-oracle grid


def _pq_centroids(
    subs: int = _PQ_SUBS, k: int = _PQ_K, dim: int = _PQ_DIM
) -> list[list[list[int]]]:
    """Seeded integer codebook, identical to the oracle's md5-60 form:
    c[j][s][d] = md5_60('pq:j:s:d') % 8192 - 4096 (centered on the
    quantized-input range).  Shape is parameterizable (wave-18's
    16x4 geometry); defaults are the wave-9 8x8 family."""
    return [
        [
            [
                _py_md5_60(f"pq:{j}:{s}:{d}") % 8192 - 4096
                for d in range(dim)
            ]
            for s in range(k)
        ]
        for j in range(subs)
    ]


def _pq_schema(df: DataFrame, books: dict, keep: tuple[str, ...]):
    """Shared setup of the PQ kernels: ``books`` as int64 arrays of one
    (subs, k, dim) geometry over the same q0..qW-1 columns, the q column
    list, the (subs, dim) row shape and the ``keep`` schema fields."""
    import numpy as np

    cents = {name: np.asarray(c, dtype=np.int64) for name, c in books.items()}
    n_subs, _n_k, n_dim = next(iter(cents.values())).shape
    keep_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in keep
    ]
    qcols = [f"q{i}" for i in range(n_subs * n_dim)]
    return cents, qcols, (n_subs, n_dim), keep_fields


def _pq_sq_dists(q, cent):
    """(n, subs, k) exact int64 squared distances from the (n, subs, dim)
    rows ``q`` to codebook ``cent``; max |q-c| ~ 2^13, far below 2^63."""
    import numpy as np

    diff = q[:, :, None, :] - cent[None, :, :, :]
    return np.einsum("nskd,nskd->nsk", diff, diff)


def pq_dists_pandas(
    df: DataFrame,
    books: dict | None = None,
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """Per ``name: cents`` of ``books`` (default: the seeded codebook
    as ``subs``), the per-row subs x k table of exact squared distances
    between the quantized vector and the codebook, in ONE Arrow
    pass over the q0..qW-1 quantized scalar columns: per batch, one
    numpy int64 einsum per codebook computes every row's subs x k
    squared-distance table (exact integer arithmetic — bitwise-
    identical to the unrolled expression and the DuckDB oracle).

    Why a kernel (r15): the 1,024-term literal projection can never
    whole-stage-compile (Janino 64 KB), and Spark RE-ATTEMPTS the
    doomed compile on every execution — measured 7-8s per run of
    eval_pq_recall at sf0.1 with the SAME cached plan, dominated by
    compile attempts + interpreted eval, not data (2k rows).  The
    kernel's plan is tiny and the arithmetic is vectorized; the
    downstream argmin/LUT projections over the tables are small
    expressions that codegen fine.  This full-table form is for the
    QUERY-SIDE LUTs only (<= n_queries rows by construction): corpus-
    wide paths use :func:`pq_codes_pandas`, which reduces to the code
    columns INSIDE the kernel — at 800k vectors the codes kernel
    measured 2.2-2.4s vs 3.7s for the unrolled expression and 6.5s
    for this full-table kernel (the per-row 128-int list build is the
    cost), so each path uses the shape that wins in its regime."""
    import numpy as np
    import pandas as pd

    cents, qcols, shape, keep_fields = _pq_schema(
        df, books or {"subs": _pq_centroids()}, keep
    )
    schema = ", ".join(keep_fields + [f"{n} array<array<bigint>>" for n in cents])

    def gen(batches):
        for pdf in batches:
            q = pdf[qcols].to_numpy(dtype=np.int64).reshape(len(pdf), *shape)
            out = {c: pdf[c] for c in keep}
            for name, cent in cents.items():
                out[name] = _pq_sq_dists(q, cent).tolist()
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema)


def pq_codes_pandas(
    df: DataFrame,
    books: dict | None = None,
    keep: tuple[str, ...] = ("vec_id",),
    with_dist: bool = False,
) -> DataFrame:
    """Corpus-side PQ encode as an Arrow kernel: keep columns + per
    ``prefix: cents`` of ``books`` (default: the seeded codebook as
    ``c``) the {prefix}0..{prefix}{S-1} argmin code columns (ties ->
    first minimum, numpy argmin == ``array_position(subs,
    array_min(subs))`` — pinned against the expression twin by
    pytest), plus d0..d{S-1} best squared distances when ``with_dist``
    (one codebook).  Same exact int64 math as :func:`pq_dists_pandas`,
    but the n_subs x k table is reduced to S ints INSIDE the kernel,
    so the Arrow transfer is 8 ints per row instead of a 128-int
    nested list — the 100 TB encode shape (measured 800k: 2.2-2.4s vs
    3.7s unrolled expression vs 6.5s full-table kernel).  Map-only
    behind the scan, exactly how FAISS shards PQ encoding."""
    import numpy as np
    import pandas as pd

    cents, qcols, shape, keep_fields = _pq_schema(
        df, books or {"c": _pq_centroids()}, keep
    )
    if with_dist and len(cents) != 1:
        raise ValueError("pq_codes_pandas: with_dist takes one codebook")
    n_subs = shape[0]
    fields = keep_fields + [f"{p}{j} int" for p in cents for j in range(n_subs)]
    if with_dist:
        fields += [f"d{j} bigint" for j in range(n_subs)]
    schema = ", ".join(fields)

    def gen(batches):
        for pdf in batches:
            q = pdf[qcols].to_numpy(dtype=np.int64).reshape(len(pdf), *shape)
            out = {c: pdf[c] for c in keep}
            for prefix, cent in cents.items():
                d2 = _pq_sq_dists(q, cent)
                codes = d2.argmin(axis=2)
                for j in range(n_subs):
                    out[f"{prefix}{j}"] = codes[:, j].astype("int32")
            if with_dist:
                best = d2.min(axis=2)
                for j in range(n_subs):
                    out[f"d{j}"] = best[:, j]
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema)


def pq_train_sums_pandas(
    df: DataFrame, cents: list[list[list[int]]]
) -> DataFrame:
    """Per-batch Lloyd sufficient statistics for PQ codebook training:
    assign each row's subvectors to their argmin centroid (same exact
    int64 einsum + argmin as :func:`pq_codes_pandas`) and emit the
    PARTIAL (j, s, n, s0..s{dim-1}) count/coordinate sums per batch —
    the groupBy(j, s).sum() downstream reduces them to the exact
    per-cluster totals.

    r16 (guide §2.3 "aggregate before you shuffle", §4.1 pass only
    what the function needs): the r15 training round shipped all
    subs*dim quantized columns THROUGH the codes kernel (keep=q0..q63
    crossed the Arrow boundary both ways), stack()-exploded subs rows
    per vector, and aggregated corpus-sized (j, s, qd0..) rows.  Here
    the kernel returns at most subs*k rows per BATCH regardless of
    corpus size, so the training aggregate's input is O(batches), not
    O(corpus) — and integer sums are order-free, so the final
    centroids are bit-identical."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(cents, dtype=np.int64)
    n_subs, n_k, n_dim = cent.shape
    qcols = [f"q{i}" for i in range(n_subs * n_dim)]
    schema = "j int, s int, n bigint, " + ", ".join(
        f"s{d} bigint" for d in range(n_dim)
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = pdf[qcols].to_numpy(dtype=np.int64).reshape(len(pdf), n_subs, n_dim)
            codes = _pq_sq_dists(q, cent).argmin(axis=2)  # ties -> first min
            out_j, out_s, out_n = [], [], []
            out_sums = [[] for _ in range(n_dim)]
            for j in range(n_subs):
                cj = codes[:, j]
                n_per = np.bincount(cj, minlength=n_k)
                sums = np.zeros((n_k, n_dim), dtype=np.int64)
                np.add.at(sums, cj, q[:, j, :])
                present = np.nonzero(n_per)[0]
                out_j.append(np.full(len(present), j, dtype="int32"))
                out_s.append(present.astype("int32"))
                out_n.append(n_per[present].astype("int64"))
                for d in range(n_dim):
                    out_sums[d].append(sums[present, d])
            res = {
                "j": np.concatenate(out_j),
                "s": np.concatenate(out_s),
                "n": np.concatenate(out_n),
            }
            for d in range(n_dim):
                res[f"s{d}"] = np.concatenate(out_sums[d])
            yield pd.DataFrame(res)

    return df.mapInPandas(gen, schema)


# SQL fragment equal to similarity._as_double("embedding") — inlined
# into one-parse selectExpr projections (r16 driver-overhead cut)
_EMB_DOUBLE_SQL = "transform(embedding, x -> CAST(x AS DOUBLE))"


def pq_quant_exprs() -> list[str]:
    """q0..q63 quantized BIGINT scalar columns over an ``embedding``
    array column, as selectExpr STRINGS — one py4j call parses the
    whole projection JVM-side (r16; 64 F.expr round trips measured
    0.23-0.32s per build vs 0.12s for one selectExpr)."""
    return [
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * "
        f"{float(_PQ_GRID)!r}D) AS BIGINT) AS q{i}"
        for i in range(_PQ_SUBS * _PQ_DIM)
    ]


def pq_quant_cols() -> list:
    """q0..q63 quantized BIGINT scalar columns over an ``embedding``
    array column — the shared input-quantization projection
    (Column form; :func:`pq_quant_exprs` is the one-parse twin)."""
    return [
        F.expr(
            f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * "
            f"{float(_PQ_GRID)!r}D) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(_PQ_SUBS * _PQ_DIM)
    ]


def pq_quant_with_cell(emb: DataFrame, cell_scores) -> DataFrame:
    """(vec_id, cell, q0..q63) — coarse Voronoi cell + the quantized
    scalar projection, the shared front half of every IVF-PQ path.
    One selectExpr parse builds the whole 66-column projection (r16:
    the Column form paid ~0.5s of py4j round trips per build for the
    16-seed cell expression alone)."""
    sql = getattr(cell_scores, "sql", None)
    if sql is not None:
        cell = f"(-element_at({sql(_EMB_DOUBLE_SQL)}, 1).nc) AS cell"
        return emb.selectExpr("vec_id", cell, *pq_quant_exprs())
    from ..extensions.similarity import _as_double

    return emb.select(
        "vec_id",
        (-F.element_at(cell_scores(_as_double("embedding")), 1)["nc"]).alias(
            "cell"
        ),
        *pq_quant_cols(),
    )


def _pq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q0..q63 quantized BIGINT scalars) scan projection
    (one selectExpr parse — r16)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.selectExpr("vec_id", *pq_quant_exprs())


@register(
    "ann_pq_codes",
    f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   u -> CAST(floor(u * {float(_PQ_GRID)!r}) AS BIGINT)) AS qv
        FROM embeddings
    ), cent AS MATERIALIZED (
        SELECT j, s, d,
               CAST(concat('0x', substr(md5(concat('pq:',
                   CAST(j AS VARCHAR), ':', CAST(s AS VARCHAR), ':',
                   CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 8192 - 4096
                   AS cv
        FROM generate_series(0, {_PQ_SUBS - 1}) gj(j)
        CROSS JOIN generate_series(0, {_PQ_K - 1}) gs(s)
        CROSS JOIN generate_series(0, {_PQ_DIM - 1}) gd(d)
    ), exq AS MATERIALIZED (
        SELECT vec_id, unnest(qv) AS qe,
               CAST(generate_subscripts(qv, 1) AS BIGINT) - 1 AS i
        FROM q
    ), dist AS (
        SELECT e.vec_id, c.j, c.s,
               SUM((e.qe - c.cv) * (e.qe - c.cv)) AS d2
        FROM exq e
        JOIN cent c ON c.j = e.i // {_PQ_DIM} AND c.d = e.i % {_PQ_DIM}
        GROUP BY 1, 2, 3
    ), best AS (
        SELECT vec_id, j, s, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, s) AS rn
        FROM dist
    )
    SELECT vec_id, CAST(j AS BIGINT) AS sub, CAST(s AS BIGINT) AS code,
           CAST(d2 AS BIGINT) AS dist2
    FROM best WHERE rn = 1
    """,
    tags=("ann", "pq", "scan-stage"),
    doc="Product-quantization encoding (Jegou et al. 2011), the "
    "compression half of IVF-PQ that the ANN family (ann_ivf_topk / "
    "ann_lsh_topk / ann_hamming_topk) was missing: the 64-d vector "
    "splits into 8 sub-vectors of 8 dims, each assigned to the "
    "nearest of 16 codebook centroids -> a 4-bit code per sub-vector, "
    "32 bits per vector (64x compression vs f32), with the exact "
    "squared quantization error emitted per sub-vector.  Inputs "
    "quantize to the 2^-12 grid and the codebook is a seeded md5-60 "
    "integer table, so every distance is exact BIGINT arithmetic and "
    "the argmin (ties -> smallest code) is bit-identical cross-engine "
    "(k-means-trained codebooks drop in without changing the plan).  "
    "Spark plan (r15): 64 quantized scalar columns feed ONE Arrow "
    "codes kernel (pq_codes_pandas — batch numpy int64 einsum + "
    "argmin, pytest-pinned bitwise to an unrolled-expression "
    "twin; the kernel replaced the 1,024-term literal "
    "projection that could never whole-stage-compile and re-paid the "
    "doomed Janino attempt on EVERY execution, and it beats the "
    "interpreted expression at data scale too: 2.2-2.4s vs 3.7s at "
    "800k vectors), then a stack() unpivot — zero shuffle, zero "
    "join; at 100 TB PQ encoding is map-only behind the scan, "
    "exactly how FAISS shards it.  The oracle models the same math "
    "relationally (unnest + codebook join + row_number argmin).",
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _pq_quantized(spark, sf_dir)
    dists = pq_codes_pandas(q, with_dist=True)
    stack = ", ".join(
        f"CAST({j} AS BIGINT), CAST(c{j} AS BIGINT), d{j}"
        for j in range(_PQ_SUBS)
    )
    return dists.selectExpr(
        "vec_id", f"stack({_PQ_SUBS}, {stack}) AS (sub, code, dist2)"
    )
