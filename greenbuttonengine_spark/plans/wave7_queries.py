"""Round-6 extension wave: binary-embedding retrieval, ANN evaluation,
matryoshka truncation analysis, CCNet-style perplexity buckets,
training-mix rebalancing, padding-waste accounting, and the temporal
point-in-time interval join.

Design notes shared by the batch (the cross-engine exactness idioms
from plans/registry.py):

* Integer arithmetic wherever a value feeds the driver's value hash:
  hamming distances are ints, surprisal is bit-length ints, padding
  waste is int deltas; doubles appear only as exact ratios of ints or
  as ordered-fold cosines already validated bitwise against DuckDB.
* Aggregates of doubles avoid SUM/AVG over unordered groups (partial
  aggregation order is nondeterministic); buckets report MIN/MAX of
  per-doc doubles instead, which are order-free.
* Top-k is TakeOrderedAndProject or a window over an O(k)/O(groups)
  aggregate; corpus-sized global windows stay banned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Binary-embedding hamming ANN
# ---------------------------------------------------------------------------


def _sign_bits_spark(vec, lo: int, hi: int):
    """Pack sign bits of dims [lo, hi) into a long: bit (i-lo) set when
    v[i] > 0.  Two 32-bit halves keep every packed value far from the
    long sign bit, so neither engine can overflow."""
    acc = F.lit(0).cast("long")
    for i in range(lo, hi):
        acc = acc + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(1 << (i - lo)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return acc


def _sign_bits_sql(col: str, lo: int, hi: int) -> str:
    terms = " + ".join(
        f"CASE WHEN {col}[{i + 1}] > 0 THEN {1 << (i - lo)} ELSE 0 END"
        for i in range(lo, hi)
    )
    return f"CAST({terms} AS BIGINT)"


def _hamming_oracle_sql(dim: int = 64, k: int = 10) -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
        SELECT vec_id, {_sign_bits_sql('v', 0, dim // 2)} AS blo,
               {_sign_bits_sql('v', dim // 2, dim)} AS bhi
        FROM e
    ),
    q AS (SELECT vec_id AS query_id, blo AS qlo, bhi AS qhi
          FROM sig WHERE vec_id < 16),
    s AS (
        SELECT q.query_id, sig.vec_id AS neighbor_id,
               CAST(bit_count(xor(sig.blo, q.qlo))
                    + bit_count(xor(sig.bhi, q.qhi)) AS BIGINT) AS hamming
        FROM q JOIN sig ON sig.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, hamming, rank FROM (
        SELECT s.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id)
            AS BIGINT) AS rank
        FROM s
    ) t WHERE rank <= {k}
    """


@register(
    "ann_hamming_topk",
    _hamming_oracle_sql(),
    tags=("similarity", "all-pairs"),
    doc="Binary-embedding retrieval: each vector's 64 sign bits pack "
    "into two longs at scan time (a 32x shrink of the vector column "
    "— the classic binary-quantization trade), and distance is "
    "bit_count(xor) per half — pure ALU, whole-stage codegen, no "
    "floats anywhere, so ranking is integer-deterministic.  Queries "
    "broadcast; the corpus scans once and never shuffles (top-k per "
    "query over the broadcast join).  At 100 TB this is the standard "
    "first-stage retriever in front of an exact-cosine rerank of the "
    "shortlist (compose with ann_bruteforce_topk on the candidates).",
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    dim, k = 64, 10
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sig = emb.select(
        F.col("vec_id"),
        _sign_bits_spark(vec, 0, dim // 2).alias("blo"),
        _sign_bits_spark(vec, dim // 2, dim).alias("bhi"),
    )
    q = sig.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("blo").alias("qlo"),
        F.col("bhi").alias("qhi"),
    )
    s = (
        sig.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("blo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("bhi").bitwiseXOR(F.col("qhi")))
            ).cast("long").alias("hamming"),
        )
    )
    # Histogram-threshold top-k: hamming lives in [0, 2*dim/2] = a
    # 65-value domain, so the per-query distance histogram map-side
    # combines to q x 65 rows per partition — ranking the raw n x q
    # candidate rows through one window would shuffle ALL of them
    # (measured 27.6s -> 10.2s at 2M vectors, identical output).  The
    # k-th-distance cutoff comes from the cumulative histogram (a
    # window over the TINY aggregate), broadcasts back, and only the
    # handful of rows at-or-under the cutoff reach the rank window.
    # Costs a second scan of the candidate expression — scan-stage
    # arithmetic, the right trade at any scale.
    hist = s.groupBy("query_id", "hamming").agg(F.count("*").alias("__n"))
    wc = W.partitionBy("query_id").orderBy("hamming")
    thresh = (
        hist.withColumn("__cum", F.sum("__n").over(wc))
        .filter(F.col("__cum") - F.col("__n") < k)
        .groupBy("query_id")
        .agg(F.max("hamming").alias("__hmax"))
    )
    cand = s.join(F.broadcast(thresh), "query_id").filter(
        F.col("hamming") <= F.col("__hmax")
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation (retriever quality as a first-class query)
# ---------------------------------------------------------------------------


def _eval_recall_oracle_sql(k: int = 10) -> str:
    # the LSH sigs/probes CTEs come from the SAME builder as
    # ann_lsh_topk's oracle (extension_queries._lsh_sigs_probes_ctes),
    # so the evaluated retriever cannot drift from the declared one
    from .extension_queries import _lsh_sigs_probes_ctes

    return f"""
    -- isfinite gate mirrors similarity._with_norm's entry validation
    -- on both retriever legs (r14 ADVICE items 1+2)
    WITH e AS (SELECT vec_id, v
               FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
               WHERE isfinite(list_dot_product(v, v))),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 16),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       list_dot_product(qv, e.v)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(e.v, e.v))) DESC,
                       e.vec_id) AS rank
            FROM q JOIN e ON e.vec_id != q.query_id
        ) t WHERE rank <= {k}
    ),
    {_lsh_sigs_probes_ctes(4, 64)},
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                       list_dot_product(p.qv, s.v)
                           / (sqrt(list_dot_product(p.qv, p.qv))
                              * sqrt(list_dot_product(s.v, s.v))) DESC,
                       s.vec_id) AS rank
            FROM probes p JOIN sigs s USING (bucket)
            WHERE s.vec_id != p.query_id
        ) t WHERE rank <= {k}
    )
    SELECT b.query_id,
           CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {k}.0 AS recall_at_k
    FROM brute b
    LEFT JOIN lsh l ON l.query_id = b.query_id
                   AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@register(
    "eval_ann_recall",
    _eval_recall_oracle_sql(),
    tags=("similarity", "eval", "all-pairs"),
    doc="Retriever evaluation as a query: recall@10 of the LSH "
    "retriever against the exact brute-force top-10, per query — the "
    "metric every ANN deployment monitors, computed by composing two "
    "already-oracle-verified operators (ann_lsh_topk x "
    "ann_bruteforce_topk) with a left join + conditional count.  "
    "Integer hit counts / literal k keep the ratio cross-engine "
    "exact.  At scale the brute side runs on a held-out query sample "
    "(16 here), so the evaluation costs one corpus scan regardless "
    "of corpus size.",
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import cosine_topk, lsh_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    k = 10
    brute = cosine_topk(emb, queries, k=k).select("query_id", "neighbor_id")
    lsh = lsh_topk(emb, queries, k=k, planes=4).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        brute.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.lit(float(k))
            ).alias("recall_at_k")
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)


def _matryoshka_oracle_sql(k: int = 10) -> str:
    def ranked(d: int) -> str:
        return f"""
        SELECT {d} AS dim, q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   list_dot_product(qv[1:{d}], e.v[1:{d}])
                       / (sqrt(list_dot_product(qv[1:{d}], qv[1:{d}]))
                          * sqrt(list_dot_product(e.v[1:{d}], e.v[1:{d}]))) DESC,
                   e.vec_id) AS rank
        FROM q JOIN e ON e.vec_id != q.query_id
        """

    unions = " UNION ALL ".join(
        f"SELECT * FROM ({ranked(d)}) r{d} WHERE rank <= {k}"
        for d in _MRL_DIMS
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 16),
    all_ranked AS ({unions}),
    ref AS (
        SELECT query_id, neighbor_id FROM all_ranked WHERE dim = 64
    )
    SELECT dims.dim, r.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {k}.0 AS recall_vs_full
    FROM ref r
    CROSS JOIN (SELECT DISTINCT dim FROM all_ranked) dims
    LEFT JOIN all_ranked a ON a.dim = dims.dim
                          AND a.query_id = r.query_id
                          AND a.neighbor_id = r.neighbor_id
    GROUP BY dims.dim, r.query_id
    """


@register(
    "embedding_matryoshka_eval",
    _matryoshka_oracle_sql(),
    tags=("similarity", "eval", "all-pairs"),
    doc="Matryoshka truncation evaluation (Kusupati et al., NeurIPS'22 "
    "representation-truncation trade): for each prefix length d in "
    "(8, 16, 32, 64), the exact cosine top-10 on the FIRST d "
    "dimensions is compared to the full-dimension top-10, reporting "
    "recall-vs-full per (d, query) — the table that decides how many "
    "dimensions the 100 TB index actually needs to store.  Prefix "
    "slice is scan-stage; each d is one broadcast-query corpus scan "
    "(4 scans total), and the final join/count is over O(q*k) rows.  "
    "The d=64 rows are the self-reference (recall 1.0) — a built-in "
    "sanity row.",
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import cosine_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    k = 10
    per_dim = []
    for d in _MRL_DIMS:
        sliced = emb.select(
            "vec_id", F.slice(F.col("embedding"), 1, d).alias("embedding")
        )
        sq = queries.select(
            "vec_id", F.slice(F.col("embedding"), 1, d).alias("embedding")
        )
        per_dim.append(
            cosine_topk(sliced, sq, k=k)
            .select("query_id", "neighbor_id")
            .withColumn("dim", F.lit(d).cast("long"))
        )
    all_ranked = per_dim[0]
    for p in per_dim[1:]:
        all_ranked = all_ranked.unionByName(p)
    # ref and hits both derive from all_ranked: explicit aliases keep the
    # self-join unambiguous across Spark versions (r6 ADVICE).
    ref = (
        all_ranked.filter(F.col("dim") == 64)
        .select("query_id", F.col("neighbor_id").alias("ref_neighbor"))
        .alias("r")
    )
    hits = all_ranked.withColumn("__hit", F.lit(1)).alias("h")
    dims = [(int(d),) for d in _MRL_DIMS]
    dims_df = emb.sparkSession.createDataFrame(dims, "dim long").alias("d")
    return (
        ref.crossJoin(F.broadcast(dims_df))
        .join(
            hits,
            (F.col("h.dim") == F.col("d.dim"))
            & (F.col("h.query_id") == F.col("r.query_id"))
            & (F.col("h.neighbor_id") == F.col("r.ref_neighbor")),
            "left",
        )
        .groupBy(F.col("d.dim").alias("dim"), F.col("r.query_id").alias("query_id"))
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.lit(float(k))
            ).alias("recall_vs_full")
        )
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


@register(
    "text_ccnet_buckets",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), cf AS (
        SELECT w, COUNT(*) AS cf FROM w GROUP BY w
    ), n AS (
        SELECT COUNT(*) AS n_corpus FROM w
    ), doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM((length(bin(n_corpus)) - 1) - (length(bin(cf)) - 1))
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bits
        FROM w JOIN cf USING (w) CROSS JOIN n
        GROUP BY doc_id
    ), bucketed AS (
        SELECT d.lang, doc.n_tokens, doc.mean_bits,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY doc.mean_bits, doc.doc_id) AS b
        FROM doc JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(mean_bits) AS min_mean_bits,
           MAX(mean_bits) AS max_mean_bits
    FROM bucketed GROUP BY lang, bucket
    """,
    tags=("textstats", "lm", "tiny-bnlj"),
    doc="CCNet's head/middle/tail partition (Wenzek et al., LREC'20): "
    "docs tercile per language by unigram-LM surprisal (the KenLM-"
    "perplexity stand-in, integer bit-length surprisal — fp log is "
    "not cross-engine-stable), reporting each bucket's doc/token "
    "mass and surprisal range — the table CCNet curation keeps "
    "'head' from.  NTILE runs partitioned BY LANGUAGE with an "
    "explicit (mean_bits, doc_id) total order; bucket aggregates "
    "report MIN/MAX (order-free) rather than fp sums.  Scale note: "
    "a per-lang NTILE is ONE reduce task per language — fine to "
    "~millions of docs/lang (56.8s at 500k docs total, SCALING.md); "
    "at 100 TB swap the tercile for precomputed per-lang surprisal "
    "THRESHOLDS (CCNet's actual method: bucket by comparison "
    "against a trained cutoff — scan-stage, no sort), keeping this "
    "exact-NTILE form as the calibration query that derives those "
    "cutoffs on a sample.",
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.textstats import unigram_surprisal

    docs = load_table(spark, "documents", sf_dir)
    per_doc = unigram_surprisal(docs).select(
        "doc_id", "n_tokens", F.col("mean_surprisal_bits").alias("mean_bits")
    )
    joined = per_doc.join(docs.select("doc_id", "lang"), "doc_id")
    wb = W.partitionBy("lang").orderBy("mean_bits", "doc_id")
    b = F.ntile(3).over(wb)
    return (
        joined.withColumn("b", b)
        .groupBy(
            "lang",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("mean_bits").alias("min_mean_bits"),
            F.max("mean_bits").alias("max_mean_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Training-mix rebalancing
# ---------------------------------------------------------------------------


@register(
    "corpus_mix_rebalance",
    r"""
    WITH per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS lang_chars
        FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(lang_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM per_lang
    )
    SELECT lang, n_docs, lang_chars,
           LEAST(1.0, (CAST(total_chars AS DOUBLE) / CAST(n_langs AS DOUBLE))
                          / CAST(lang_chars AS DOUBLE)) AS sample_rate,
           LEAST(1.0, (CAST(total_chars AS DOUBLE) / CAST(n_langs AS DOUBLE))
                          / CAST(lang_chars AS DOUBLE))
               * CAST(lang_chars AS DOUBLE) AS expected_chars
    FROM per_lang CROSS JOIN tot
    """,
    tags=("sampling", "pipeline", "tiny-bnlj"),
    doc="Down-sampling rates toward a uniform per-language character "
    "budget (the static step of DoReMi/data-mixture balancing): "
    "over-represented languages get rate target/actual, capped at 1 "
    "(no up-sampling) — feed the rates to sample_stratified_lang to "
    "materialize the rebalanced corpus.  One aggregate + a one-row "
    "broadcast of the totals; rates are exact ratios of exact "
    "integer masses, so the report is cross-engine stable.",
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    per_lang = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("lang_chars"),
    )
    tot = per_lang.agg(
        F.sum("lang_chars").cast("long").alias("total_chars"),
        F.count("*").cast("long").alias("n_langs"),
    )
    target = F.col("total_chars").cast("double") / F.col("n_langs").cast("double")
    rate = F.least(F.lit(1.0), target / F.col("lang_chars").cast("double"))
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "lang_chars",
            rate.alias("sample_rate"),
            (rate * F.col("lang_chars").cast("double")).alias("expected_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Padding-waste accounting (trainer batching prep)
# ---------------------------------------------------------------------------

_POW2_MAX = 20


def _pow2_cap_sql(n: str) -> str:
    branches = " ".join(
        f"WHEN {n} <= {1 << p} THEN {1 << p}" for p in range(_POW2_MAX + 1)
    )
    return f"CASE {branches} ELSE {1 << _POW2_MAX} END"


def _pow2_cap_spark(n):
    expr = F.lit(1 << _POW2_MAX).cast("long")
    for p in range(_POW2_MAX, -1, -1):
        expr = F.when(n <= (1 << p), F.lit(1 << p).cast("long")).otherwise(expr)
    return expr


@register(
    "pack_padding_waste",
    rf"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE length(trim(text)) > 0
    ), b AS (
        SELECT n_tokens,
               CAST({_pow2_cap_sql('n_tokens')} AS BIGINT) AS bucket_cap
        FROM d
    )
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket_cap - n_tokens) AS BIGINT) AS total_padding,
           CAST(SUM(bucket_cap - n_tokens) AS DOUBLE)
               / CAST(SUM(bucket_cap) AS DOUBLE) AS waste_frac
    FROM b GROUP BY bucket_cap
    """,
    tags=("packing", "pipeline"),
    doc="Length-bucketed padding-waste accounting: docs bin to the "
    "next power-of-two token length (the CASE chain is integer-exact "
    "— fp log2 is not cross-engine-stable at boundaries) and each "
    "bucket reports how many pad tokens naive fixed-length batching "
    "burns — the report that justifies sequence packing "
    "(pack_sequences_docs) and says which length buckets to "
    "provision.  Scan-stage binning + one map-side-combined "
    "aggregate; ratios are exact int/int.",
)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    n_tokens = F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("long")
    d = docs.filter(F.length(F.trim("text")) > 0).select(
        n_tokens.alias("n_tokens")
    )
    b = d.select(
        "n_tokens", _pow2_cap_spark(F.col("n_tokens")).alias("bucket_cap")
    )
    return b.groupBy("bucket_cap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tokens")).cast("long").alias(
            "total_padding"
        ),
        (
            F.sum(F.col("bucket_cap") - F.col("n_tokens")).cast("double")
            / F.sum("bucket_cap").cast("double")
        ).alias("waste_frac"),
    )


# ---------------------------------------------------------------------------
# Temporal point-in-time interval join
# ---------------------------------------------------------------------------


@register(
    "pit_interval_join",
    r"""
    WITH iv AS (
        SELECT user_id, event_id AS interval_id, value AS tier_value,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, e.ts, iv.interval_id, iv.tier_value,
           iv.valid_from
    FROM events e
    JOIN iv ON iv.user_id = e.user_id
           AND e.ts >= iv.valid_from
           AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
    WHERE e.event_type = 'click'
    """,
    tags=("events", "join", "temporal"),
    doc="Point-in-time (AS OF validity) interval join: each click "
    "event attaches the purchase-derived interval ACTIVE at its "
    "timestamp — the temporal join every feature store runs to "
    "prevent label leakage.  Intervals partition time per user by "
    "construction (lead() closes each at the next purchase), so "
    "every event matches at most one interval and the join is "
    "lossless-deterministic.  Shape: equi-join on user_id with a "
    "range residual — co-partitioned by user, per-user intervals "
    "are few, so the residual filter is cheap; contrast with "
    "asof_last_click_before_purchase, which is the event-to-nearest-"
    "EVENT as-of; this is event-to-VALIDITY-WINDOW.",
)
def pit_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wv = W.partitionBy("user_id").orderBy("valid_from", "interval_id")
    iv = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("interval_id"),
            F.col("value").alias("tier_value"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(wv))
    )
    # clicks and iv both derive from ev: explicit aliases keep the
    # self-join unambiguous across Spark versions (r6 ADVICE).
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .alias("c")
    )
    iv = iv.alias("i")
    return clicks.join(
        iv,
        (F.col("c.user_id") == F.col("i.user_id"))
        & (F.col("c.ts") >= F.col("i.valid_from"))
        & (F.col("i.valid_to").isNull() | (F.col("c.ts") < F.col("i.valid_to"))),
    ).select(
        F.col("c.event_id"),
        F.col("c.user_id"),
        F.col("c.ts"),
        F.col("i.interval_id"),
        F.col("i.tier_value"),
        F.col("i.valid_from"),
    )


# ---------------------------------------------------------------------------
# Sequential change-point detection (mean-shift)
# ---------------------------------------------------------------------------

_MS_W = 50          # window size each side
_MS_THRESH_C = 150  # mean-shift threshold in cents
_MS_SEG_ROWS = 1000  # per-series segment size for the halo-sliced windows


def _series_rn(df: DataFrame, series_col: str, order_cols: list[str]) -> DataFrame:
    """Per-series 1-based row number with NO per-series single-task pass
    and NO nondeterministic lineage: bucket-offset ranking.

    Cut each series by an order-consistent COARSE PREFIX of its sort
    key — the calendar day of the leading order column — so bucket
    order equals row order.  Then

        rn = (rows of this series in all earlier buckets)   [broadcast]
             + row_number() within (series, bucket)         [window]

    The bucket counts are one map-side-combined aggregate
    (O(series x days) rows); their running sum per series is a window
    over that tiny frame, broadcast back; the heavy pass is ONE
    row-frame window partitioned by (series, day) — parallelism scales
    with series x days, not with the series count.

    DETERMINISM (the r7 red-row lesson): the previous construction —
    repartitionByRange (boundaries sampled with a per-RDD-instance
    seed) + monotonically_increasing_id consumed by two branches —
    could see DIFFERENT boundaries per branch under re-execution
    (stage retry, broken exchange reuse, AQE replan), silently
    corrupting _rn near partition edges (observed: 76/78/77/77 rows
    across four identical ts2 runs).  An eager localCheckpoint fixed
    it but paid a full materialization (~2x at 10M rows).  This form
    has no sampling and no layout-dependent ids anywhere: the bucket
    key is a pure function of the row, row_number carries a total
    order (order_cols are unique per series), and the offsets are
    plain aggregates — deterministic by construction, and cheaper
    (counts agg + window shuffle vs range shuffle + checkpoint
    write/read).

    Caveats: order_cols[0] must be castable to DATE (event time), and
    a single (series, day) bucket is one window task — at 100 TB,
    swap the day bucket for hour granularity if a series can exceed
    ~10M rows/day (the bucket expression is the only knob)."""
    bucket = F.to_date(F.col(order_cols[0])).alias("_bk")
    keyed = df.withColumn("_bk", bucket)
    counts = keyed.groupBy(series_col, "_bk").agg(F.count("*").alias("_cnt"))
    prior = (
        W.partitionBy(series_col).orderBy("_bk").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col(series_col).alias("_oseries"),
        F.col("_bk").alias("_obk"),
        F.coalesce(F.sum("_cnt").over(prior), F.lit(0)).alias("_off"),
    )
    win = W.partitionBy(series_col, "_bk").orderBy(*order_cols)
    return (
        keyed.join(
            F.broadcast(offsets),
            # eqNullSafe: NULL series / NULL event-time rows get a NULL
            # key, which plain inner-join equality would silently drop;
            # null-safe equality keeps them, ranked first (NULLS FIRST,
            # consistent with both the offsets window and the heavy
            # row_number window's default ordering).
            keyed[series_col].eqNullSafe(offsets["_oseries"])
            & keyed["_bk"].eqNullSafe(offsets["_obk"]),
        )
        .withColumn("_rn", F.row_number().over(win) + F.col("_off"))
        .drop("_oseries", "_obk", "_off", "_bk")
    )


def _halo_segments(df: DataFrame, seg_rows: int, halo: int) -> DataFrame:
    """Explode each row into its home segment (seg = (rn-1) div seg_rows)
    plus, within ``halo`` rows of a boundary, the neighboring segment.
    Downstream row-frame windows partition by (series, _seg) — parallelism
    scales with data volume — and keep only ``_home`` rows, whose frames
    are provably identical to the unsegmented computation whenever every
    dependency spans <= ``halo`` rows.

    The identity argument needs deps to resolve within the ADJACENT
    segment, so ``seg_rows`` must be >= ``halo``; smaller values would
    silently diverge (a frame could need rows two segments away).
    Since ``seg_rows`` is a parallelism knob, not a semantic one, we
    clamp rather than raise."""
    seg_rows = max(seg_rows, halo)
    rn0 = F.col("_rn") - 1
    home = rn0 - (rn0 % F.lit(seg_rows))  # segment id = its first rn0
    segs = F.array(
        home,
        F.when((rn0 % seg_rows < halo) & (home > 0), home - seg_rows),
        F.when(rn0 % seg_rows >= seg_rows - halo, home + seg_rows),
    )
    return df.withColumn("_homeseg", home).withColumn(
        "_seg", F.explode(F.filter(segs, lambda s: s.isNotNull()))
    ).withColumn("_home", F.col("_seg") == F.col("_homeseg")).drop("_homeseg")


@register(
    "ts2_mean_shift_detect",
    rf"""
    WITH x AS (
        SELECT event_type, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ), w AS (
        SELECT event_type, event_id, ts,
               SUM(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN {_MS_W} PRECEDING AND 1 PRECEDING)
                   AS sum_before,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN {_MS_W} PRECEDING AND 1 PRECEDING)
                   AS n_before,
               SUM(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW
                                     AND {_MS_W - 1} FOLLOWING) AS sum_after,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW
                                       AND {_MS_W - 1} FOLLOWING) AS n_after
        FROM x
    )
    , full_w AS (
        SELECT event_type, event_id, ts, sum_before, sum_after,
               abs(sum_after - sum_before) AS shift
        FROM w WHERE n_before = {_MS_W} AND n_after = {_MS_W}
    ), nms AS (
        SELECT *, MAX(shift) OVER (
            PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN {_MS_W} PRECEDING AND {_MS_W} FOLLOWING
        ) AS local_max
        FROM full_w
    )
    SELECT event_type, event_id, ts,
           CAST(sum_before AS DOUBLE) / {_MS_W}.0 / 100.0 AS mean_before,
           CAST(sum_after AS DOUBLE) / {_MS_W}.0 / 100.0 AS mean_after,
           CAST(shift AS DOUBLE) / {_MS_W}.0 / 100.0 AS shift_size
    FROM nms
    WHERE shift >= {_MS_W * _MS_THRESH_C} AND shift = local_max
    """,
    tags=("events", "anomaly", "timeseries"),
    doc="Sliding-window mean-shift change-point detection (the "
    "two-sample drift monitor production pipelines run on metric "
    "streams): per event_type series in (ts, event_id) order, flag "
    "positions where the mean of the NEXT 50 values departs from the "
    "mean of the PREVIOUS 50 by >= 1.50 — both windows full, so "
    "series edges never false-positive.  The flag compares integer "
    "cent SUMS (|sum_after - sum_before| >= W*thresh), never fp "
    "means, so the decision is cross-engine exact; the reported "
    "means are exact int/int ratios.  Non-maximum suppression "
    "localizes each change (only the +-W-local PEAK of the shift "
    "statistic reports), so a drifting series yields sparse change "
    "points, not a flag per row.  Scale shape: each series is cut into "
    "seg_rows-row segments with a +-2W-row halo (computed from the "
    "deterministic bucket-offset per-series row number — cumulative "
    "day-bucket counts + in-bucket row_number, never a per-series "
    "single-task pass nor a sampled range partitioning), and the three "
    "frame-bounded window passes partition by (event_type, segment) — "
    "window parallelism scales with data volume, not with the 5-value "
    "type domain.  Results are provably identical to the unsegmented "
    "form because every frame dependency spans <= 2W rows (NMS reads "
    "shift at +-W, shift reads rows at +-W); pytest pins segmented == "
    "unsegmented AND 3-run bit-identity (contrast "
    "anomaly_mad_events, which is point-wise robust-outlier detection; "
    "this detects LEVEL shifts).",
)
def ts2_mean_shift_detect(
    spark: SparkSession, sf_dir: str, seg_rows: int = _MS_SEG_ROWS
) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    c = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", "event_id", "ts", c.alias("c"))
    # Per-series rn (scale-safe), then halo-overlapped segments: the NMS
    # statistic at row i depends on rows within 2W of i, so a +-2W halo
    # makes every home row's result identical to the unsegmented plan.
    sliced = _halo_segments(
        _series_rn(base, "event_type", ["ts", "event_id"]), seg_rows, 2 * _MS_W
    )
    before = (
        W.partitionBy("event_type", "_seg").orderBy("_rn").rowsBetween(-_MS_W, -1)
    )
    after = (
        W.partitionBy("event_type", "_seg").orderBy("_rn").rowsBetween(0, _MS_W - 1)
    )
    w = sliced.select(
        "event_type",
        "event_id",
        "ts",
        "_seg",
        "_rn",
        "_home",
        F.sum("c").over(before).alias("sum_before"),
        F.count("*").over(before).alias("n_before"),
        F.sum("c").over(after).alias("sum_after"),
        F.count("*").over(after).alias("n_after"),
    )
    full_w = w.filter(
        (F.col("n_before") == _MS_W) & (F.col("n_after") == _MS_W)
    ).withColumn("shift", F.abs(F.col("sum_after") - F.col("sum_before")))
    # non-maximum suppression: the synthetic series drift continuously,
    # so a bare threshold flags most positions; a CHANGE POINT is where
    # the shift statistic peaks within +-W rows (ties all kept —
    # deterministic)
    nms = (
        W.partitionBy("event_type", "_seg").orderBy("_rn").rowsBetween(-_MS_W, _MS_W)
    )
    return (
        full_w.withColumn("local_max", F.max("shift").over(nms))
        .filter(
            F.col("_home")
            & (F.col("shift") >= F.lit(_MS_W * _MS_THRESH_C))
            & (F.col("shift") == F.col("local_max"))
        )
        .select(
            "event_type",
            "event_id",
            "ts",
            (F.col("sum_before").cast("double") / F.lit(float(_MS_W)) / F.lit(100.0))
            .alias("mean_before"),
            (F.col("sum_after").cast("double") / F.lit(float(_MS_W)) / F.lit(100.0))
            .alias("mean_after"),
            (F.col("shift").cast("double") / F.lit(float(_MS_W)) / F.lit(100.0))
            .alias("shift_size"),
        )
    )


# ---------------------------------------------------------------------------
# Materialized-view batch parity
# ---------------------------------------------------------------------------


@register(
    "mv_user_event_totals",
    r"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM events GROUP BY user_id
    """,
    tags=("events", "agg", "streaming-parity"),
    doc="Per-user event totals (count / integer-cent sum / max) — the "
    "batch form of an incremental materialized view "
    "(streaming/matview.py merges per-batch partials of such "
    "decomposable aggregates).  One "
    "map-side-combined shuffle; integer cents keep it cross-engine "
    "exact.",
)
def mv_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(*mv_user_event_aggs())


def mv_user_event_aggs():
    """The view's aggregate expressions: count, integer-cent sum and
    max, each decomposable, so per-batch partials merge additively."""
    cents = F.round(F.col("value") * 100).cast("long")
    return [
        F.count("*").cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("total_cents"),
        F.max(cents).cast("long").alias("max_cents"),
    ]


# ---------------------------------------------------------------------------
# Spark 4 semi-structured (Variant) + mergeable sketch rollup
# ---------------------------------------------------------------------------


@register(
    "var1_variant_extract",
    r"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) >= 50
    GROUP BY event_type
    """,
    tags=("events", "semistructured", "variant"),
    doc="Semi-structured extraction through Spark 4's VARIANT type: "
    "parse_json once at scan time, then typed variant_get paths "
    "(binary-encoded navigation — no per-row string re-parsing, the "
    "reason Variant replaces get_json_object at 100 TB: the open "
    "Variant binary encoding is ~an order of magnitude faster to "
    "navigate than repeated JSON text parsing and pushes typed "
    "access into the columnar reader).  Filter + aggregate on the "
    "extracted typed value; integer sums keep the oracle exact "
    "(DuckDB mirrors via its JSON operators over the same strings).  "
    "Contrast json_extract_props, which declares the legacy "
    "string-path (get_json_object) form.",
)
def var1_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


# Seeded-HLL constants (oracle-reproducible sketch, r9).  m = 32
# registers keeps the sf0.01 cardinalities (150 users/type) outside the
# linear-counting small-range zone (2.5m = 80), so the RAW HyperLogLog
# estimator applies and no libm log/exp enters the plan.  All register
# arithmetic is integer-exact: term = 2^(55 - M) as BIGINT shifts
# (M in 1..55, sum <= 32 * 2^55 = 2^60 < 2^63), and the only float op
# is one literal/BIGINT division — IEEE-deterministic given identical
# operands, so Spark and DuckDB hash-match bit for bit.
_HLL_P = 5
_HLL_M = 1 << _HLL_P  # 32 registers; a power of two so idx/w are SHIFTS
_HLL_EMPTY_TERM = 1 << 55  # an unhit register has M = 0 -> 2^(55-0)
_HLL_NUM = repr(0.697 * _HLL_M * _HLL_M * float(1 << 55))  # alpha_32 * m^2 * 2^55


@register(
    "agg_hll_rollup",
    f"""
    WITH h AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ), r AS (
        SELECT event_type, day, h % {_HLL_M} AS idx,
               56 - length(bin(h // {_HLL_M})) AS rho
        FROM h
    ), daily AS (
        SELECT event_type, day, idx, MAX(rho) AS m FROM r GROUP BY 1, 2, 3
    ), unioned AS (
        SELECT event_type, idx, MAX(m) AS m2 FROM daily GROUP BY 1, 2
    ), est AS (
        SELECT event_type, COUNT(*) AS regs_hit,
               SUM(CAST(1 AS BIGINT) << (55 - m2)) AS s_present
        FROM unioned GROUP BY 1
    ), days AS (
        SELECT event_type, COUNT(DISTINCT day) AS n_days FROM daily GROUP BY 1
    )
    SELECT e.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(e.regs_hit AS BIGINT) AS regs_hit,
           {_HLL_NUM} / CAST(e.s_present
               + ({_HLL_M} - e.regs_hit) * {_HLL_EMPTY_TERM} AS DOUBLE)
               AS distinct_users_est
    FROM est e JOIN days d USING (event_type)
    """,
    tags=("agg", "approx", "sketch"),
    doc="Mergeable-sketch rollup — the 100 TB distinct-count pattern: "
    "per (event_type, day) HLL REGISTER tables aggregate once over "
    "the fact table, then the daily registers union to per-type "
    "totals by register-wise MAX WITHOUT rescanning the facts — the "
    "re-aggregation property exact countDistinct fundamentally lacks "
    "(distinct counts don't add; sketches do).  r9: the declared form "
    "is a SEEDED HLL the DuckDB oracle reproduces exactly — register "
    "index/rank from the md5-60 cross-engine hash (h % m, "
    "rho = 56 - bitlength(h div m)), integer 2^(55-M) harmonic terms, "
    "one IEEE division for the raw estimate (alpha_32 m^2 / sum) — "
    "deterministic because register max-merge is order-invariant and "
    "every term is a pure function of row values.  The Datasketches "
    "form (hll_sketch_agg/hll_union_agg, binary sketches a warehouse "
    "would persist) has engine-specific sketch bytes; pytest bounds "
    "both estimates against exact counts and pins union-vs-direct "
    "associativity.",
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    regs = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        (h % _HLL_M).alias("idx"),
        # h // m via shiftright (m = 2^p): h/m would be a DOUBLE divide,
        # inexact for h >= 2^53 — the shift keeps the 55-bit w exact.
        (F.lit(56) - F.length(F.bin(F.shiftright(h, _HLL_P)))).alias("rho"),
    )
    daily = regs.groupBy("event_type", "day", "idx").agg(F.max("rho").alias("m"))
    unioned = daily.groupBy("event_type", "idx").agg(F.max("m").alias("m2"))
    est = unioned.groupBy("event_type").agg(
        F.count("*").alias("regs_hit"),
        # F.shiftleft only takes a Python-int bit count; the SQL form
        # accepts a column expression for the 2^(55-M) harmonic term.
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - m2)")).alias("s_present"),
    )
    days = daily.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    return est.join(F.broadcast(days), "event_type").select(
        "event_type",
        "n_days",
        F.col("regs_hit").cast("long").alias("regs_hit"),
        (
            F.lit(float(_HLL_NUM))
            / (
                F.col("s_present")
                + (F.lit(_HLL_M) - F.col("regs_hit")) * F.lit(_HLL_EMPTY_TERM)
            ).cast("double")
        ).alias("distinct_users_est"),
    )


# ---------------------------------------------------------------------------
# Group-aware train/val/test split (leakage prevention)
# ---------------------------------------------------------------------------


@register(
    "sample_grouped_split",
    r"""
    WITH e AS (
        SELECT event_id, user_id,
               ((user_id % 2147483648) * 1103515245 + 12345) % 2147483648
                   AS h
        FROM events
    ), s AS (
        SELECT event_id, user_id,
               CASE WHEN h % 10 < 8 THEN 'train'
                    WHEN h % 10 < 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM e
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s GROUP BY split
    """,
    tags=("sampling", "pipeline"),
    doc="Group-aware 80/10/10 split (GroupShuffleSplit semantics): "
    "the split is a deterministic LCG of the GROUP key (user_id), "
    "never the row, so every event of a user lands in one split — "
    "the leakage guard row-level splits (sample_train_val_test) "
    "lack: a user appearing in both train and test leaks "
    "user-specific signal into evaluation.  Scan-stage assignment "
    "(integer LCG, cross-engine exact), one aggregate; at 100 TB "
    "the assignment is a projection on the fact scan with no extra "
    "shuffle, and the same LCG assigns any OTHER table keyed by "
    "user_id to the same side — splits stay consistent across every "
    "table of the schema.  pytest pins user-disjointness and "
    "assignment determinism.",
)
def sample_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = (
        (F.col("user_id") % F.lit(2147483648)) * F.lit(1103515245)
        + F.lit(12345)
    ) % F.lit(2147483648)
    split = (
        F.when(h % 10 < 8, "train").when(h % 10 < 9, "val").otherwise("test")
    )
    return (
        ev.select("event_id", "user_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# r9: contrastive hard-negative mining + curriculum schedule
# ---------------------------------------------------------------------------


@register(
    "ann_hard_negatives",
    """
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
        SELECT a.vec_id AS vec_id, a.label AS label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cosine
        FROM e a JOIN e b ON a.label <> b.label
    )
    SELECT vec_id, CAST(label AS INTEGER) AS label, neighbor_id,
           CAST(neighbor_label AS INTEGER) AS neighbor_label, cosine, rank
    FROM (
        SELECT s.*, CAST(ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id)
            AS BIGINT) AS rank
        FROM s
        WHERE cosine IS NOT NULL  -- zero-norm guard mirror (kernel isfinite)
    ) t WHERE rank <= 5
    """,
    tags=("similarity", "blocked"),
    doc="Hard-negative mining for contrastive embedding training: per "
    "vector, the 5 most-similar vectors with a DIFFERENT label — the "
    "near-boundary negatives that actually move a contrastive loss, "
    "vs trivially-separable random negatives.  Same triangle block "
    "join + local-top-k shape as graph_knn_cosine (O(n*B) shuffle, "
    "O(n*B*k) reduce candidates, never O(n^2)); the same-label mask "
    "is applied inside each Arrow task BEFORE the local top-k, so "
    "selection happens among negatives only and labels ride the "
    "batch with no extra join.  k-ordered numpy adds keep cosines "
    "bitwise-equal to the all-pairs DuckDB oracle.",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import hard_negatives

    return hard_negatives(load_table(spark, "embeddings", sf_dir), k=5)


@register(
    "curriculum_interleave",
    """
    WITH d AS (
        SELECT doc_id, lang, n_chars, coalesce(lang, '') AS lk FROM documents
    ), li AS (
        SELECT lk, CAST(DENSE_RANK() OVER (ORDER BY lk) AS BIGINT) AS li
        FROM (SELECT DISTINCT coalesce(lang, '') AS lk FROM documents)
    ), n AS (SELECT COUNT(*) AS ns FROM li),
    r AS (
        SELECT doc_id, lang, lk,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lk ORDER BY n_chars, doc_id) AS BIGINT)
                   AS stratum_rank
        FROM d
    )
    SELECT r.doc_id, r.lang, r.stratum_rank,
           (r.stratum_rank - 1) * n.ns + (li.li - 1) AS sched_key
    FROM r JOIN li USING (lk) CROSS JOIN n
    """,
    tags=("sampling", "curriculum", "tiny-global-window"),
    doc="Deterministic curriculum schedule with stratified interleave: "
    "docs rank easy-to-hard WITHIN their language (n_chars, doc_id "
    "tiebreak), and the global training order is the collision-free "
    "FORMULA sched_key = (stratum_rank-1) * n_strata + stratum_index "
    "— language strata interleave round-robin so every training "
    "window sees every language, without any global window or sort "
    "(the only partition-less window ranks the O(langs) distinct "
    "stratum list; the heavy window is keyed per language).  "
    "Null-safe: a NULL lang is its own '' stratum, never dropped.  "
    "Writing shards ordered by sched_key materializes the curriculum.",
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id", "lang", "n_chars", F.coalesce("lang", F.lit("")).alias("lk")
    )
    li = (
        d.select("lk")
        .distinct()
        .withColumn("li", F.dense_rank().over(W.orderBy("lk")).cast("long"))
    )
    n_strata = li.count()
    ranked = d.withColumn(
        "stratum_rank",
        F.row_number()
        .over(W.partitionBy("lk").orderBy("n_chars", "doc_id"))
        .cast("long"),
    )
    return ranked.join(F.broadcast(li), "lk").select(
        "doc_id",
        "lang",
        "stratum_rank",
        (
            (F.col("stratum_rank") - 1) * F.lit(n_strata) + (F.col("li") - 1)
        ).cast("long").alias("sched_key"),
    )
