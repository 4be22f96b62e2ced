"""Round-11 extension wave (fourth batch): LM/retrieval evaluation and
corpus-health operators — stupid-backoff trigram scoring, integer-
weight nDCG@10 for the LSH retriever, corpus diversity indices,
cross-split near-dup leakage detection, and daily OHLC resampling of
the event stream.

Cross-engine rules as registry.py / wave21: exact integer aggregates
first, then IDENTICAL scalar double expression trees on both engines.
N-gram extraction is SCAN-STAGE (array transforms over the token
split — no positional self-joins), with explicit length guards because
``sequence(a, b)`` descends when b < a.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register

# --------------------------------------------------------------------------
# Stupid-backoff trigram LM
# --------------------------------------------------------------------------

_SB_ALPHA = 0.4  # Brants et al. 2007 backoff constant
_SB_MIN_C12 = 5
_SB_TOPK = 3


@register(
    "lm_stupid_backoff_trigram",
    rf"""
    WITH d AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ),
    tg AS (
        SELECT w1, w2, w3, COUNT(*) AS c123 FROM (
            SELECT unnest([{{'w1': ws[i], 'w2': ws[i+1], 'w3': ws[i+2]}}
                       for i in generate_series(1, len(ws) - 2)],
                   recursive := true)
            FROM d WHERE len(ws) >= 3
        ) GROUP BY 1, 2, 3
    ),
    bg AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM (
            SELECT unnest([{{'w1': ws[i], 'w2': ws[i+1]}}
                       for i in generate_series(1, len(ws) - 1)],
                   recursive := true)
            FROM d WHERE len(ws) >= 2
        ) GROUP BY 1, 2
    ),
    uni AS (
        SELECT w, COUNT(*) AS c1 FROM (
            SELECT unnest(ws) AS w FROM d
        ) WHERE w <> '' GROUP BY 1
    ),
    scored AS (
        SELECT tg.w1, tg.w2, tg.w3,
               CAST(tg.c123 AS BIGINT) AS c123,
               CAST(b12.c12 AS BIGINT) AS c12,
               CAST(tg.c123 AS DOUBLE) / CAST(b12.c12 AS DOUBLE) AS score,
               {_SB_ALPHA} * (CAST(b23.c12 AS DOUBLE)
                              / CAST(u2.c1 AS DOUBLE)) AS score_backoff
        FROM tg
        JOIN bg b12 ON b12.w1 = tg.w1 AND b12.w2 = tg.w2
        JOIN bg b23 ON b23.w1 = tg.w2 AND b23.w2 = tg.w3
        JOIN uni u2 ON u2.w = tg.w2
    )
    SELECT w1, w2, w3, c123, c12, score, score_backoff FROM (
        SELECT scored.*, ROW_NUMBER() OVER (
            PARTITION BY w1, w2 ORDER BY c123 DESC, w3) AS rn
        FROM scored
    ) t WHERE rn <= {_SB_TOPK} AND c12 >= {_SB_MIN_C12}
    """,
    tags=("textstats", "lm"),
    doc="Stupid-backoff trigram LM (Brants et al. 2007 — the "
    "large-corpus scoring scheme that skips discount estimation "
    "entirely): per observed trigram S(w3|w1 w2) = c123/c12, with the "
    f"backoff leg alpha*c23/c2 (alpha={_SB_ALPHA}) alongside so the "
    "scorer can fall through on unseen contexts; top-3 continuations "
    "per context with c12 >= 5.  Complements lm_kneser_ney_bigram "
    "with the 3-gram order actually used for web-scale data scoring.  "
    "Extraction is SCAN-STAGE: trigram/bigram structs come from one "
    "array transform over the token split (no positional self-joins), "
    "so the plan is three map-side-combined n-gram aggregates and "
    "three broadcast-able equi-joins back onto the trigram table.  "
    "Counts exact BIGINT; each score is one division (the backoff "
    "adds one multiply by the shared literal), identical expression "
    "trees both engines.",
)
def lm_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("ws"))
    tg_arr = F.expr(
        "transform(sequence(1, size(ws) - 2), i -> named_struct("
        "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1), "
        "'w3', element_at(ws, i + 2)))"
    )
    bg_arr = F.expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct("
        "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"
    )
    tg = (
        d.filter(F.expr("size(ws) >= 3"))
        .select(F.explode(tg_arr).alias("t"))
        .groupBy(
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
        .agg(F.count("*").alias("c123"))
    )
    bg = (
        d.filter(F.expr("size(ws) >= 2"))
        .select(F.explode(bg_arr).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)  # feeds both the c12 and c23 joins
    )
    uni = (
        d.select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    b12 = bg.select("w1", "w2", F.col("c12").alias("__c12"))
    b23 = bg.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("c12").alias("__c23"),
    )
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("__c2"))
    scored = (
        tg.join(b12, ["w1", "w2"])
        .join(b23, ["w2", "w3"])
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c123").cast("long").alias("c123"),
            F.col("__c12").cast("long").alias("c12"),
            (F.col("c123").cast("double") / F.col("__c12").cast("double")).alias(
                "score"
            ),
            (
                F.lit(_SB_ALPHA)
                * (F.col("__c23").cast("double") / F.col("__c2").cast("double"))
            ).alias("score_backoff"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("w1", "w2").orderBy(F.desc("c123"), "w3")
    )
    return (
        scored.withColumn("rn", rn)
        .filter((F.col("rn") <= _SB_TOPK) & (F.col("c12") >= _SB_MIN_C12))
        .drop("rn")
    )


# --------------------------------------------------------------------------
# nDCG@10 of the LSH retriever (integer-weight DCG)
# --------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_SCALE = 1 << 20
# integer DCG weights round(2^20 / log2(r+1)): plain-int literals, so
# both engines sum EXACTLY (a float 1/log2 sum would be order-dependent)
_NDCG_W = [round(_NDCG_SCALE / math.log2(r + 1)) for r in range(1, _NDCG_K + 1)]
_NDCG_PREFIX = [0]
for _w in _NDCG_W:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _w)


def _ndcg_oracle_sql() -> str:
    from .extension_queries import _lsh_sigs_probes_ctes

    wt = ", ".join(f"({r + 1}, {w})" for r, w in enumerate(_NDCG_W))
    pf = ", ".join(f"({m}, {p})" for m, p in enumerate(_NDCG_PREFIX))
    return f"""
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                FROM embeddings),
    -- isfinite gate mirrors similarity._with_norm's entry validation
    -- in lsh_topk (r14 ADVICE items 1+2)
    e AS (SELECT vec_id, v FROM e0
          WHERE isfinite(list_dot_product(v, v))),
    {_lsh_sigs_probes_ctes(4, 64)},
    lsh AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                       list_dot_product(p.qv, s.v)
                           / (sqrt(list_dot_product(p.qv, p.qv))
                              * sqrt(list_dot_product(s.v, s.v))) DESC,
                       s.vec_id) AS rank
            FROM probes p JOIN sigs s USING (bucket)
            WHERE s.vec_id != p.query_id
        ) t WHERE rank <= {_NDCG_K}
    ),
    wt(r, w) AS (VALUES {wt}),
    pf(m, p) AS (VALUES {pf}),
    q AS (SELECT vec_id AS query_id, label AS qlabel FROM e0
          WHERE vec_id < 16),
    lab AS (SELECT label, COUNT(*) AS n_lab FROM e0 GROUP BY label),
    nr AS (SELECT q.query_id, lab.n_lab - 1 AS n_rel
           FROM q JOIN lab ON lab.label = q.qlabel),
    dcg AS (
        SELECT l.query_id,
               SUM(CASE WHEN n.label = q.qlabel THEN w.w ELSE 0 END) AS dcg
        FROM lsh l
        JOIN e0 n ON n.vec_id = l.neighbor_id
        JOIN q ON q.query_id = l.query_id
        JOIN wt w ON w.r = l.rank
        GROUP BY 1
    )
    SELECT nr.query_id, CAST(nr.n_rel AS BIGINT) AS n_rel,
           CAST(coalesce(dcg.dcg, 0) AS BIGINT) AS dcg_scaled,
           CAST(pf.p AS BIGINT) AS idcg_scaled,
           CASE WHEN nr.n_rel = 0 THEN 0.0
                ELSE CAST(coalesce(dcg.dcg, 0) AS DOUBLE)
                     / CAST(pf.p AS DOUBLE) END AS ndcg_at_10
    FROM nr
    JOIN pf ON pf.m = least(nr.n_rel, {_NDCG_K})
    LEFT JOIN dcg ON dcg.query_id = nr.query_id
    """


@register(
    "eval_retrieval_ndcg",
    _ndcg_oracle_sql(),
    tags=("similarity", "eval", "tiny-bnlj"),
    doc="nDCG@10 of the LSH retriever with label-match relevance — the "
    "position-weighted retrieval metric next to eval_ann_recall's "
    "set-overlap recall: a retriever that buries its relevant hits at "
    "rank 9-10 scores visibly worse than one that fronts them.  The "
    "DCG discounts 1/log2(r+1) are pre-scaled to INTEGER weights "
    "round(2^20/log2(r+1)) embedded as literals in both plans, so DCG "
    "and the ideal-DCG prefix sums accumulate EXACTLY (a float "
    "1/log2 sum would be partition-order-dependent) and nDCG is one "
    "final division.  Ideal DCG uses the query label's corpus "
    "support: IDCG = prefix[min(n_rel, 10)].  Scale shape: the "
    "retriever is the declared bucket-join ann_lsh_topk (shared CTE "
    "builder — the evaluated retriever cannot drift from the deployed "
    "one); relevance adds one broadcast label join; the per-label "
    "support table is an O(labels) broadcast.",
)
def eval_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import lsh_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    lsh = lsh_topk(emb, queries, k=_NDCG_K, planes=4)
    wt_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    pf_arr = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    nl = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    ql = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    dcg = (
        lsh.join(nl, "neighbor_id")
        .join(F.broadcast(ql), "query_id")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("nlabel") == F.col("qlabel"),
                    F.element_at(wt_arr, F.col("rank").cast("int")),
                ).otherwise(F.lit(0))
            ).alias("dcg")
        )
    )
    lab = emb.groupBy("label").agg(F.count("*").alias("n_lab"))
    nr = ql.join(
        F.broadcast(lab), ql["qlabel"] == lab["label"]
    ).select("query_id", (F.col("n_lab") - 1).alias("n_rel"))
    idcg = F.element_at(
        pf_arr, (F.least(F.col("n_rel"), F.lit(_NDCG_K)) + 1).cast("int")
    )
    d = F.coalesce(F.col("dcg"), F.lit(0))
    return (
        nr.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel").cast("long").alias("n_rel"),
            d.cast("long").alias("dcg_scaled"),
            idcg.cast("long").alias("idcg_scaled"),
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(d.cast("double") / idcg.cast("double"))
            .alias("ndcg_at_10"),
        )
    )


# --------------------------------------------------------------------------
# Corpus diversity indices
# --------------------------------------------------------------------------

_DIV_TOPK = 100


@register(
    "corpus_diversity_indices",
    rf"""
    WITH w AS (
        SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ),
    tc AS (
        SELECT lang, w, COUNT(*) AS n FROM w WHERE w <> '' GROUP BY 1, 2
    ),
    agg AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(n * (n - 1)) AS BIGINT) AS simpson_num
        FROM tc GROUP BY lang
    ),
    top AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS top_n FROM (
            SELECT tc.*, ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY n DESC, w) AS rn
            FROM tc
        ) t WHERE rn <= {_DIV_TOPK} GROUP BY lang
    ),
    ch AS (
        SELECT lang, source, SUM(n_chars) AS chars_ls
        FROM documents GROUP BY 1, 2
    ),
    herf AS (
        SELECT lang, CAST(SUM(chars_ls * chars_ls) AS BIGINT) AS h_num,
               CAST(SUM(chars_ls) AS BIGINT) AS chars_l
        FROM ch GROUP BY lang
    )
    SELECT agg.lang, agg.n_tokens, agg.vocab_size,
           CAST(agg.vocab_size AS DOUBLE) / CAST(agg.n_tokens AS DOUBLE)
               AS ttr,
           CASE WHEN agg.n_tokens <= 1 THEN 0.0
                ELSE CAST(agg.simpson_num AS DOUBLE)
                    / (CAST(agg.n_tokens AS DOUBLE)
                       * CAST(agg.n_tokens - 1 AS DOUBLE))
                END AS simpson_repeat,
           CAST(top.top_n AS DOUBLE) / CAST(agg.n_tokens AS DOUBLE)
               AS top100_share,
           CAST(herf.h_num AS DOUBLE)
               / (CAST(herf.chars_l AS DOUBLE)
                  * CAST(herf.chars_l AS DOUBLE)) AS src_herfindahl
    FROM agg
    JOIN top USING (lang)
    JOIN herf USING (lang)
    """,
    tags=("textstats", "corpus"),
    doc="Per-language corpus diversity health: type-token ratio, the "
    "Simpson repeat probability sum n(n-1)/(N(N-1)) (chance two "
    "random token draws are the same type — the concentration dual "
    "of entropy, computable EXACTLY from integer counts where "
    "Shannon entropy's p*log p is not cross-engine-stable; a 1-token "
    "language's 0/0 is guarded to 0.0 on both engines), top-100 "
    "token mass share, and a Herfindahl concentration index of "
    "char mass across sources (near 1 = the language is effectively "
    "single-source — a diversity red flag no per-source row count "
    "shows).  Every index is exact-integer numerators + one division "
    "(denominator products taken in double, correctly rounded).  One "
    "vocabulary shuffle; the top-100 rank compiles to WindowGroupLimit "
    "(per-partition bottom-k below the shuffle); the source table is "
    "an O(langs x sources) aggregate.  Overflow: sum n^2 and "
    "chars_ls^2 stay under 2^63 to ~3e9-count cells; ANSI throws "
    "loudly past that (move the numerators to DOUBLE at that scale).",
)
def corpus_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select(
        "lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tc = w.groupBy("lang", "w").agg(F.count("*").alias("n"))
    agg = tc.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("simpson_num"),
    )
    rn = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("n"), "w"))
    top = (
        tc.withColumn("rn", rn)
        .filter(F.col("rn") <= _DIV_TOPK)
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("top_n"))
    )
    ch = docs.groupBy("lang", "source").agg(F.sum("n_chars").alias("chars_ls"))
    herf = ch.groupBy("lang").agg(
        F.sum(F.col("chars_ls") * F.col("chars_ls")).cast("long").alias("h_num"),
        F.sum("chars_ls").cast("long").alias("chars_l"),
    )
    nt = F.col("n_tokens").cast("double")
    cl = F.col("chars_l").cast("double")
    return (
        agg.join(top, "lang")
        .join(herf, "lang")
        .select(
            "lang",
            "n_tokens",
            "vocab_size",
            (F.col("vocab_size").cast("double") / nt).alias("ttr"),
            # a 1-token language makes N(N-1) = 0 and the numerator 0:
            # guard the 0/0 (same class of edge as drift_tvd_sources)
            F.when(F.col("n_tokens") <= 1, F.lit(0.0))
            .otherwise(
                F.col("simpson_num").cast("double")
                / (nt * (F.col("n_tokens") - 1).cast("double"))
            )
            .alias("simpson_repeat"),
            (F.col("top_n").cast("double") / nt).alias("top100_share"),
            (F.col("h_num").cast("double") / (cl * cl)).alias("src_herfindahl"),
        )
    )


# --------------------------------------------------------------------------
# Cross-split near-dup leakage
# --------------------------------------------------------------------------


def _leakage_oracle_sql() -> str:
    from ..extensions.dedup import minhash_seeded_pair_ctes
    from ..extensions.sampling import split_case_oracle_sql

    return f"""
    WITH {minhash_seeded_pair_ctes(threshold=0.0)},
    s AS (
        SELECT doc_id,
               {split_case_oracle_sql(indent=15)}
        FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.id_a) AS BIGINT) AS n_docs_a,
           CAST(COUNT(DISTINCT c.id_b) AS BIGINT) AS n_docs_b
    FROM cand c
    JOIN s sa ON sa.doc_id = c.id_a
    JOIN s sb ON sb.doc_id = c.id_b
    WHERE sa.split <> sb.split
    GROUP BY 1, 2
    """


@register(
    "eval_split_leakage",
    _leakage_oracle_sql(),
    tags=("dedup", "sampling", "eval"),
    doc="Train/val/test near-duplicate leakage check — the audit that "
    "belongs between assign_splits and any eval claim: LSH band "
    "candidates (the seeded MinHash family, threshold 0) whose two "
    "docs landed in DIFFERENT splits, aggregated per split pair with "
    "distinct-doc counts.  A val set whose docs share bands with "
    "train is measuring memorization, not generalization — this is "
    "the decontamination gate applied to the engine's OWN split "
    "operator, composing two already-oracle-verified primitives "
    "(sample_train_val_test's LCG buckets x dedup_minhash_lsh's band "
    "join).  Scale shape: identical to dedup_minhash_lsh (banded "
    "bucket join with hot-bucket cap, never all-pairs) plus two "
    "scan-stage split CASEs and one tiny aggregate.",
)
def eval_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions import dedup
    from ..extensions.sampling import assign_splits

    docs = load_table(spark, "documents", sf_dir)
    # band-collision candidates directly: the r15 shape ran the
    # signature-agreement verify at threshold 0.0, which keeps every
    # candidate (est_jaccard is in [0,1]) — two signature joins for
    # nothing; the oracle reads from its cand CTE, same definition
    _, cand = dedup.minhash_lsh_candidates(docs, seeded=True)
    s = assign_splits(docs.select("doc_id"), "doc_id").select("doc_id", "split")
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("id_a").cast("long").alias("n_docs_a"),
            F.countDistinct("id_b").cast("long").alias("n_docs_b"),
        )
    )


# --------------------------------------------------------------------------
# Daily OHLC resampling of the event stream
# --------------------------------------------------------------------------


@register(
    "ts3_ohlc_daily",
    """
    WITH e AS (
        SELECT event_type, date_trunc('day', ts) AS day, ts, event_id, value
        FROM events
    ),
    r AS (
        SELECT e.*,
               ROW_NUMBER() OVER (PARTITION BY event_type, day
                   ORDER BY ts, event_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY event_type, day
                   ORDER BY ts DESC, event_id DESC) AS rl
        FROM e
    )
    SELECT event_type, day,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
    """,
    tags=("timeseries", "window"),
    doc="Daily OHLC resampling of the event value stream per event "
    "type — the canonical downsample-for-dashboards operator (open = "
    "first value of the day, close = last, high/low = extent), with "
    "(ts, event_id) tie-breaks so concurrent events resolve "
    "deterministically on every engine.  No float SUM anywhere: "
    "open/close are PICKED values (row_number = 1 flags folded "
    "through MAX(CASE), which sees exactly one non-NULL), high/low "
    "are order-free MIN/MAX.  Scale shape: windows and the final "
    "aggregate share the (event_type, day) partitioning — one "
    "shuffle, then per-group work bounded by events-per-day; group "
    "count grows with the data, no hot single partition.",
)
def ts3_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wf = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wl = W.partitionBy("event_type", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = e.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rl", F.row_number().over(wl)
    )
    return r.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
        F.count("*").cast("long").alias("n_events"),
    )
