"""Round-5 wave-5/6 additions — the declared-query surface grown this
round beyond similarity dedup:

* ``lm_bpe_pair_counts`` — the counting step of BPE tokenizer training
  (most frequent adjacent symbol pair = next merge candidate).
* ``dedup_doc_containment`` — ASYMMETRIC near-dup detection (doc A
  mostly contained in doc B) which symmetric Jaccard misses when the
  containing doc is much larger (quote farms, concatenated shards).
* ``corpus_ngram_novelty`` — per-doc fraction of shingles first seen
  in that doc (by doc_id order): the marginal-contribution signal used
  to prune low-novelty documents during curation.
* ``embedding_knn_classify`` — leave-one-out kNN label-vote accuracy,
  the embedding label-consistency probe.
* ``agg_contribution_bounded`` — per-user contribution capping before
  corpus statistics (robustness hygiene).
* ``lm_pmi_collocations`` — exact-ratio PMI phrase mining (no fp logs).
* ``ops_zorder_key`` — Morton keys for multi-dim data skipping.
* ``dedup_repeated_substrings`` — ExactSubstr-style cross-doc verbatim
  repeat spans (Lee et al., ACL'22).
* ``dedup_incremental_near`` — batch near-dup admission vs a
  persistent LSH band store (rows-only: xxhash64 signatures).
* ``pipeline_learned_quality`` — learned quality filter on Gopher
  weak labels (oracle-backed: fixed-point perceptron).
* ``text_compression_ratio`` — zlib entropy-proxy quality signal
  (rows-only: no SQL DEFLATE scalar).
* ``stats_bootstrap_ci_events`` — distributed Poisson bootstrap with
  bit-identical cross-engine resamples (oracle-backed).
* ``pipeline_curation_v2`` — composed quality+novelty+containment
  curation, full-composition oracle.
* ``pipeline_rag_index`` — chunk -> encode -> IVF -> provenance
  (rows-only: MLlib k-means cells).
* ``lm_bpe_train`` — full Sennrich BPE merge loop (rows-only:
  iterative; see extensions/bpe.py).
* ``ops_file_layout_report`` — the small-files / key-range health
  check run before compaction on a 100 TB lake (rows-only: DuckDB has
  no analog of Spark's per-file lineage).

Shingling here is WORD 3-grams (distinct per doc) with 1-based window
starts so the Spark ``element_at`` arithmetic matches DuckDB's 1-based
list subscripts exactly; char-8 shingles remain the dedup-module
canon (extensions/dedup.py::_shingles) — word 3-grams read better in
containment/novelty reports and cost one split per doc either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table, spread_scan
from .registry import register

# Shingles occurring in more than DF_CAP documents are boilerplate and
# are dropped BEFORE the containment self-join: per-shingle pair
# fan-out is then <= DF_CAP * df(s), so the join's row count is bounded
# by DF_CAP * (total shingle occurrences) — linear in corpus size, not
# quadratic in hot-shingle document frequency.  Production containment
# detectors make the same trade (ultra-common shingles carry no
# containment evidence); sizes/intersections are computed consistently
# over the SAME capped shingle space in both engines.
_DF_CAP = 50
_CONTAINMENT_T = 0.8


def _word_trigram_shingles(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           hashed: bool = False) -> DataFrame:
    """Distinct word 3-gram shingles per doc: (doc_id, s) scalar rows.

    1-based window starts (``sequence(1, size-2)`` + ``element_at``)
    mirror the oracle's ``range(1, len-1)`` + 1-based list subscripts
    token for token.  Pure scan-stage Catalyst expressions — the only
    shuffles in the consumers are their own groupBys/joins.

    ``hashed=True`` (the declared scale path, same convention as
    ``dedup.repeated_substring_spans``) emits ``xxhash64(s)`` under
    the SAME column name, so every consumer's groupBy/join keys on an
    8-byte long instead of a ~20-30 char trigram string — the shuffle
    shrinks ~3x and key compares leave string space.  A divergence
    needs two distinct trigrams of one consumer's key group to collide
    in 64 bits (P ~ K^2/2^64 — vanishing; pytest pins raw == hashed
    on the test corpus).  The raw form stays the default and the
    oracle twin.
    """
    ws = spread_scan(docs).select(
        F.col(id_col), F.split(F.lower(F.trim(text_col)), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 3)
    tri = F.expr(
        "transform(sequence(1, size(ws) - 2),"
        " i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),"
        " element_at(ws, i + 2)))"
    )
    out = ws.select(F.col(id_col), F.explode(F.array_distinct(tri)).alias("s"))
    if hashed:
        out = out.select(F.col(id_col), F.xxhash64("s").alias("s"))
    return out


@register(
    "lm_bpe_pair_counts",
    r"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ), p AS (
        SELECT unnest(list_transform(range(1, CAST(length(w) AS INTEGER)),
                   i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
        FROM w WHERE length(w) >= 2
    ), c AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY pair
    ), top AS (
        SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 50
    )
    SELECT pair, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
    FROM top
    """,
    tags=("lm", "textstats", "tiny-global-window"),
    doc="The counting step of BPE tokenizer training: frequency of "
    "every adjacent character pair within words, top-50 with a "
    "deterministic (n DESC, pair) total order — the head of this "
    "table IS the next merge candidate (Sennrich et al., ACL'16, \"Neural Machine Translation of Rare Words with Subword Units\").  "
    "One pair-count shuffle with "
    "map-side combine, then TakeOrderedAndProject; the rank window "
    "runs over the 50-row top-k only (tiny-global-window), never the "
    "corpus.  Iterating merge rounds re-runs this count over the "
    "re-tokenized corpus — each round is this same bounded plan.",
)
def lm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(load_table(spark, "documents", sf_dir))


def bpe_pair_counts(docs: DataFrame, top_n: int = 50,
                    text_col: str = "text") -> DataFrame:
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair")
    )
    c = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n"))
    top = c.orderBy(F.desc("n"), "pair").limit(top_n)
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("n"), "pair")).cast("long")
    )


@register(
    "dedup_doc_containment",
    r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, CAST(len(ws) AS INTEGER) - 1),
                   i -> ws[CAST(i AS INTEGER)] || ' '
                        || ws[CAST(i AS INTEGER) + 1] || ' '
                        || ws[CAST(i AS INTEGER) + 2])) AS s
        FROM words WHERE len(ws) >= 3
    ), df AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50
    ), shf AS (
        SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shf GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared, sa.sz AS sz_a,
           CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_a
    WHERE CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.8
    """,
    tags=("dedup",),
    doc="Asymmetric containment dedup (Broder, SEQUENCES'97, \"On the "
    "resemblance and containment of documents\"): ordered pairs where >= 80% of "
    "doc A's informative shingles also occur in doc B — catches a doc "
    "swallowed by a larger aggregate (quote farms, concatenated "
    "shards), which symmetric Jaccard under-scores because the union "
    "is dominated by the big doc.  Shingles with document frequency "
    "> 50 are dropped before the self-join (see _DF_CAP note: bounds "
    "the join to DF_CAP * corpus-shingle-occurrences rows — linear, "
    "not quadratic); sizes and intersections are computed over the "
    "same capped space in both engines, and containment is a single "
    "exact-integer division (deterministic cross-engine).",
)
def dedup_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashed trigram keys: the declared scale path (r15; see
    # _word_trigram_shingles docstring, pytest pins raw == hashed)
    return doc_containment(load_table(spark, "documents", sf_dir), hashed=True)


def doc_containment(docs: DataFrame, threshold: float = _CONTAINMENT_T,
                    df_cap: int = _DF_CAP,
                    shingles: DataFrame | None = None,
                    hashed: bool = False) -> DataFrame:
    sh = shingles if shingles is not None else _word_trigram_shingles(
        docs, hashed=hashed
    )
    # document frequency as a WINDOW count over the exploded table
    # (r16, guide §2.4): the r15 shape aggregated df into its own
    # groupBy leg and joined it back, shuffling the exploded table
    # TWICE on s (once map-side-combined for the groupBy, once full
    # for the join) and scanning/sphingling the corpus twice.  The
    # window form shuffles the full table on s exactly once, and the
    # s-keyed self-join below reuses that exchange+sort (same key,
    # same partitioning).  COUNT over the partition is the same
    # integer the groupBy computed, so results are bit-identical.
    shf = (
        sh.withColumn("__df", F.count("*").over(W.partitionBy("s")))
        .filter(F.col("__df") <= df_cap)
        .drop("__df")
    )
    sizes = shf.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz_a"))
    a = shf.select(F.col("doc_id").alias("doc_a"), "s")
    b = shf.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.col("sz_a").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "sz_a", "containment")
    )


@register(
    "corpus_ngram_novelty",
    r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, CAST(len(ws) AS INTEGER) - 1),
                   i -> ws[CAST(i AS INTEGER)] || ' '
                        || ws[CAST(i AS INTEGER) + 1] || ' '
                        || ws[CAST(i AS INTEGER) + 2])) AS s
        FROM words WHERE len(ws) >= 3
    ), first AS (
        SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
    FROM sh JOIN first f USING (s)
    GROUP BY sh.doc_id
    """,
    tags=("textstats", "dedup"),
    doc="Per-document n-gram novelty: the fraction of a doc's distinct "
    "word-trigram shingles whose FIRST corpus occurrence (min doc_id — "
    "ingestion order) is this doc.  Exact duplicates of earlier docs "
    "score 0; boilerplate-heavy docs score low — the "
    "marginal-contribution signal curation uses to prune before "
    "training.  Two key shuffles (shingle min-agg, doc re-agg) plus "
    "one equi-join, all map-side combined; novelty_frac is one exact "
    "integer division.",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashed trigram keys: the declared scale path (r15; see
    # _word_trigram_shingles docstring, pytest pins raw == hashed)
    return ngram_novelty(load_table(spark, "documents", sf_dir), hashed=True)


def ngram_novelty(docs: DataFrame,
                  shingles: DataFrame | None = None,
                  hashed: bool = False) -> DataFrame:
    sh = shingles if shingles is not None else _word_trigram_shingles(
        docs, hashed=hashed
    )
    # first-occurrence doc as a WINDOW min over the exploded table
    # (r16, guide §2.4) — the r15 groupBy+join-back shape shuffled the
    # exploded table twice on s and ran the shingling scan twice; one
    # window exchange computes the identical MIN per shingle.
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        sh.withColumn("first_doc", F.min("doc_id").over(W.partitionBy("s")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .withColumn(
            "novelty_frac",
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


@register(
    "embedding_knn_classify",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT vec_id, neighbor_id FROM (
            SELECT s.*, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM s
        ) t WHERE rank <= 5
    ), votes AS (
        SELECT k.vec_id, e.label AS n_label, COUNT(*) AS cnt
        FROM knn k JOIN e ON e.vec_id = k.neighbor_id
        GROUP BY 1, 2
    ), pred AS (
        SELECT vec_id, n_label AS pred_label FROM (
            SELECT votes.*, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cnt DESC, n_label) AS rn
            FROM votes
        ) t WHERE rn = 1
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
    FROM pred p JOIN e ON e.vec_id = p.vec_id
    GROUP BY e.label
    """,
    tags=("similarity", "blocked"),
    doc="Leave-one-out 5-NN majority-vote label prediction with "
    "per-label accuracy — the standard label-consistency probe for "
    "embedding quality (a label whose members' neighbors disagree is "
    "noisy or the space is bad).  Rides the triangle-block exact kNN "
    "graph (similarity.knn_graph: O(n*B) shuffle, per-task Arrow "
    "top-k, never O(n^2) reduce rows); the vote adds one broadcast "
    "label join + a per-vector count window with a total (cnt DESC, "
    "label ASC) tie order so both engines elect the same label; "
    "accuracy is one exact-integer division.",
)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return knn_classify(emb)


def knn_classify(emb: DataFrame, k: int = 5) -> DataFrame:
    from ..extensions import similarity

    knn = similarity.knn_graph(emb, k=k)
    labels = emb.select("vec_id", "label")
    neigh = knn.join(
        F.broadcast(
            labels.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "n_label")
        ),
        "neighbor_id",
    )
    votes = neigh.groupBy("vec_id", "n_label").agg(F.count("*").alias("cnt"))
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.desc("cnt"), F.asc("n_label"))
    )
    pred = (
        votes.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("n_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    ).cast("long")
    return (
        pred.join(labels, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            correct.alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.col("n_correct").cast("double") / F.col("n").cast("double")
        )
    )


@register(
    "lm_pmi_collocations",
    r"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ), p AS (
        SELECT unnest(list_transform(range(1, CAST(len(ws) AS INTEGER)),
                   i -> least(ws[CAST(i AS INTEGER)], ws[CAST(i AS INTEGER) + 1])
                        || ' '
                        || greatest(ws[CAST(i AS INTEGER)],
                                    ws[CAST(i AS INTEGER) + 1]))) AS pair
        FROM t WHERE len(ws) >= 2
    ), c12 AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n12 FROM p GROUP BY pair
    ), ptot AS (
        SELECT CAST(SUM(n12) AS BIGINT) AS np FROM c12
    ), uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n1
        FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w
    ), ntot AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS nn FROM uni
    ), scored AS (
        SELECT pair, n12,
               a.n1 AS n_w1, b.n1 AS n_w2,
               CAST(n12 * nn * nn AS DOUBLE)
                   / CAST(np * a.n1 * b.n1 AS DOUBLE) AS pmi_ratio
        FROM c12
        JOIN uni a ON a.w = split_part(pair, ' ', 1)
        JOIN uni b ON b.w = split_part(pair, ' ', 2)
        CROSS JOIN ptot CROSS JOIN ntot
        WHERE n12 >= 5
    ), top AS (
        SELECT * FROM scored ORDER BY pmi_ratio DESC, pair LIMIT 50
    )
    SELECT pair, n12, n_w1, n_w2, pmi_ratio,
           CAST(ROW_NUMBER() OVER (ORDER BY pmi_ratio DESC, pair) AS BIGINT)
               AS rank
    FROM top
    """,
    tags=("lm", "textstats", "tiny-bnlj", "tiny-global-window"),
    doc="PMI collocation mining (Church & Hanks, CL 1990): adjacent "
    "unordered word pairs ranked "
    "by association LIFT — pmi_ratio = P(w1,w2)/(P(w1)P(w2)) as the "
    "exact rational c12*N^2/(P*c1*c2), computed as one BIGINT product "
    "per side (exact below 2^53) and ONE correctly-rounded division, "
    "so both engines agree bitwise without fp logs (monotone in PMI, "
    "so the ranking is the PMI ranking).  min-count 5 is the standard "
    "PMI stability floor (and what keeps the numerator in BIGINT "
    "range; ANSI overflow would throw loudly, never corrupt).  "
    "Distinct from text_bigram_topk: frequency ranks common pairs, "
    "lift ranks PHRASES.  One pair-count shuffle + one unigram-count "
    "shuffle, two vocab-sized joins, one-row count broadcasts "
    "(tiny-bnlj); rank window over the top-50 only.",
)
def lm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_collocations(load_table(spark, "documents", sf_dir))


def pmi_collocations(docs: DataFrame, min_count: int = 5, top_n: int = 50,
                     text_col: str = "text") -> DataFrame:
    t = docs.select(
        F.split(F.lower(F.trim(text_col)), r"\s+").alias("ws")
    )
    pairs = (
        t.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat_ws(' ',"
                    "   least(element_at(ws, i), element_at(ws, i + 1)),"
                    "   greatest(element_at(ws, i), element_at(ws, i + 1))))"
                )
            ).alias("pair")
        )
    )
    c12 = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n12"))
    ptot = c12.agg(F.sum("n12").cast("long").alias("np"))
    uni = (
        t.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n1"))
    )
    ntot = uni.agg(F.sum("n1").cast("long").alias("nn"))
    a = uni.select(F.col("w").alias("__w1"), F.col("n1").alias("n_w1"))
    b = uni.select(F.col("w").alias("__w2"), F.col("n1").alias("n_w2"))
    scored = (
        c12.filter(F.col("n12") >= min_count)
        .withColumn("__w1", F.split_part(F.col("pair"), F.lit(" "), F.lit(1)))
        .withColumn("__w2", F.split_part(F.col("pair"), F.lit(" "), F.lit(2)))
        .join(a, "__w1")
        .join(b, "__w2")
        .crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(ntot))
        .withColumn(
            "pmi_ratio",
            (F.col("n12") * F.col("nn") * F.col("nn")).cast("double")
            / (F.col("np") * F.col("n_w1") * F.col("n_w2")).cast("double"),
        )
        .select("pair", "n12", "n_w1", "n_w2", "pmi_ratio")
    )
    top = scored.orderBy(F.desc("pmi_ratio"), "pair").limit(top_n)
    return top.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("pmi_ratio"), "pair")).cast("long"),
    )


@register(
    "agg_contribution_bounded",
    """
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), cap AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_capped,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents_capped
        FROM ranked WHERE rn <= 20 GROUP BY event_type
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents_total
        FROM events GROUP BY event_type
    )
    SELECT t.event_type,
           COALESCE(n_capped, 0) AS n_capped,
           COALESCE(sum_cents_capped, 0) AS sum_cents_capped,
           n_total, sum_cents_total,
           CAST(COALESCE(n_capped, 0) AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS kept_frac
    FROM tot t LEFT JOIN cap c ON c.event_type = t.event_type
    """,
    tags=("aggregate", "robustness"),
    doc="Contribution-bounded aggregation: each user contributes at "
    "most their first 20 events (deterministic (ts, event_id) order) "
    "to the per-type statistics, reported next to the unbounded "
    "totals.  The robustness hygiene every large-scale corpus stat "
    "needs — one bot/power user must not dominate a mean (and at the "
    "policy level, bounding per-unit contribution is the first step "
    "toward DP-style guarantees).  One user-keyed window shuffle "
    "(per-user state is a counter, bounded), two map-side-combined "
    "aggregates to O(types) rows, broadcast-sized join; exact-cents "
    "BIGINT sums per the cross-engine convention.",
)
def agg_contribution_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    cap = (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") <= 20)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_capped"),
            F.sum(cents).cast("long").alias("sum_cents_capped"),
        )
    )
    tot = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(cents).cast("long").alias("sum_cents_total"),
    )
    return tot.join(cap, "event_type", "left").select(
        "event_type",
        F.coalesce("n_capped", F.lit(0)).cast("long").alias("n_capped"),
        F.coalesce("sum_cents_capped", F.lit(0)).cast("long")
        .alias("sum_cents_capped"),
        "n_total",
        "sum_cents_total",
        (
            F.coalesce("n_capped", F.lit(0)).cast("double")
            / F.col("n_total").cast("double")
        ).alias("kept_frac"),
    )


def _incremental_near_oracle() -> str:
    from ..extensions import dedup

    return dedup.incremental_near_oracle_sql(threshold=0.7)


@register(
    "dedup_incremental_near",
    _incremental_near_oracle(),
    tags=("dedup", "incremental", "approx"),
    doc="NEAR-dup admission of a new batch against the already-"
    "admitted corpus (docs with doc_id%5==4 arrive; the rest are the "
    "accepted store, represented by its LSH band buckets + MinHash "
    "signatures): band-collision candidates verified by signature "
    "agreement >= 0.7, then connected-component keeper election among "
    "the batch's own near-dup pairs, declared so the verdict surface "
    "is inventory-visible.  "
    "Oracle-backed since r10 (r9 VERDICT item 1): the declared form "
    "uses the seeded md5-60 + literal-LCG hash family (the "
    "dedup_minhash_lsh trick), so every verdict — exact pre-collapse, "
    "probe-verify best match, batch-internal CC keeper — replays as a "
    "recursive-CTE DuckDB chain from the same literals; the xxhash64 "
    "family stays the band-store default (a store's bucket function "
    "must not change shape).  "
    "Scale shape: store never shuffles when partitioned by band key; "
    "signatures are touched for collisions only (semi-pruned); batch-"
    "side work is micro-batch-sized.  Pytest pins verdict semantics "
    "(edited re-crawl rejected, near-pair admits one, distinct flows).",
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions import dedup

    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    # the store's signatures feed BOTH store legs (band buckets +
    # verify join); checkpoint so the seeded-MinHash corpus pass — the
    # dominant term — materializes once, not once per leg (r15)
    sigs = dedup.minhash_signatures(corpus, seeded=True).localCheckpoint(eager=False)
    return dedup.incremental_near_dedup(
        batch,
        dedup.band_buckets(sigs, seeded=True),
        sigs,
        threshold=0.7,
        seeded=True,
    )


def _zorder_oracle_sql(bits: int = 21) -> str:
    """DuckDB mirror of extensions.layout.morton_code: identical
    shift/mask/OR interleave, generated term-for-term."""
    cap = (1 << bits) - 1

    def spread(expr: str, stride: int, off: int) -> str:
        return "(" + " | ".join(
            f"((({expr} >> {j}) & 1) << {j * stride + off})" for j in range(bits)
        ) + ")"

    return f"""
    WITH e AS (
        SELECT event_id,
               least(greatest(user_id, 0), {cap}) AS user_clamped,
               least(greatest(CAST(round(value * 100) AS BIGINT), 0) // 100,
                     {cap}) AS value_bucket
        FROM events
    )
    SELECT event_id, user_clamped, value_bucket,
           ({spread('user_clamped', 2, 0)}
            | {spread('value_bucket', 2, 1)}) AS zorder_key
    FROM e
    """


@register(
    "ops_zorder_key",
    _zorder_oracle_sql(),
    tags=("ops", "layout"),
    doc="Z-order (Morton) layout key over (user_id, value bucket) — "
    "the multi-dimensional data-skipping key behind Delta OPTIMIZE "
    "ZORDER: repartitionByRange + sortWithinPartitions on this key "
    "gives every output file a compact bounding BOX in both columns, "
    "so parquet min/max statistics prune filters on EITHER column, "
    "not just the leading sort key.  Pure shift/mask/OR Catalyst "
    "expressions (whole-stage codegen, no UDF), bit-identical to the "
    "DuckDB oracle's generated interleave; outliers clamp to the "
    "curve edge.  Scan-stage only — the one range shuffle happens at "
    "WRITE time, not here.",
)
def ops_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.layout import morton_code

    cap = (1 << 21) - 1
    ev = load_table(spark, "events", sf_dir)
    user_clamped = F.least(F.greatest(F.col("user_id"), F.lit(0)), F.lit(cap))
    value_bucket = F.least(
        F.expr("greatest(cast(round(value * 100) as bigint), 0) div 100"),
        F.lit(cap),
    )
    return (
        ev.select(
            "event_id",
            user_clamped.alias("user_clamped"),
            value_bucket.alias("value_bucket"),
        )
        .withColumn(
            "zorder_key",
            morton_code([F.col("user_clamped"), F.col("value_bucket")], bits=21),
        )
    )


@register(
    "dedup_repeated_substrings",
    r"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= 40
    ), w AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               substring(text, CAST(i AS INTEGER), 40) AS w
        FROM d, UNNEST(range(1, CAST(length(text) AS INTEGER) - 38)) AS t(i)
    ), cross_w AS (
        SELECT w FROM w GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
        SELECT w.doc_id, w.pos FROM w JOIN cross_w USING (w)
    ), runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(COUNT(*) AS BIGINT) AS span_windows,
           CAST(COUNT(*) + 39 AS BIGINT) AS span_chars
    FROM runs GROUP BY doc_id, grp
    HAVING COUNT(*) >= 5
    """,
    tags=("dedup", "compliance"),
    doc="ExactSubstr-style cross-doc verbatim-repeat spans (Lee et "
    "al., ACL'22): maximal character spans whose every 40-char window "
    "occurs in >= 2 distinct docs, merged per doc via gaps-and-"
    "islands (window partitioned BY DOC), min 5 consecutive windows "
    "as the chance-collision floor.  The memorization-risk report "
    "that span-level cut policies consume.  One window-keyed shuffle "
    "+ one per-doc window.  The declared query runs the hashed=True "
    "scale path (xxhash64 each window BEFORE the shuffle: 8 bytes/row "
    "instead of ~40 — the r5 raw form inflated the shuffle ~40x at "
    "100 TB); the raw-substring form survives as this DuckDB oracle, "
    "and pytest pins raw==hashed on planted spans (a divergence needs "
    "a 64-bit window collision with min_windows-1 colliding "
    "neighbors — vanishing).  See extensions/dedup.py "
    "repeated_substring_spans for the suffix-array correspondence.",
)
def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions import dedup

    return dedup.repeated_substring_spans(
        load_table(spark, "documents", sf_dir), k=40, min_windows=5,
        hashed=True,
    )


def _fixed_quality_oracle() -> str:
    from ..extensions.quality_model import fixed_quality_oracle_sql

    return fixed_quality_oracle_sql()


@register(
    "pipeline_learned_quality",
    _fixed_quality_oracle(),
    tags=("textstats", "ml", "iterative"),
    doc="Learned quality filtering (the fastText-classifier stand-in "
    "of CCNet/GPT-3-style curation): weak labels from the Gopher rule "
    "gate train a linear model over scan-stage features (length/token "
    "stats, alpha/punct ratios, bigram repetition), then EVERY doc "
    "gets a learned score.  Oracle-backed since r10: the declared "
    "form trains a fixed-point BATCH PERCEPTRON (integer min-max-"
    "scaled features, 8 unrolled epochs of order-free integer-sum "
    "updates — the Lloyd's/pagerank discipline applied to a "
    "classifier), so weights, margins, and keep verdicts replay "
    "bit-for-bit in the DuckDB CTE chain (pytest pins agreement with "
    "the weak teacher on planted good/spam corpora).  Feature "
    "extraction and scoring are one JVM-side "
    "projection each; training is one 7-int driver collect per epoch "
    "(the PCA-moments pattern) over the weakly-labeled set, which at "
    "100 TB is a corpus-tiny sample.",
)
def pipeline_learned_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.quality_model import fixed_point_quality

    return fixed_point_quality(load_table(spark, "documents", sf_dir))


@register(
    "text_compression_ratio",
    None,  # DEFLATE is not a SQL scalar in any oracle engine -> rows-only
    tags=("textstats", "arrow"),
    doc="zlib-compressibility quality signal per doc (compressed/raw "
    "bytes): the entropy proxy that catches byte-level templating and "
    "character loops that word-bigram repetition metrics miss.  "
    "Arrow-batched mapInPandas (the engine's Python-stage "
    "discipline), scan-stage, no shuffle; pytest pins repetitive << "
    "natural << random ordering and the empty-doc NULL guard.",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.textstats import compression_ratio

    return compression_ratio(load_table(spark, "documents", sf_dir))


def hash_embed(text_col, dim: int = 16):
    """Deterministic hash 'encoder': dim doubles in [0, 1) derived
    from xxhash64(text, j) — pure Catalyst, the honest stand-in where
    a real model-inference stage would slot in (identical text ->
    identical vector, which is exactly what the retrieval plumbing
    needs to be testable end-to-end without a model)."""
    return F.array(
        *[
            (F.pmod(F.xxhash64(text_col, F.lit(j)), F.lit(100000)).cast("double")
             / F.lit(100000.0))
            for j in range(dim)
        ]
    )


def hash_embed_seeded(text_col, dim: int = 16):
    """``hash_embed`` over the md5-60 cross-engine hash family: the
    DuckDB oracle reproduces every component bit-for-bit (md5-60 is
    nonnegative, so plain %; m/100000.0 is ONE correctly-rounded IEEE
    division of exact integers in both engines)."""
    from ..extensions.dedup import md5_hash60

    return F.array(
        *[
            (
                (
                    md5_hash60(F.concat(text_col, F.lit(f":{j}")))
                    % F.lit(100000)
                ).cast("double")
                / F.lit(100000.0)
            )
            for j in range(dim)
        ]
    )


def _rag_oracle_sql(
    n_queries: int = 8, k: int = 5, n_centroids: int = 8, n_probe: int = 3,
    dim: int = 16,
) -> str:
    """DuckDB mirror of the SEEDED rag_index_and_query composition:
    the text_chunk_docs chunking chain + the md5-60 hash encoder + the
    ann_ivf_topk seeded-cell retriever (same LCG fragment via
    _seeded_cells_cte) + provenance join."""
    from .extension_queries import _seeded_cells_cte

    embed = (
        f"[CAST(CAST(concat('0x', substr(md5(chunk_text || ':' || "
        f"CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 100000 AS DOUBLE)"
        f" / 100000.0 for j in generate_series(0, {dim - 1})]"
    )
    return f"""
    WITH ch AS MATERIALIZED (
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               doc_id * 1048576 + chunk_id AS vec_id,
               substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)
                   AS chunk_text
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0,
                       CAST(floor((length(text) - 1) / 150) AS BIGINT)))
                       AS chunk_id
            FROM documents WHERE length(text) > 0
        )
    ),
    e AS MATERIALIZED (
        SELECT vec_id, doc_id, chunk_id, {embed} AS v FROM ch
    ),
    {_seeded_cells_cte(n_centroids)},
    assign AS (
        SELECT e.vec_id AS neighbor_id, e.v AS cv, s.cell
        FROM e CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.vec_id
            ORDER BY list_dot_product(e.v, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell) = 1
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE chunk_id = 0
        QUALIFY ROW_NUMBER() OVER (ORDER BY doc_id) <= {n_queries}
    ),
    probes AS (
        SELECT q.query_id, q.qv, s.cell
        FROM q CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY list_dot_product(q.qv, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell)
            <= {n_probe}
    ),
    hits AS (
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT scored.*, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
                AS BIGINT) AS rank
            FROM (
                SELECT p.query_id, a.neighbor_id,
                       list_dot_product(p.qv, a.cv)
                           / (sqrt(list_dot_product(p.qv, p.qv))
                              * sqrt(list_dot_product(a.cv, a.cv))) AS cosine
                FROM probes p JOIN assign a USING (cell)
                WHERE a.neighbor_id != p.query_id
            ) scored
        ) t WHERE rank <= {k}
    )
    SELECT h.query_id, h.rank, h.neighbor_id,
           c.doc_id AS hit_doc_id, c.chunk_id AS hit_chunk_id, h.cosine
    FROM hits h JOIN ch c ON c.vec_id = h.neighbor_id
    """


@register(
    "pipeline_rag_index",
    _rag_oracle_sql(),
    tags=("similarity", "pipeline", "iterative", "tiny-bnlj"),
    doc="End-to-end retrieval-index build: chunk documents (size 200 "
    "/ stride 150), encode each chunk (deterministic hash encoder — "
    "the slot a model-inference stage fills in production), build an "
    "IVF index, run held-out chunk queries through the n_probe cell "
    "scan, and join provenance back (doc_id, chunk_id per hit) — the "
    "full RAG-corpus prep pipeline as one declared composition.  "
    "Oracle-backed since r10: the declared form composes the SEEDED "
    "building blocks (md5-60 hash encoder + seeded-sample IVF cells, "
    "the ann_ivf_topk quantizer), so the whole pipeline replays in "
    "DuckDB; the MLlib k-means retriever remains as "
    "similarity.KMeansQuantizer (rag_index_and_query(seeded=False)) with "
    "pytest recall pins.  At scale the corpus is written partitioned "
    "by cell and a query touches n_probe/n_centroids of the data.  "
    "Pytest pins verbatim-text retrieval at rank 1 with exact "
    "provenance on BOTH retriever variants.",
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return rag_index_and_query(docs, seeded=True)


def rag_index_and_query(
    docs: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    seeded: bool = False,
) -> DataFrame:
    from ..extensions.similarity import KMeansQuantizer, SeededQuantizer, ivf_topk
    from ..extensions.textstats import chunk_documents

    embed = hash_embed_seeded if seeded else hash_embed
    # 2^20 chunks per doc (a ~150 MB doc at stride 150) before ids
    # could collide; doc_id then has 2^43 headroom in the BIGINT.
    # spread_scan: chunk-explode + 16-md5-per-chunk encode is the hot
    # loop and docs is a single-file scan (guide §2.5; r15)
    chunks = chunk_documents(spread_scan(docs)).withColumn(
        "vec_id", F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_id")
    )
    # the encoded corpus feeds BOTH the retriever's seed collect and
    # its assignment leg; checkpoint so chunking+encoding run once
    corpus = chunks.select(
        "vec_id", embed(F.col("chunk_text")).alias("embedding")
    ).localCheckpoint(eager=False)
    # held-out probes: the first chunk of the n_queries lowest-id docs
    queries = (
        chunks.filter(F.col("chunk_id") == 0)
        .orderBy("doc_id")
        .limit(n_queries)
        .select("vec_id", embed(F.col("chunk_text")).alias("embedding"))
    )
    if seeded:
        # seeded-sample coarse quantizer: no fit job at all, and the
        # whole pipeline is DuckDB-reproducible (the declared form)
        quantizer = SeededQuantizer(n_centroids)
    else:
        # cap the k-means fit at ~50k chunks: the coarse quantizer
        # needs a representative sample, not the corpus — fitting on
        # every chunk made the pipeline superlinear (2.9s -> 40.3s at
        # 10x docs, r6 measurement; the fit is an iterative full-
        # corpus ML job while every other stage is one pass).
        n_chunks = corpus.count()
        frac = None if n_chunks <= 50_000 else 50_000 / n_chunks
        quantizer = KMeansQuantizer(n_centroids, fit_sample_fraction=frac)
    hits = ivf_topk(corpus, queries, quantizer, k=k, n_probe=n_probe)
    prov = chunks.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("doc_id").alias("hit_doc_id"),
        F.col("chunk_id").alias("hit_chunk_id"),
    )
    return hits.join(prov, "neighbor_id").select(
        "query_id", "rank", "neighbor_id", "hit_doc_id", "hit_chunk_id", "cosine"
    )


# Poisson(1) inverse-CDF thresholds scaled to the LCG's [0, 10000)
# bucket space — INTEGER comparisons, so both engines draw identical
# weights: P(<=k) for k=0..6 is .3679 .7358 .9197 .9810 .9963 .9994
# .9999 (capped at 7).
_POIS_T = (3679, 7358, 9197, 9810, 9963, 9994, 9999)
_BOOT_B = 100  # replicates; ci positions = ceil(.025*B)=3, ceil(.975*B)=98


def _poisson_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "stats_bootstrap_ci_events",
    rf"""
    WITH x AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c, b
        FROM events CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b)
    ), w AS (
        SELECT event_type, c, b,
               {_poisson_case_sql(
                   "(((((event_id * " + str(_BOOT_B) + " + b)"
                   " % 2147483648) * 1103515245 + 12345) >> 16) % 10000)"
               )} AS wt
        FROM x
    ), rep AS (
        SELECT event_type, b,
               CAST(SUM(wt * c) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE)
                   AS rep_mean
        FROM w GROUP BY event_type, b HAVING SUM(wt) > 0
    ), ranked AS (
        SELECT event_type, rep_mean,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY rep_mean, b) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS nb
        FROM rep
    ), ci AS (
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(ceil(0.025 * nb) AS BIGINT)
                        THEN rep_mean END) AS ci_lo_cents,
               MAX(CASE WHEN rn = CAST(ceil(0.975 * nb) AS BIGINT)
                        THEN rep_mean END) AS ci_hi_cents
        FROM ranked GROUP BY event_type
    ), pt AS (
        SELECT event_type,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) AS mean_cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT pt.event_type, n, mean_cents, ci_lo_cents, ci_hi_cents
    FROM pt JOIN ci ON ci.event_type = pt.event_type
    """,
    tags=("stats", "aggregate"),
    doc="Distributed Poisson bootstrap: per event_type, a 95% CI for "
    "the mean value from 100 deterministic resamples — each row's "
    "weight in replicate b is Poisson(1) drawn by inverse-CDF over "
    "the LCG hash of (event_id, b), all INTEGER arithmetic and "
    "integer threshold compares, so both engines draw bit-identical "
    "resamples (the classic online-bootstrap trick: Poisson counts "
    "approximate multinomial resampling without materializing "
    "samples).  CI bounds are exact order statistics of the "
    "replicate means (rank 3 / 98 of 100), not interpolated "
    "percentiles — engine-interpolation-proof.  Plan: one explode "
    "(x100), one (type, b)-keyed aggregate with map-side combine, "
    "one O(types*B) window — replicate fan-out never shuffles raw "
    "rows twice.",
)
def stats_bootstrap_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import hash_bucket

    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    x = ev.select(
        "event_type", F.col("event_id"), cents.alias("c")
    ).withColumn("b", F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")))
    u = hash_bucket(F.col("event_id") * _BOOT_B + F.col("b"), 10000)
    wt = F.lit(7)
    for k in range(len(_POIS_T) - 1, -1, -1):
        wt = F.when(u < _POIS_T[k], F.lit(k)).otherwise(wt)
    rep = (
        x.withColumn("wt", wt)
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("wt") * F.col("c")).alias("swc"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .withColumn(
            "rep_mean", F.col("swc").cast("double") / F.col("sw").cast("double")
        )
    )
    wspec = W.partitionBy("event_type").orderBy("rep_mean", "b")
    ranked = rep.withColumn("rn", F.row_number().over(wspec)).withColumn(
        "nb", F.count("*").over(W.partitionBy("event_type"))
    )
    lo_rn = F.ceil(F.lit(0.025) * F.col("nb")).cast("long")
    hi_rn = F.ceil(F.lit(0.975) * F.col("nb")).cast("long")
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_rn, F.col("rep_mean"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == hi_rn, F.col("rep_mean"))).alias("ci_hi_cents"),
    )
    pt = ev.groupBy("event_type").agg(
        (F.sum(cents).cast("double") / F.count("*")).alias("mean_cents"),
        F.count("*").cast("long").alias("n"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n", "mean_cents", "ci_lo_cents", "ci_hi_cents"
    )


@register(
    "pipeline_curation_v2",
    r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, CAST(len(ws) AS INTEGER) - 1),
                   i -> ws[CAST(i AS INTEGER)] || ' '
                        || ws[CAST(i AS INTEGER) + 1] || ' '
                        || ws[CAST(i AS INTEGER) + 2])) AS s
        FROM words WHERE len(ws) >= 3
    ), first AS (
        SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    ), novelty AS (
        SELECT sh.doc_id,
               CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
        FROM sh JOIN first f USING (s) GROUP BY sh.doc_id
    ), df AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50
    ), shf AS (
        SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id
    ), contained AS (
        SELECT DISTINCT a.doc_id
        FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id <> b.doc_id
        JOIN sizes sa ON sa.doc_id = a.doc_id
        GROUP BY a.doc_id, b.doc_id, sa.sz
        HAVING CAST(COUNT(*) AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.8
    ), quality AS (
        SELECT doc_id, lang, n_chars,
               0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           AS DOUBLE) / CAST(length(text) AS DOUBLE))
               + 0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
               + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]',
                                                         '', 'g')) AS DOUBLE)
                              / CAST(length(text) AS DOUBLE)) AS q
        FROM documents WHERE length(text) > 0
    ), kept AS (
        SELECT q.doc_id, q.lang, q.n_chars
        FROM quality q
        JOIN novelty nv ON nv.doc_id = q.doc_id
        WHERE q.q >= 0.5 AND nv.novelty_frac >= 0.3
          AND q.doc_id NOT IN (SELECT doc_id FROM contained)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
    FROM kept GROUP BY lang
    """,
    tags=("pipeline", "dedup", "textstats", "tiny-global-window"),
    doc="Composed curation v2 over this round's signals: quality gate "
    "(the text_quality_score formula) AND novelty floor (>= 30% of a "
    "doc's trigrams first-seen in it) AND containment drop (docs >= "
    "80% swallowed by another doc are removed), reported as the "
    "per-language training-mix table (docs, chars, share).  Every "
    "stage is an already-oracle-verified operator; this pins that "
    "they COMPOSE identically across engines (the anti-join against "
    "the containment pair set and the novelty join reuse one shingle "
    "scan).  The share window runs over the O(langs) aggregate only.",
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_v2_table(load_table(spark, "documents", sf_dir))


def curation_v2_table(docs: DataFrame) -> DataFrame:
    from ..extensions.textstats import quality_score_cols

    # one shingle scan feeds BOTH gates (the oracle SQL shares the
    # same CTE); localCheckpoint materializes it once — 22.2s -> 12.4s
    # warm at 50k docs (SCALING.md)
    sh = _word_trigram_shingles(docs, hashed=True).localCheckpoint(eager=False)
    novelty = ngram_novelty(docs, shingles=sh).select("doc_id", "novelty_frac")
    contained = (
        doc_containment(docs, shingles=sh)
        .select(F.col("doc_a").alias("doc_id")).distinct()
    )
    q = quality_score_cols(F.col("text"))["quality_score"]
    kept = (
        docs.filter(F.length("text") > 0)
        .withColumn("q", q)
        .filter(F.col("q") >= 0.5)
        .join(novelty.filter(F.col("novelty_frac") >= 0.3), "doc_id")
        .join(contained, "doc_id", "left_anti")
    )
    agg = kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return agg.withColumn(
        "share",
        F.col("n_docs").cast("double")
        / F.sum("n_docs").over(W.partitionBy()).cast("double"),
    ).select("lang", "n_docs", "total_chars", "share")


def _bpe_train_oracle() -> str:
    from ..extensions.bpe import bpe_train_oracle_sql

    return bpe_train_oracle_sql(n_merges=20)


def _bpe_tokenize_stats_oracle() -> str:
    from ..extensions.bpe import bpe_tokenize_stats_oracle_sql

    return bpe_tokenize_stats_oracle_sql(n_merges=20)


@register(
    "lm_bpe_train",
    _bpe_train_oracle(),
    tags=("lm", "iterative"),
    doc="Full BPE tokenizer training (Sennrich et al., ACL'16): the "
    "learned merge-rule sequence over the corpus — 20 rounds of "
    "(most frequent weighted adjacent symbol pair -> merge corpus-"
    "wide).  Trains on the DISTINCT-WORD vocabulary weighted by word "
    "frequency, so a 100 TB corpus collapses to one word-count "
    "aggregate before the loop; the driver merge loop is incremental "
    "lazy-heap (3 Spark jobs total), with a CERTIFIED min_word_count "
    "prune available for vocab-sized-collect headroom at 100 TB "
    "(extensions/bpe.py bpe_train — the r9 VERDICT item).  Oracle-"
    "backed since r10: the merge loop's LENGTH is a static constant, "
    "so it unrolls into 20 count/argmax/replace CTE rounds (double-"
    "space symbol encoding makes literal leftmost replace reproduce "
    "greedy run merges without RE2-unsupported lookarounds).  Pytest "
    "pins merge sequence AND final segmentations against an "
    "independent Python Sennrich implementation, plus run/"
    "metacharacter edge cases.  lm_bpe_pair_counts is one round of "
    "this loop.",
)
def lm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.bpe import bpe_merge_table

    return bpe_merge_table(load_table(spark, "documents", sf_dir), n_merges=20)


@register(
    "lm_bpe_tokenize_stats",
    _bpe_tokenize_stats_oracle(),
    tags=("lm", "iterative"),
    doc="The inference half of BPE over the corpus: train 20 merges "
    "(extensions/bpe.py), compile them into a fixed chain of scan-"
    "stage regex expressions, tokenize every document, and report "
    "per-language token statistics (docs, tokens, chars/token — the "
    "compression the learned vocabulary buys).  Tokenization is one "
    "shuffle-free projection; pytest pins train/apply consistency "
    "(applying the merges reproduces training's final segmentation "
    "word for word).",
)
def lm_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.bpe import bpe_train

    docs = load_table(spark, "documents", sf_dir)
    # Tokenize by SEGMENTATION LOOKUP instead of replaying the merge
    # program per word occurrence (r16, guide §1.2): training already
    # computed every distinct word's final segmentation (train/apply
    # consistency is exact and pytest-pinned — applying the merges
    # reproduces training's segmentation word for word, which is also
    # how the oracle tokenizes), so per-word token counts come from
    # the vocab-sized table bpe_train returns.  The r15 form compiled
    # the 20 merges into a chain of 20 lookaround regexes evaluated
    # per word occurrence inside an interpreted HOF — 3.1-4.4s at
    # sf0.1 for 5k docs; the lookup form is one explode + one
    # planner-chosen join against the vocab (broadcast at any
    # realistic vocab size — shipping the tokenizer table is the
    # standard inference shape) + a map-side-combined per-lang
    # aggregate.  No per-doc intermediate: token totals aggregate
    # straight to O(langs) rows, and the doc-level counts come from
    # one docs scan.
    _, final = bpe_train(docs, n_merges=20)
    vocab_toks = final.select(
        "word",
        F.size(F.split(F.trim("syms"), " ")).cast("long").alias("n_toks"),
    )
    words = spread_scan(docs).select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != ""
            )
        ).alias("word"),
    )
    tok_by_lang = (
        words.join(vocab_toks, "word")
        .groupBy("lang")
        .agg(F.sum("n_toks").alias("total_tokens"))
    )
    doc_by_lang = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    total = F.coalesce(F.col("total_tokens"), F.lit(0)).cast("long")
    return (
        doc_by_lang.join(tok_by_lang, "lang", "left")
        .select(
            "lang",
            "n_docs",
            total.alias("total_tokens"),
            # guarded division: a lang whose docs all tokenize empty
            # yields NULL (not NaN/inf), matching the oracle's CASE
            F.when(
                total > 0,
                F.col("sum_chars").cast("double") / total.cast("double"),
            ).alias("chars_per_token"),
        )
    )


@register(
    "ops_file_layout_report",
    """
    WITH per_file AS (
        SELECT filename,
               COUNT(*) AS rows,
               MIN(l_orderkey) AS min_key,
               MAX(l_orderkey) AS max_key
        FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet',
                          filename=true)
        GROUP BY filename
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(rows) AS BIGINT) AS total_rows,
           CAST(MIN(rows) AS BIGINT) AS min_rows_per_file,
           CAST(MAX(rows) AS BIGINT) AS max_rows_per_file,
           CAST(SUM(CASE WHEN rows < 10000 THEN 1 ELSE 0 END) AS BIGINT)
               AS small_files,
           CAST(MIN(min_key) AS BIGINT) AS global_min_key,
           CAST(MAX(max_key) AS BIGINT) AS global_max_key
    FROM per_file
    """,  # oracle (r9): DuckDB read_parquet(filename=true) reproduces the
    # input_file_name lineage — per-file groups then the scalar summary.
    # The absolute path pins the gate's sf0.01 dir, same convention as
    # espi_egd_golden_parity's golden read; file NAMES never reach the
    # output so the file:// vs posix path spelling difference is moot.
    tags=("ops",),
    doc="Small-files / key-range health report over the lineitem scan: "
    "rows per physical file (via input_file_name lineage, free at scan "
    "time), min/max order keys per file, and a one-row summary with "
    "the small-file count — the check run before scheduling compaction "
    "on a 100 TB lake, where small files dominate task-scheduling "
    "overhead and overlapping key ranges defeat min/max pruning.  One "
    "file-keyed shuffle (file count << row count) then a scalar agg.",
)
def ops_file_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    per_file = li.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    return per_file.agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("rows").cast("long").alias("total_rows"),
        F.min("rows").cast("long").alias("min_rows_per_file"),
        F.max("rows").cast("long").alias("max_rows_per_file"),
        F.sum(F.when(F.col("rows") < 10000, 1).otherwise(0))
        .cast("long")
        .alias("small_files"),
        F.min("min_key").cast("long").alias("global_min_key"),
        F.max("max_key").cast("long").alias("global_max_key"),
    )
