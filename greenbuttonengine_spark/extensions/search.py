"""Keyword-retrieval operators over the ``documents`` table: inverted-
index postings statistics, TF-IDF term weighting, and BM25 ranked
retrieval.  These complement the ANN/embedding path
(``extensions/similarity.py``) with the lexical half of a hybrid search
stack — at 100 TB the lexical index is usually built as exactly this
kind of explode + aggregate job.

All math is native Catalyst (explode / groupBy / conditional agg) and
stays bit-deterministic across engines:

* tokenization is ``lower`` + split on ``[^a-z]+`` (identical regex
  semantics in Java regex and RE2 for this pattern);
* every "weight" is built only from +,-,*,/ over exactly-representable
  integers and shared literals — each IEEE operation is correctly
  rounded, so both engines produce the same doubles.  No ``ln``/``exp``
  (libm implementations may differ in the last ulp);
* multi-term scores are summed in a FIXED order (explicit left-to-right
  addition of per-term conditional aggregates), never a data-order
  ``SUM()`` over doubles.

Scale shape: one shuffle keyed by (doc, term) for the tf pass, one by
term for the df pass; corpus-level stats (N, avgdl, per-query-term df)
reduce to a single broadcastable row.  No driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z]+"


def doc_terms(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf) — one row per distinct term per document.

    Map-side partial counts combine before the (doc, term) shuffle, so
    the wire carries one row per distinct pair, not per occurrence.
    """
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
    ).filter(F.col("term") != "")
    return words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))


def postings_stats(
    docs: DataFrame, top: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inverted-index postings summary: per term, document frequency
    (how many docs contain it) and collection frequency (total
    occurrences); top-``top`` terms by df with a total-order tiebreak.

    This is the "build the dictionary" half of an inverted index; the
    postings lists themselves are the grouped (term -> doc_id) rows one
    ``collect_list`` away, which a real index job would write
    partitioned by term.
    """
    terms = doc_terms(docs, text_col, id_col)
    stats = terms.groupBy("term").agg(
        F.count("*").cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("coll_freq"),
    )
    return stats.orderBy(
        F.desc("doc_freq"), F.desc("coll_freq"), F.asc("term")
    ).limit(top)


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` most characteristic terms per document by TF-IDF.

    The IDF here is the raw inverse ratio N/df (no logarithm) so the
    weight is a product/quotient of exact integers — bit-identical
    across engines, which a ``ln``-based idf cannot guarantee.  Note
    the ranking CAN differ from standard ln-based TF-IDF: the score is
    tf*idf and ln applied to the idf factor alone is not a monotone
    transform of the product (tf=1, N/df=100 scores 100 > tf=10,
    N/df=5 scores 50, but with ln-idf 4.6 < 16.1).  Determinism is the
    deliberate trade; callers wanting classic weights can ln-transform
    the returned idf components themselves.

    Plan: tf pass (shuffle on (doc, term)) -> df pass (shuffle on term)
    -> tf x df join on term -> per-doc window top-k.  The window is
    partitioned by doc_id — thousands of small partitions, never a
    global sort.
    """
    terms = doc_terms(docs, text_col, id_col)
    df_per_term = terms.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    joined = terms.join(df_per_term, "term").crossJoin(F.broadcast(n_docs))
    scored = joined.select(
        F.col(id_col),
        F.col("term"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        (
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval for a bag-of-words query: top-``k`` docs by
    score desc (doc_id tiebreak).

    idf(t)   = (N - df + 0.5) / (df + 0.5)      [ratio form, no ln]
    w(t, d)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score(d) = w(t1,d) + w(t2,d) + ...          [fixed addition order]

    Scale shape: the tf aggregation doubles as the doc-length pass (dl =
    sum of all tf per doc), so the query costs ONE (doc,term)-keyed
    shuffle plus a single-row corpus-stats aggregate that broadcasts to
    the scoring projection.  Per-term scores live in separate columns —
    deterministic addition order AND no second shuffle for the sum.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = doc_terms(docs, text_col, id_col)
    # one pass: per-doc length + per-query-term tf columns
    per_doc = terms.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    # one row: N, total token count, per-query-term document frequency —
    # all derivable from per_doc (r16, guide §2.4): n_docs = one row per
    # doc with >= 1 token, total_tokens = sum of the per-doc lengths,
    # df_i = docs whose tf_i aggregate is non-null.  The r15 shape
    # aggregated the (doc, term) table a second time (and its
    # count(DISTINCT doc) forced an Expand over the full exploded
    # table); because this form's stats leg is per_doc's own subtree,
    # AQE stage reuse resolves it to a ReusedExchange of the scoring
    # leg's doc_id shuffle at runtime — the tokenize+explode scan runs
    # ONCE (after one execution, ``df.explain()`` prints the final
    # adaptive plan with the ReusedExchange).
    stats = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        *[
            F.count(F.col(f"tf_{i}")).cast("long").alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    len_norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)

    def contrib(i: int):
        tf = F.col(f"tf_{i}").cast("double")
        df_t = F.col(f"df_{i}").cast("double")
        idf = (F.col("n_docs").cast("double") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        w = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * len_norm)
        return F.coalesce(w, F.lit(0.0))

    score = contrib(0)
    for i in range(1, len(query_terms)):
        score = score + contrib(i)
    return (
        j.select(F.col(id_col), F.col("dl"), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
