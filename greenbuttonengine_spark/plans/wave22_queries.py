"""Round-11 extension wave (second batch): clustering quality
evaluation — the simplified (centroid-based) silhouette over the
fixed-point k-means of wave 17, closing the train -> assign -> EVALUATE
arc the way eval_pq_recall_trained closed it for the PQ retriever.

The classic silhouette needs all pairwise distances (O(n^2)); the
simplified silhouette (Hruschka et al. 2004) replaces mean
within/between-cluster distances with distances to the centroids —
O(n*k), the form production clustering evals actually run at scale.
Per point it is a pure function of the k exact BIGINT distances the
k-means assignment already computes, so the whole eval unrolls into
the same oracle chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register
from .wave17_queries import (
    _KM_ITERS,
    _km_batch_q_and_d2,
    _km_ctes,
    _km_init,
    _km_qdf,
    _km_train,
)


def _silhouette_oracle_sql() -> str:
    return (
        _km_ctes()
        + f""",
    dists AS MATERIALIZED (
        SELECT z.vec_id, cc.c,
               SUM((z.q - cc.cv) * (z.q - cc.cv)) AS d2,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                   ORDER BY SUM((z.q - cc.cv) * (z.q - cc.cv)), cc.c) AS rn
        FROM qz z JOIN c{_KM_ITERS} cc ON cc.d = z.d
        GROUP BY z.vec_id, cc.c
    )
    SELECT a.vec_id, CAST(a.c AS BIGINT) AS cluster,
           CAST(a.d2 AS BIGINT) AS dist2_own,
           CAST(b.d2 AS BIGINT) AS dist2_next,
           CASE WHEN b.d2 = 0 THEN 0.0
                ELSE (sqrt(CAST(b.d2 AS DOUBLE)) - sqrt(CAST(a.d2 AS DOUBLE)))
                     / sqrt(CAST(b.d2 AS DOUBLE))
           END AS silhouette
    FROM dists a
    JOIN dists b ON b.vec_id = a.vec_id AND b.rn = 2
    WHERE a.rn = 1
    """
    )


@register(
    "eval_kmeans_silhouette",
    _silhouette_oracle_sql(),
    tags=("embeddings", "eval", "iterative"),
    doc="Simplified silhouette of the trained fixed-point k-means "
    "(wave 17): per vector, a = distance to its own centroid, b = "
    "distance to the nearest OTHER centroid, s = (b - a) / b (b >= a "
    "by construction, so max(a,b) = b).  s near 1 = tight, "
    "well-separated clusters; s near 0 = boundary points; the "
    "distribution is the go/no-go read before trusting cluster-based "
    "curation (SemDeDup cells, IVF lists, diversity sampling).  Both "
    "a2/b2 are the exact BIGINT distances the assignment already "
    "computes (dd array min and second-min — second-min VALUE equals "
    "the rn=2 row under ties on both engines); sqrt and one "
    "division/subtraction are single correctly-rounded IEEE ops on "
    "identical inputs, so silhouette is bit-equal cross-engine.  "
    "Spark plan: the same exact-int64 Arrow assignment kernel as "
    "embedding_kmeans_fixed (r15; np.sort(d2)[1] = array_sort(dd)[1] "
    "— second-min VALUE, duplicates included; np.sqrt and / are the "
    "same single correctly-rounded IEEE ops) — no extra shuffle, no "
    "join; per-point rows, no fp aggregation (a double mean would be "
    "partition-order-dependent).",
)
def eval_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .wave17_queries import _KM_D

    emb = load_table(spark, "embeddings", sf_dir)
    qdf = _km_qdf(emb)
    cents = _km_train(qdf, _km_init(emb))
    cint = [list(c) for c in cents]
    q_cols = [f"q{d}" for d in range(_KM_D)]

    def final(it, _c=cint, _cols=q_cols):
        import numpy as np
        import pyarrow as pa

        cm = np.asarray(_c, dtype=np.int64)
        for b in it:
            if b.num_rows == 0:
                continue
            idx = {n: i for i, n in enumerate(b.schema.names)}
            _, d2 = _km_batch_q_and_d2(b, _cols, cm)
            a2 = d2.min(axis=1)
            b2 = np.sort(d2, axis=1)[:, 1]
            a2d = a2.astype(np.float64)
            b2d = b2.astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                sil = (np.sqrt(b2d) - np.sqrt(a2d)) / np.sqrt(b2d)
            sil = np.where(b2 == 0, 0.0, sil)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["vec_id"]),
                    pa.array(np.argmin(d2, axis=1).astype(np.int64)),
                    pa.array(a2),
                    pa.array(b2),
                    pa.array(sil),
                ],
                names=[
                    "vec_id",
                    "cluster",
                    "dist2_own",
                    "dist2_next",
                    "silhouette",
                ],
            )

    return qdf.mapInArrow(
        final,
        "vec_id BIGINT, cluster BIGINT, dist2_own BIGINT, "
        "dist2_next BIGINT, silhouette DOUBLE",
    )


_CC_BUDGET = 2048
_CC_BUCKET = 4096  # docs per offset bucket (order-consistent doc_id prefix)


@register(
    "pack_concat_chunks",
    rf"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    o AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tok_offset
        FROM d
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(tok_offset AS BIGINT) AS tok_offset,
           CAST(tok_offset // {_CC_BUDGET} AS BIGINT) AS first_chunk,
           CAST((tok_offset + n_tokens - 1) // {_CC_BUDGET} AS BIGINT)
               AS last_chunk,
           CAST((tok_offset + n_tokens - 1) // {_CC_BUDGET}
               - tok_offset // {_CC_BUDGET} + 1 AS BIGINT) AS n_chunks
    FROM o
    """,
    tags=("lm", "packing", "tiny-global-window"),
    doc="Concat-and-chunk sequence packing — the GPT-style trainer "
    "layout (concatenate all docs in a deterministic order, slice "
    "into fixed context windows) that complements the FFD bin packer "
    "(pack_sequences: no doc ever splits; this: zero padding ever).  "
    "Per doc: its exclusive global token offset and the first/last "
    f"context chunk (budget {_CC_BUDGET}) it lands in — the manifest "
    "a dataloader needs to map chunks back to documents and the "
    "boundary-fragmentation audit (n_chunks > 1 = doc crosses a "
    "window).  Scale shape: the global running sum is NOT a "
    "single-partition window — doc_ids bucket by an order-consistent "
    f"prefix (DIV {_CC_BUCKET}), per-bucket totals aggregate "
    "map-side (O(n_docs/bucket) rows), their exclusive running sum "
    "over the tiny bucket frame broadcasts back, and the heavy "
    "window runs partitioned by bucket — the o1_multikey_sort_rank "
    "bucket-offset machinery applied to prefix sums.  All integer "
    "arithmetic; both engines truncate identical nonnegative "
    "divisions.",
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..extensions.textstats import token_count_cols

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count_cols(F.col("text"))["n_tokens"].alias("n_tokens"),
        F.expr(f"doc_id DIV {_CC_BUCKET}").alias("__b"),
    )
    # exclusive running offset of each BUCKET over the tiny bucket frame
    bucket_tot = d.groupBy("__b").agg(F.sum("n_tokens").alias("__bt"))
    wb = W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    bucket_off = bucket_tot.select(
        "__b", F.coalesce(F.sum("__bt").over(wb), F.lit(0)).alias("__boff")
    )
    # within-bucket exclusive running sum: parallel across buckets
    ww = W.partitionBy("__b").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    o = (
        d.join(F.broadcast(bucket_off), "__b")
        .withColumn(
            "tok_offset",
            F.col("__boff") + F.coalesce(F.sum("n_tokens").over(ww), F.lit(0)),
        )
    )
    first = F.expr(f"tok_offset DIV {_CC_BUDGET}")
    last = F.expr(f"(tok_offset + n_tokens - 1) DIV {_CC_BUDGET}")
    return o.select(
        "doc_id",
        "n_tokens",
        F.col("tok_offset").cast("long").alias("tok_offset"),
        first.cast("long").alias("first_chunk"),
        last.cast("long").alias("last_chunk"),
        (last - first + 1).cast("long").alias("n_chunks"),
    )
