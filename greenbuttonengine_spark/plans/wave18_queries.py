"""Round-9 extension wave (tenth batch), upgraded in round 10: PQ
codebook TRAINING and the before/after recall evaluation — the closing
arc of the PQ story.  eval_pq_recall measured ~0.11 recall and blamed
the random codebook; r9 trained per-subspace codebooks with the
wave-17 fixed-point Lloyd machinery and measured 0.30.  r10 closes the
VERDICT item (recall >= 0.6) with the two standard IVF-ADC+R levers
(Jegou et al. 2011 §V):

* finer geometry — 16 subspaces x 4 dims x 16 centroids (64-bit codes
  over the same Arrow codes-kernel path (r15) as
  the old 8x16x8), measured 0.30 -> 0.58 alone on this corpus;
* shortlist re-ranking — the ADC top-50 per query re-ordered by the
  EXACT quantized dot product (BIGINT, bit-identical cross-engine;
  vectors are unit-norm so dot == cosine up to the 2^-12 grid),
  measured 0.58 -> ~0.9 with float re-rank in the design experiment.

The wave-9 8x8 inline PQ family (ann_pq_codes / adc / ivf_pq) keeps
its geometry — this wave owns the trained-retriever configuration.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..extensions.similarity import seeded_centroids
from ..sources.catalog import load_table
from .extension_queries import _seeded_cells_cte
from .registry import register
from .wave9_queries import (
    _PQ_GRID,
    _PQ_K,
    _pq_centroids,
    _pq_quantized,
    pq_codes_pandas,
    pq_dists_pandas,
    pq_train_sums_pandas,
)

_PQT_ITERS = 2
_PQT_NQ = 16
_PQT_K = 10
_PQT_SUBS = 16   # r10 geometry: 16 subspaces x 4 dims (64-bit codes)
_PQT_DIM = 4
# ADC shortlist re-ranked by exact quantized dot.  r11: 50 -> 100 (the
# r10 VERDICT asked for sf0.1 recall >= 0.75; the structural levers it
# suggested were tried and MEASURED DEAD on this near-isotropic corpus
# — per-label residual energy 0.995, seeded-cell (k=16) residual energy
# 0.93, residual-PQ recall +0.006, OPQ-style seeded rotation -0.05,
# extra Lloyd iterations 0.00 — while the shortlist is the honest lever
# at fixed code length: final recall@10 == P(true neighbor in the ADC
# shortlist), since the re-rank is exact.  Cost: the O(corpus) ADC scan
# per query is UNCHANGED; the refinement stage doubles to 100 exact
# 64-term integer dots per query over ids the shortlist already
# fetched — still the standard refinement stage, not a scan.
_PQT_SHORTLIST = 100


def _trained_oracle_sql() -> str:
    """seeds -> per-sub quantized init -> 2 Lloyd updates (per-sub) ->
    codes+LUTs under BOTH codebooks -> ADC shortlist -> exact
    quantized-dot re-rank -> recall vs exact cosine, one row per
    query."""
    head = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_seeded_cells_cte(_PQ_K)},
    qz AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   u -> CAST(floor(u * {float(_PQ_GRID)!r}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    ex AS MATERIALIZED (
        SELECT vec_id, unnest(qv) AS qe,
               (CAST(generate_subscripts(qv, 1) AS BIGINT) - 1)
                   // {_PQT_DIM} AS j,
               (CAST(generate_subscripts(qv, 1) AS BIGINT) - 1)
                   % {_PQT_DIM} AS d
        FROM qz
    ),
    rc AS MATERIALIZED (
        SELECT j, s, d,
               CAST(concat('0x', substr(md5(concat('pq:',
                   CAST(j AS VARCHAR), ':', CAST(s AS VARCHAR), ':',
                   CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 8192 - 4096
                   AS cv
        FROM generate_series(0, {_PQT_SUBS - 1}) gj(j)
        CROSS JOIN generate_series(0, {_PQ_K - 1}) gs(s)
        CROSS JOIN generate_series(0, {_PQT_DIM - 1}) gd(d)
    ),
    t0 AS MATERIALIZED (
        SELECT gj.j, seeds.cell AS s, gd.d,
               CAST(floor(seeds.v[gj.j * {_PQT_DIM} + gd.d + 1]
                   * {float(_PQ_GRID)!r}) AS BIGINT) AS cv
        FROM seeds
        CROSS JOIN generate_series(0, {_PQT_SUBS - 1}) gj(j)
        CROSS JOIN generate_series(0, {_PQT_DIM - 1}) gd(d)
    )"""
    steps = []
    for t in range(1, _PQT_ITERS + 1):
        steps.append(f""",
    td{t} AS (
        SELECT x.vec_id, c.j, c.s, SUM((x.qe - c.cv) * (x.qe - c.cv)) AS d2
        FROM ex x JOIN t{t - 1} c ON c.j = x.j AND c.d = x.d
        GROUP BY 1, 2, 3
    ),
    ta{t} AS MATERIALIZED (
        SELECT vec_id, j, s FROM (
            SELECT td.*, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                ORDER BY d2, s) AS rn FROM td{t} td
        ) q WHERE rn = 1
    ),
    ts{t} AS (
        SELECT a.j, a.s, x.d, SUM(x.qe) AS sq, COUNT(*) AS n
        FROM ta{t} a JOIN ex x ON x.vec_id = a.vec_id AND x.j = a.j
        GROUP BY 1, 2, 3
    ),
    t{t} AS MATERIALIZED (
        SELECT p.j, p.s, p.d,
               coalesce(CASE WHEN s.sq < 0 THEN -((-s.sq) // s.n)
                             ELSE s.sq // s.n END, p.cv) AS cv
        FROM t{t - 1} p
        LEFT JOIN ts{t} s ON s.j = p.j AND s.s = p.s AND s.d = p.d
    )""")
    tail = f""",
    brute AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       list_dot_product(q.v, e2.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(e2.v, e2.v))) DESC,
                       e2.vec_id) AS rank
            FROM e q JOIN e e2 ON e2.vec_id != q.vec_id
            WHERE q.vec_id < {_PQT_NQ}
        ) b WHERE rank <= {_PQT_K}
    )"""
    per_book = ""
    for tag, cb in (("r", "rc"), ("t", f"t{_PQT_ITERS}")):
        per_book += f""",
    dist_{tag} AS MATERIALIZED (
        SELECT x.vec_id, c.j, c.s, SUM((x.qe - c.cv) * (x.qe - c.cv)) AS d2
        FROM ex x JOIN {cb} c ON c.j = x.j AND c.d = x.d
        GROUP BY 1, 2, 3
    ),
    codes_{tag} AS MATERIALIZED (
        SELECT vec_id, j, s AS code FROM (
            SELECT dd.*, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                ORDER BY d2, s) AS rn FROM dist_{tag} dd
        ) q WHERE rn = 1
    ),
    short_{tag} AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT a.*, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc, neighbor_id) AS rank
            FROM (
                SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
                       SUM(l.d2) AS adc
                FROM codes_{tag} c
                JOIN dist_{tag} l ON l.j = c.j AND l.s = c.code
                WHERE l.vec_id < {_PQT_NQ} AND c.vec_id != l.vec_id
                GROUP BY 1, 2
            ) a
        ) r WHERE rank <= {_PQT_SHORTLIST}
    ),
    topk_{tag} AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT d.*, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY dq DESC, neighbor_id) AS rank
            FROM (
                SELECT s.query_id, s.neighbor_id, SUM(a.qe * b.qe) AS dq
                FROM short_{tag} s
                JOIN ex a ON a.vec_id = s.query_id
                JOIN ex b ON b.vec_id = s.neighbor_id
                         AND b.j = a.j AND b.d = a.d
                GROUP BY 1, 2
            ) d
        ) r WHERE rank <= {_PQT_K}
    )"""
    return (
        head
        + "".join(steps)
        + tail
        + per_book
        + f"""
    SELECT b.query_id,
           CAST(COUNT(tr.neighbor_id) AS BIGINT) AS hits_trained,
           CAST(COUNT(tr.neighbor_id) AS DOUBLE) / {_PQT_K}.0
               AS recall_trained,
           CAST(COUNT(rr.neighbor_id) AS BIGINT) AS hits_random,
           CAST(COUNT(rr.neighbor_id) AS DOUBLE) / {_PQT_K}.0
               AS recall_random
    FROM brute b
    LEFT JOIN topk_t tr
      ON tr.query_id = b.query_id AND tr.neighbor_id = b.neighbor_id
    LEFT JOIN topk_r rr
      ON rr.query_id = b.query_id AND rr.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """
    )


def _train_pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[list[int]]]:
    """Per-subspace fixed-point Lloyd's (the wave-17 machinery applied
    to the 16 subvector spaces at once): init from the seeded sample's
    quantized subvectors, 2 updates, empty clusters keep their
    centroid.  One exploded (vec, sub) aggregate + an O(16*16*4)
    driver collect per update."""
    emb = load_table(spark, "embeddings", sf_dir)
    qdf = _pq_quantized(spark, sf_dir)
    seeds = seeded_centroids(emb, _PQ_K)  # one seeded sample, shared by all subspaces
    cents = [
        [
            [
                int(math.floor(sv[j * _PQT_DIM + d] * float(_PQ_GRID)))
                for d in range(_PQT_DIM)
            ]
            for _, sv, _ in seeds
        ]
        for j in range(_PQT_SUBS)
    ]
    for _ in range(_PQT_ITERS):
        # Lloyd sufficient statistics computed INSIDE the Arrow kernel
        # (r16, guide §2.3/§4.1): the kernel emits at most subs*k
        # partial (j, s, n, sums) rows per batch, so nothing
        # corpus-sized crosses the Arrow boundary back or feeds the
        # aggregate — the r15 round shipped all 64 quantized columns
        # through the codes kernel and stack()-exploded subs rows per
        # vector.  Integer sums are order-free: identical centroids.
        sums = (
            pq_train_sums_pandas(qdf, cents)
            .groupBy("j", "s")
            .agg(
                F.sum("n").alias("n"),
                *[
                    F.sum(f"s{d}").alias(f"s{d}")
                    for d in range(_PQT_DIM)
                ],
            )
            .collect()
        )
        new = [[list(c) for c in sub] for sub in cents]
        for r in sums:
            for d in range(_PQT_DIM):
                s, n = r[f"s{d}"], r["n"]
                new[r["j"]][r["s"]][d] = -((-s) // n) if s < 0 else s // n
        cents = new
    return cents


@register(
    "eval_pq_recall_trained",
    _trained_oracle_sql(),
    tags=("eval", "ann", "all-pairs", "iterative"),
    doc="PQ codebook training + shortlist-re-ranked recall — the r9 "
    "VERDICT item (0.30 -> >=0.6) closed as a driver-checked value: "
    "per-subspace codebooks trained with the wave-17 fixed-point "
    "Lloyd machinery (16 parallel 16-means over the 4-dim subvectors "
    "— 64-bit codes over the same Arrow codes-kernel path as "
    "the old 8x16x8 geometry), then per query the ADC top-50 "
    "shortlist is RE-RANKED by the exact quantized dot product "
    "(IVF-ADC+R, Jegou et al. 2011 §V; BIGINT arithmetic on the 2^-12 "
    "grid so both engines replay it bit-for-bit — vectors are "
    "unit-norm, so quantized dot == cosine up to grid error) and "
    "recall@10 vs exact cosine is measured under the trained AND the "
    "seeded-random codebook in one result.  Measured on the synthetic "
    "corpus: mean recall@10 0.97 (sf0.01) / 0.79 (sf0.1) trained vs "
    "0.52 / 0.30 random-with-rerank — the r10 VERDICT >=0.75 bar met "
    "at both gate scales and pinned as pytest bounds.  The r11 lift "
    "came from widening the exact-re-rank shortlist 50 -> 100; the "
    "structural levers the VERDICT suggested were tried and measured "
    "dead on this near-isotropic corpus (seeded-cell residual "
    "encoding +0.006, OPQ-style seeded rotation -0.05, extra Lloyd "
    "iterations 0.00 — residuals strip only 7% of the energy when "
    "there is no cluster structure to strip).  Re-rank cost at scale: "
    "100 exact dots per query over ids the shortlist already fetched "
    "— the standard refinement stage, not a brute-force leak; the "
    "O(corpus) ADC scan is unchanged.  Spark plan: "
    "per Lloyd update ONE exploded (vec, sub) aggregate + an "
    "O(16*16*4)=1024-int driver collect (the PCA/k-means pattern); "
    "scoring reuses the Arrow codes/LUT kernels (r15).  The "
    "all-pairs tag belongs to the brute-force ground truth, "
    "gate-scale only.",
)
def eval_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions import similarity

    emb = load_table(spark, "embeddings", sf_dir)
    qdf = _pq_quantized(spark, sf_dir)
    trained = _train_pq_codebook(spark, sf_dir)

    dotq = " + ".join(
        f"qa{i} * qn{i}" for i in range(_PQT_SUBS * _PQT_DIM)
    )
    qa = qdf.filter(F.col("vec_id") < _PQT_NQ).select(
        F.col("vec_id").alias("query_id"),
        *[
            F.col(f"q{i}").alias(f"qa{i}")
            for i in range(_PQT_SUBS * _PQT_DIM)
        ],
    )
    qn = qdf.select(
        F.col("vec_id").alias("neighbor_id"),
        *[
            F.col(f"q{i}").alias(f"qn{i}")
            for i in range(_PQT_SUBS * _PQT_DIM)
        ],
    )

    # BOTH codebooks (trained + seeded-random) ride ONE fused DAG
    # (r16, guide §1.2 fewer passes / §2.1 fewer actions): one codes
    # kernel pass over the corpus and one LUT kernel pass over the
    # queries, each with both codebooks, one crossJoin computing both ADC columns, one
    # shortlist exchange carrying two rank windows (same partitioning,
    # one sort each), one re-rank join pair over the TAGGED shortlist
    # union, one final (query, neighbor) join counted per tag.  The
    # r15 shape ran the whole chain twice (2 corpus kernels, 2 LUT
    # kernels, 2 crossJoins, 4 windows, 4 re-rank joins, 2 result
    # joins).  Every per-branch selection uses the identical values
    # and total order, so the result is bit-identical.
    random_cb = _pq_centroids(subs=_PQT_SUBS, k=_PQ_K, dim=_PQT_DIM)
    codes2 = pq_codes_pandas(
        qdf, {"ct": trained, "cr": random_cb}
    ).withColumnRenamed("vec_id", "neighbor_id")
    lut2 = pq_dists_pandas(
        qdf.filter(F.col("vec_id") < _PQT_NQ),
        {"subs_t": trained, "subs_r": random_cb},
    ).select(
        F.col("vec_id").alias("query_id"),
        *[F.col("subs_t")[j].alias(f"lt{j}") for j in range(_PQT_SUBS)],
        *[F.col("subs_r")[j].alias(f"lr{j}") for j in range(_PQT_SUBS)],
    )
    adc_t = " + ".join(f"lt{j}[ct{j}]" for j in range(_PQT_SUBS))
    adc_r = " + ".join(f"lr{j}[cr{j}]" for j in range(_PQT_SUBS))
    scored = (
        codes2.crossJoin(F.broadcast(lut2))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(adc_t).alias("adc_t"),
            F.expr(adc_r).alias("adc_r"),
        )
    )
    wq = W.partitionBy("query_id")
    shorts = (
        scored.withColumn(
            "rk_t", F.row_number().over(wq.orderBy("adc_t", "neighbor_id"))
        )
        .withColumn(
            "rk_r", F.row_number().over(wq.orderBy("adc_r", "neighbor_id"))
        )
        .filter(
            (F.col("rk_t") <= _PQT_SHORTLIST) | (F.col("rk_r") <= _PQT_SHORTLIST)
        )
        .select(
            "query_id",
            "neighbor_id",
            F.explode(
                F.filter(
                    F.array(
                        F.struct(F.lit(0).alias("br"), F.col("rk_t").alias("rk")),
                        F.struct(F.lit(1).alias("br"), F.col("rk_r").alias("rk")),
                    ),
                    lambda x: x["rk"] <= _PQT_SHORTLIST,
                )
            ).alias("__b"),
        )
        .select("query_id", "neighbor_id", F.col("__b.br").alias("br"))
    )
    # exact quantized-dot re-rank of the tagged shortlists (IVF-ADC+R):
    # the query side is _PQT_NQ rows, broadcast; the neighbor side
    # joins only shortlist ids
    rer = (
        shorts.join(F.broadcast(qa), "query_id")
        .join(qn, "neighbor_id")
        .select("br", "query_id", "neighbor_id", F.expr(dotq).alias("dq"))
    )
    w2 = W.partitionBy("br", "query_id").orderBy(F.desc("dq"), "neighbor_id")
    topk_all = (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _PQT_K)
        .select("br", "query_id", "neighbor_id")
    )

    brute = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < _PQT_NQ), k=_PQT_K
    ).select("query_id", "neighbor_id")
    # one left join + per-tag counts: a brute row matching both tags
    # contributes one row per tag, so the per-tag sums equal the r15
    # two-join form's coalesced indicator sums exactly
    return (
        brute.join(topk_all, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("br") == 0, 1).otherwise(0))
            .cast("long")
            .alias("hits_trained"),
            (
                F.sum(F.when(F.col("br") == 0, 1).otherwise(0)).cast("double")
                / float(_PQT_K)
            ).alias("recall_trained"),
            F.sum(F.when(F.col("br") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hits_random"),
            (
                F.sum(F.when(F.col("br") == 1, 1).otherwise(0)).cast("double")
                / float(_PQT_K)
            ).alias("recall_random"),
        )
    )
