"""Round-9 extension wave (ninth batch): deterministic fixed-point
k-means (Lloyd's algorithm) — the TRAINED-clustering component whose
MLlib form the engine deliberately keeps rows-only (ivf_topk,
pipeline_learned_quality).  Re-expressed over the 2^-12 integer grid
with seeded-sample init, every step is exact BIGINT arithmetic, so a
fixed iteration count unrolls into a DuckDB oracle the same way
pagerank/PCA/LPA do.

Division discipline: centroid means use sign-explicit truncating
division (CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END) — the
PCA-oracle trick — because Python's // floors while Spark's `div`
truncates; the abs-form makes all three engines agree bit for bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions.similarity import seeded_centroids
from ..sources.catalog import load_table
from .extension_queries import _seeded_cells_cte
from .registry import register
from .wave9_queries import _PQ_GRID

_KM_K = 16
_KM_D = 64
_KM_ITERS = 2  # centroid updates; assignments run ITERS+1 times


def _km_ctes() -> str:
    """The shared training chain (c0 = quantized seeded sample ->
    (assign -> update) x ITERS), ending in ``c{_KM_ITERS}`` — reused by
    the silhouette eval (wave22).  Every CTE is O(n*k) rows at most."""
    head = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_seeded_cells_cte(_KM_K)},
    qz AS MATERIALIZED (
        SELECT vec_id, unnest(list_transform(v,
                   u -> CAST(floor(u * {float(_PQ_GRID)!r}) AS BIGINT))) AS q,
               CAST(generate_subscripts(v, 1) AS BIGINT) - 1 AS d
        FROM e
    ),
    c0 AS MATERIALIZED (
        SELECT cell AS c, unnest(list_transform(v,
                   u -> CAST(floor(u * {float(_PQ_GRID)!r}) AS BIGINT))) AS cv,
               CAST(generate_subscripts(v, 1) AS BIGINT) - 1 AS d
        FROM seeds
    )"""
    steps = []
    for t in range(1, _KM_ITERS + 1):
        steps.append(f""",
    a{t} AS MATERIALIZED (
        SELECT vec_id, c FROM (
            SELECT z.vec_id, cc.c,
                   ROW_NUMBER() OVER (PARTITION BY z.vec_id
                       ORDER BY SUM((z.q - cc.cv) * (z.q - cc.cv)), cc.c)
                       AS rn
            FROM qz z JOIN c{t - 1} cc ON cc.d = z.d
            GROUP BY z.vec_id, cc.c
        ) t WHERE rn = 1
    ),
    s{t} AS MATERIALIZED (
        SELECT a.c, z.d, SUM(z.q) AS sq, COUNT(DISTINCT z.vec_id) AS n
        FROM a{t} a JOIN qz z ON z.vec_id = a.vec_id
        GROUP BY 1, 2
    ),
    c{t} AS MATERIALIZED (
        SELECT p.c, p.d,
               coalesce(CASE WHEN s.sq < 0 THEN -((-s.sq) // s.n)
                             ELSE s.sq // s.n END, p.cv) AS cv
        FROM c{t - 1} p
        LEFT JOIN s{t} s ON s.c = p.c AND s.d = p.d
    )""")
    return head + "".join(steps)


def _km_oracle_sql() -> str:
    """Training chain + final assignment with dist2."""
    return (
        _km_ctes()
        + f"""
    SELECT vec_id, CAST(c AS BIGINT) AS cluster,
           CAST(d2 AS BIGINT) AS dist2
    FROM (
        SELECT z.vec_id, cc.c,
               SUM((z.q - cc.cv) * (z.q - cc.cv)) AS d2,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                   ORDER BY SUM((z.q - cc.cv) * (z.q - cc.cv)), cc.c) AS rn
        FROM qz z JOIN c{_KM_ITERS} cc ON cc.d = z.d
        GROUP BY z.vec_id, cc.c
    ) t WHERE rn = 1
    """
    )


def _km_qdf(emb: DataFrame) -> DataFrame:
    """(vec_id, q0..q63): vectors quantized onto the 2^-12 integer
    grid — the exact-BIGINT corpus frame every Lloyd pass reads."""
    return emb.select(
        "vec_id",
        *[
            F.expr(
                f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * "
                f"{float(_PQ_GRID)!r}D) AS BIGINT)"
            ).alias(f"q{i}")
            for i in range(_KM_D)
        ],
    )


def _km_init(emb: DataFrame) -> list[list[int]]:
    """Quantize the seeded sample driver-side (same floor(u*grid) the
    engines apply; Python's math.floor on the identical double product
    yields the identical integer)."""
    return [
        [int(math.floor(x * float(_PQ_GRID))) for x in sv]
        for _, sv, _ in seeded_centroids(emb, _KM_K)
    ]


def _km_batch_q_and_d2(b, cols, cm):
    """(q matrix, exact squared distances) for one Arrow batch.

    Distances use the algebraic identity qq - 2*q@C^T + cc — exact in
    int64 arithmetic (|q| <= ~2^13, so every term is < 2^40, far
    inside int64), hence bit-identical to the per-term (q - c)^2 fold
    the oracle runs.  Module-level helper referenced as a GLOBAL from
    the shipped kernels: cloudpickle serializes it by reference, so the
    workers import it from the package zip that the session ships
    (``get_spark`` and the ``queries()`` wrapper both ship it)."""
    import numpy as np

    idx = {n: i for i, n in enumerate(b.schema.names)}
    q = np.column_stack(
        [b.column(idx[c]).to_numpy(zero_copy_only=False) for c in cols]
    ).astype(np.int64)
    qq = (q * q).sum(axis=1)
    cc = (cm * cm).sum(axis=1)
    return q, qq[:, None] - 2 * (q @ cm.T) + cc[np.newaxis, :]


def _km_train(qdf: DataFrame, cents: list[list[int]]) -> list[list[int]]:
    """ITERS Lloyd updates.  Each iteration is ONE Arrow-kernel pass
    (guide §4.2): the kernel assigns each vector to its nearest
    centroid with exact int64 arithmetic and emits per-batch PARTIAL
    (cluster, n, s0..s63) sums — integer partial aggregation is
    associative, so the 16-row Spark sum that follows reproduces the
    old groupBy-over-rows bit for bit — then an O(k*d) driver collect
    (1024 ints) updates centroids with the sign-explicit truncating
    division.  This replaced a 128-column unrolled-literal projection
    whose CATALYST ANALYSIS dominated the query (~3.5s of driver time
    per action at 2k rows, three actions per query — the data itself
    is minutes-of-arithmetic small); the kernel's plan is a dozen
    nodes and the assignment arithmetic runs vectorized in numpy.
    Empty clusters keep their previous centroid (the standard Lloyd
    guard) by never emitting an n=0 row."""
    q_cols = [f"q{d}" for d in range(_KM_D)]
    schema = "cluster INT, n BIGINT, " + ", ".join(
        f"s{d} BIGINT" for d in range(_KM_D)
    )
    for _ in range(_KM_ITERS):
        cint = [list(c) for c in cents]

        def partials(it, _c=cint):
            import numpy as np
            import pyarrow as pa

            cm = np.asarray(_c, dtype=np.int64)
            for b in it:
                if b.num_rows == 0:
                    continue
                q, d2 = _km_batch_q_and_d2(b, q_cols, cm)
                cl = np.argmin(d2, axis=1)
                n = np.bincount(cl, minlength=cm.shape[0])
                s = np.zeros_like(cm)
                np.add.at(s, cl, q)
                keep = np.flatnonzero(n)
                arrays = [
                    pa.array(keep.astype(np.int32)),
                    pa.array(n[keep].astype(np.int64)),
                ] + [pa.array(s[keep, d]) for d in range(_KM_D)]
                yield pa.RecordBatch.from_arrays(
                    arrays, names=["cluster", "n"] + [f"s{d}" for d in range(_KM_D)]
                )

        sums = (
            qdf.select(*q_cols)
            .mapInArrow(partials, schema)
            .groupBy("cluster")
            .agg(
                F.sum("n").alias("n"),
                *[F.sum(f"s{d}").alias(f"s{d}") for d in range(_KM_D)],
            )
            .collect()
        )
        new = [list(c) for c in cents]
        for r in sums:
            for d in range(_KM_D):
                s, n = r[f"s{d}"], r["n"]
                new[r["cluster"]][d] = -((-s) // n) if s < 0 else s // n
        cents = new
    return cents


@register(
    "embedding_kmeans_fixed",
    _km_oracle_sql(),
    tags=("embeddings", "iterative"),
    doc="Deterministic k-means (Lloyd's): seeded-sample init (the "
    "ann_ivf_topk LCG selection), vectors on the 2^-12 integer grid, "
    "2 full update iterations + a final assignment — every distance "
    "an exact BIGINT, every centroid mean a sign-explicit truncating "
    "integer division, empty clusters keep their previous centroid "
    "(the standard Lloyd guard), ties to the smallest cluster id.  "
    "This is the trained-codebook path the ANN family's honest "
    "recall numbers call for, expressed so that Python, Catalyst and "
    "the unrolled-CTE oracle agree bit for bit — MLlib's float "
    "k-means (similarity.ivf_topk, quality_model) remains the "
    "production variant, this is its driver-checkable twin.  Spark "
    "plan per iteration: ONE map-side-combined (cluster, dim) "
    "aggregate over the corpus + an O(k*d) driver collect (the "
    "PCA-moments pattern; 1024 ints), assignments via an Arrow "
    "kernel computing exact int64 distances (qq - 2*q@C^T + cc, "
    "every term < 2^40 so the identity is exact; replaced the "
    "unrolled-literal projection whose CATALYST ANALYSIS dominated "
    "the query — guide §4.2, r15) — no window, no join; exactly how "
    "MLlib shards Lloyd's, minus the float nondeterminism of its "
    "tree-aggregated doubles.",
)
def embedding_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["vec_id"]),
                    pa.array(np.argmin(d2, axis=1).astype(np.int64)),
                    pa.array(d2.min(axis=1)),
                ],
                names=["vec_id", "cluster", "dist2"],
            )

    return qdf.mapInArrow(final, "vec_id BIGINT, cluster BIGINT, dist2 BIGINT")
