"""r13 VERDICT item 3: demonstrate hierarchical IVF in its RECORDED
regime (C >= ~1e4, where flat assignment dominates) — or record a
second honest negative.

The r13 measurement (800k corpus, C=1024) found hier a 2x net LOSS:
at that point flat seed-scoring is only ~25% of the bill and the
two-level map's balance cost (+44% sum-of-squared cell sizes) swamps
the assignment saving.  The docstrings claim the crossover sits where
assignment dominates: C >= ~1e4 with FEW queries relative to corpus
(assignment is per-corpus-vector and query-independent).  This script
measures exactly that point:

  corpus 1.6M perturbed-replica vectors (wave9 recipe, /tmp rebuild),
  C = 10,000 cells (~sqrt would be 1265; 1e4 is the regime the
  docstring names), flat n_probe=4 vs hier S=100 (= sqrt(C)),
  super_probe=2 x cells_per_super=2 (same 4 probed cells),
  2,000 queries, k=10, warm second runs, noop sink.

Flat assignment bill: n*C*d = 1.6M * 1e4 * 64 = 1.0e12 mul-adds.
Hier: n*(S + C/S)*d = 1.6M * 200 * 64 = 2.0e10 — 50x less.  Scoring
is ~4 cells x ~160 rows per query x 2k queries — negligible — so the
end-to-end walls read the assignment difference almost directly.

Also reports cell-balance evidence (sum of squared cell sizes, max
cell) for both quantizers, the r13 causal metric.

Arrow batches are capped at 2048 rows: flat assignment materializes a
(batch x C) double score block per batch — 2048 x 1e4 x 8 = 164 MB,
a bounded per-task footprint (10k rows would be 800 MB x 32 tasks).

Usage: python tools/scale_hier_r14.py  (idle box; ~15-30 min)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

OUT = Path("/tmp/scale_bitext")  # shared with scale_bitext.py
SF = "/root/testdata/sf0.1"
N_VEC_REPS = 800
CELLS = 10_000
SUPERS = 100  # sqrt(C)
N_QUERIES = 2_000
K = 10


def build(spark) -> None:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_emb = emb.count()
    reps = spark.range(N_VEC_REPS).withColumnRenamed("id", "k")
    big = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("k") * n_emb).alias("vec_id"),
        F.expr(
            "transform(embedding, (u, i) -> "
            "u + CAST((k % 7) - 3 AS FLOAT) / 1000.0F)"
        ).alias("embedding"),
    )
    big.repartition(64).write.mode("overwrite").parquet(
        str(OUT / "embeddings.parquet")
    )
    print(f"built {n_emb * N_VEC_REPS} vectors -> {OUT}", flush=True)


def balance_stats(spark, corpus) -> None:
    """Driver-side balance comparison on a 1/16 hash sample (~100k
    vectors, 51 MB collected): replicate both quantizers' assignment
    rules in chunked numpy (the same j-ordered fold) and report the
    r13 causal metric — sum of squared cell sizes (scoring work for an
    all-queries workload) and the max cell."""
    import numpy as np
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity

    seeds = similarity.seeded_centroids(corpus, CELLS)
    seed_mat = np.array([v for _, v, _ in seeds])
    seed_nrm = np.array([n for _, _, n in seeds])
    S = SUPERS
    sup_mat, sup_nrm = seed_mat[:S], seed_nrm[:S]

    rows = (
        corpus.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(16)) == 0)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    mat = np.array([r["v"] for r in rows])
    print(f"balance sample: {len(mat)} vectors", flush=True)

    def scores(m, smat, snrm):
        return (m @ smat.T) / snrm  # balance only — fold order moot here

    cell2sup = np.argmax(scores(seed_mat, sup_mat, sup_nrm), axis=1)
    cells_of = {s: np.where(cell2sup == s)[0] for s in range(S)}

    flat_counts = np.zeros(CELLS, dtype=np.int64)
    hier_counts = np.zeros(CELLS, dtype=np.int64)
    for c0 in range(0, len(mat), 2048):
        m = mat[c0 : c0 + 2048]
        flat = np.argmax(scores(m, seed_mat, seed_nrm), axis=1)
        np.add.at(flat_counts, flat, 1)
        sup = np.argmax(scores(m, sup_mat, sup_nrm), axis=1)
        for s in np.unique(sup):
            msk = sup == s
            cl = cells_of[int(s)]
            if not len(cl):
                continue
            sub = np.argmax(scores(m[msk], seed_mat[cl], seed_nrm[cl]), axis=1)
            np.add.at(hier_counts, cl[sub], 1)
    for name, cnt in (("flat", flat_counts), ("hier", hier_counts)):
        print(
            f"balance {name}: max cell {cnt.max()}, nonempty "
            f"{(cnt > 0).sum()}, sum-of-squares {int((cnt.astype(float) ** 2).sum())}",
            flush=True,
        )


def main() -> None:
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="scale-hier-r14", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    if not (OUT / "embeddings.parquet").exists():
        build(spark)

    emb = spark.read.parquet(str(OUT / "embeddings.parquet"))
    corpus = emb
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n = corpus.count()
    print(f"corpus {n} vectors, {queries.count()} queries, C={CELLS}", flush=True)
    balance_stats(spark, corpus)

    def run_flat():
        return similarity.ivf_topk_blocked(
            corpus, queries, similarity.FlatSeedCells(CELLS, 4), k=K
        )

    def run_hier():
        return similarity.ivf_topk_blocked(
            corpus, queries, similarity.HierSeedCells(CELLS, SUPERS, 2, 2), k=K
        )

    walls: dict[str, list[float]] = {}
    for name, fn in (("flat", run_flat), ("hier", run_hier)):
        walls[name] = []
        for trial in range(2):
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            walls[name].append(dt)
            print(f"{name} trial {trial}: {dt:.1f}s", flush=True)

    print(
        f"RESULT flat warm {walls['flat'][1]:.1f}s vs hier warm "
        f"{walls['hier'][1]:.1f}s (ratio {walls['flat'][1]/walls['hier'][1]:.2f}x)",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
