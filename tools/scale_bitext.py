"""r12 VERDICT item 5: measure the bitext ANN tier at 800k x 800k
with cells ~ sqrt(corpus side), AFTER the _score_cell memory bound
(item 1) landed — the r12 row (400k x 400k, 1024 cells) was below the
sqrt configuration's stress point.

Protocol (SCALING.md): perturbed-replica corpus (wave9 recipe, 800
replicas of the sf0.1 embeddings -> 1.6M vectors, 800k per parity
side), warm second run, noop sink.  Scale configuration per the
_margin_select docstring: broadcast_small=False (planner-chosen joins,
eager checkpoint of the ranked pair table) — the endpoint-sum tables
are 800k rows here, not driver-sized.

Also reports the per-task memory evidence for item 1: per-cell
(query rows, corpus rows) stats and the implied max ACTIVE tile bytes
min(_Q_BLOCK, nq) x min(_C_BLOCK, nc) x 8 — the literal 64 MB bound
regardless of how hot the hottest cell gets — plus one run with
cell_split=4 to show the hub-cell knob at scale.

Usage: python tools/scale_bitext.py   (rebuilds /tmp/scale_bitext if
missing; /tmp does not persist across sessions)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

OUT = Path("/tmp/scale_bitext")
SF = "/root/testdata/sf0.1"
N_VEC_REPS = 800  # 2000 sf0.1 vectors x 800 = 1.6M (parity-preserving)
CELLS = 1024  # ~ sqrt(800k corpus side)
PROBE = 4


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


def main() -> None:
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.plans.wave28_queries import (
        _ANN_CAND_K,
        _margin_select,
    )
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="scale-bitext", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    if not (OUT / "embeddings.parquet").exists():
        build(spark)

    emb = spark.read.parquet(str(OUT / "embeddings.parquet"))
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    print(f"sides: {even.count()} queries x {odd.count()} corpus", flush=True)

    def miner(cell_split: int):
        cand = similarity.ivf_topk_blocked(
            odd, even, similarity.FlatSeedCells(CELLS, PROBE), k=_ANN_CAND_K,
            cell_split=cell_split,
        )
        u = cand.select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            F.floor((F.col("cosine") + F.lit(2.0)) * F.lit(1000000000.0))
            .cast("long")
            .alias("u_e9"),
        )
        return _margin_select(u, broadcast_small=False)

    for split in (1, 4):
        for run in range(2):
            t0 = time.time()
            miner(split).write.format("noop").mode("overwrite").save()
            print(
                f"mine_bitext_margin_ann @1.6M vecs ({CELLS} cells, "
                f"split={split}) run {run}: {time.time() - t0:.1f}s",
                flush=True,
            )

    # item-1 memory evidence: per-cell occupancy -> implied ACTIVE tile
    # bytes under the literal _Q_BLOCK x _C_BLOCK bound (and what the
    # UNTILED r12 kernel would have allocated for the hottest cell)
    qb, cb = similarity._Q_BLOCK, similarity._C_BLOCK
    seeds = similarity.seeded_centroids(odd, CELLS)
    import numpy as np

    smat = np.array([v for _, v, _ in seeds])
    snrm = np.array([n for _, _, n in seeds])

    def cell_counts(df, vec_col, top_n):
        def score(it):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                m = np.stack([np.asarray(v, float) for v in pdf[vec_col]])
                sc = (m @ smat.T) / snrm  # stats only — not the kernel
                if top_n == 1:
                    cells = np.argmax(sc, axis=1)[:, None]
                else:
                    cells = np.argsort(-sc, axis=1, kind="stable")[:, :top_n]
                yield pd.DataFrame({"cell": cells.ravel().astype("int32")})

        return (
            df.mapInPandas(score, "cell int")
            .groupBy("cell").count().toPandas()["count"].to_numpy()
        )

    nc = cell_counts(odd.select("embedding"), "embedding", 1)
    nq = cell_counts(even.select("embedding"), "embedding", PROBE)
    worst_q, worst_c = int(nq.max()), int(nc.max())
    tile = min(qb, worst_q) * min(cb, worst_c) * 8
    untiled = worst_q * worst_c * 8
    print(
        f"cells: corpus rows max {worst_c} (mean {nc.mean():.0f}), "
        f"probe rows max {worst_q} (mean {nq.mean():.0f}); "
        f"max ACTIVE tile {tile/1e6:.1f} MB (literal bound "
        f"{qb*cb*8/1e6:.0f} MB); untiled r12 kernel would have "
        f"allocated {untiled/1e6:.1f} MB for the hottest cell",
        flush=True,
    )


if __name__ == "__main__":
    main()
