"""r13 VERDICT items 5 + 2 (measurement leg): degenerate-skew behavior
of the two documented hot-key valves, measured instead of asserted.

Part B — plain n-gram Jaccard under a boilerplate corpus (item 5).
`ngram_jaccard_pairs`'s docstring claims AQE skew-join splitting
handles frequent-shingle hot keys; nothing in SCALING.md ever measured
it.  Corpus: 20,000 docs, each = ONE shared 8-char boilerplate block +
unique filler, so exactly one shingle is shared by ALL docs -> the
token join's hot key alone yields C(20k, 2) ≈ 2.0e8 candidate rows.
Measured: plain form (AQE on, the session default) vs the
prefix-filtered exact refinement, warm runs, noop sink; afterwards the
EXECUTED plan is grepped for `isSkew`/`skew=` markers to verify
whether AQE's OptimizeSkewedJoin actually engaged.  Expected (to be
recorded either way): AQE can only parallelize the straggler
partition — the 2e8-row candidate WORK is unchanged — while the
prefix filter removes the hot key from the join entirely.

Part C — the blocked-IVF auto hot-cell valve (item 2).  Corpus:
512k vectors where HALF are tight perturbations of one direction ->
one seeded cell holds ~256k rows (4x the 65,536-row
HOT_CELL_ROWS_DEFAULT trigger).  20k queries from the same
distribution, so ~half probe the hub.  Measured: valve off
(hot_cell_rows=None) vs auto (HOT_CELL_ROWS_DEFAULT -> the hub splits
into ceil(est/65536) sub-cells), warm runs.  Output equality is
pytest-pinned (split-invariance); this measures the straggler wall.

Usage: python tools/scale_skew_r14.py  (idle box; ~15 min)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.1"
N_DOCS = 20_000
N_VEC = 512_000
N_QUERIES = 20_000
CELLS = 1024


def part_b(spark) -> None:
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import dedup

    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("BOILER8!"),  # exactly k=8 chars -> ONE universal shingle
            # unique filler: hex of id padded -> no cross-doc shingles
            F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 40, "x"),
        ).alias("text"),
    )
    docs = docs.repartition(64).localCheckpoint()  # freeze input cost
    print(f"partB: {docs.count()} docs, one universal shingle", flush=True)

    def run(fn, name):
        walls = []
        for trial in range(2):
            t0 = time.time()
            out = fn(docs, threshold=0.8, k=8)
            out.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            print(f"partB {name} trial {trial}: {walls[-1]:.1f}s", flush=True)
        return out  # last DataFrame (for plan inspection)

    plain = run(dedup.ngram_jaccard_pairs, "plain")
    run(dedup.ngram_jaccard_pairs_prefix, "prefix")

    # did AQE's OptimizeSkewedJoin actually engage on the plain form?
    plan = plain._jdf.queryExecution().executedPlan().toString()
    skew_markers = [ln.strip()[:120] for ln in plan.splitlines() if "kew" in ln]
    print(f"partB plain executed-plan skew markers: {len(skew_markers)}", flush=True)
    for ln in skew_markers[:8]:
        print(f"  {ln}", flush=True)


def part_c(spark) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity

    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    hub_vec = [float(x) for x in base.filter("vec_id = 0").collect()[0]["embedding"]]
    n_emb = base.count()
    reps = max(1, N_VEC // n_emb)
    rdf = spark.range(reps).withColumnRenamed("id", "k")
    hub_lit = "array(" + ", ".join(f"{x!r}F" for x in hub_vec) + ")"
    # A hub CELL needs the hub vectors to not be seed candidates
    # themselves (the first attempt made half the corpus hub-shaped ->
    # ~half the LCG-sampled SEEDS were hub too, and the tight cluster
    # spread over those near-identical seeds instead of piling into
    # one cell).  Exclude the seed prefix of the LCG order from hub
    # membership, so every seed keeps the base spread and the whole
    # hub cluster argmaxes to the single closest seed.
    a, c_, m_ = 1103515245, 12345, 1 << 31
    keys = (np.arange(reps * n_emb, dtype=np.int64) % m_) * a + c_
    seed_ids = np.argsort(keys % m_, kind="stable")[:CELLS]
    seed_set = ", ".join(str(int(i)) for i in seed_ids)
    emb = (
        base.crossJoin(F.broadcast(rdf))
        .select(
            (F.col("vec_id") + F.col("k") * n_emb).alias("vec_id"),
            F.col("embedding"),
        )
        .selectExpr(
            "vec_id",
            # half the corpus collapses onto one direction (tiny per-row
            # tweak keeps vectors distinct); the rest keeps the wave9
            # perturbed-replica spread
            # hub membership keys on PLAIN id parity, not xxhash64:
            # the production count-estimator samples on xxhash64(id),
            # and a synthetic hub defined by the same hash would be
            # perfectly correlated with the sample (%64==0 => %2==0),
            # biasing exactly the estimator under test
            f"""CASE WHEN pmod(vec_id, 2) = 0
                     AND vec_id NOT IN ({seed_set})
                THEN transform({hub_lit}, (u, i) ->
                     u + CAST(pmod(vec_id, 97) AS FLOAT) / 500000.0F)
                ELSE transform(embedding, (u, i) ->
                     u + CAST(pmod(vec_id, 7) - 3 AS FLOAT) / 1000.0F)
                END AS embedding""",
        )
    )
    emb.repartition(64).write.mode("overwrite").parquet("/tmp/scale_skew_emb.parquet")
    emb = spark.read.parquet("/tmp/scale_skew_emb.parquet")

    # verify the hub actually formed: numpy-assign a 1/64 sample
    seeds = similarity.seeded_centroids(emb, CELLS)
    smat = np.array([v for _, v, _ in seeds])
    snrm = np.array([n for _, _, n in seeds])
    sample = np.array(
        [
            [float(x) for x in r["embedding"]]
            for r in emb.filter(
                F.pmod(F.xxhash64("vec_id"), F.lit(64)) == 0
            ).collect()
        ]
    )
    counts = np.bincount(
        np.argmax((sample @ smat.T) / snrm, axis=1), minlength=CELLS
    )
    print(
        f"partC hub check: top cell est {counts.max() * 64} rows "
        f"(mean {int(counts.mean() * 64)}), sample {len(sample)}",
        flush=True,
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    print(f"partC: {emb.count()} vectors ({queries.count()} queries), "
          f"~half in one hub cell; trigger {similarity.HOT_CELL_ROWS_DEFAULT}",
          flush=True)

    def run(name, hot):
        walls = []
        for trial in range(2):
            t0 = time.time()
            similarity.ivf_topk_blocked(
                emb, queries, similarity.FlatSeedCells(CELLS, 4), k=10,
                hot_cell_rows=hot,
            ).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            print(f"partC {name} trial {trial}: {walls[-1]:.1f}s", flush=True)
        return walls[1]

    off = run("valve-off", None)
    on = run("valve-auto", similarity.HOT_CELL_ROWS_DEFAULT)
    print(f"partC RESULT: off {off:.1f}s vs auto {on:.1f}s "
          f"({off/on:.2f}x)", flush=True)


def main() -> None:
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="scale-skew-r14", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    if "--part-c-only" not in sys.argv:
        part_b(spark)
    part_c(spark)
    spark.stop()


if __name__ == "__main__":
    main()
