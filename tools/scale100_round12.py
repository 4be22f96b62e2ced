"""100x measurements for the round-12 additions (SCALING.md protocol:
perturbed replicas, warm second run) — closing r11 VERDICT item 8 plus
the "100x wall within ~3x of sf0.1" done-criterion of item 3.

Targets:
  lm_heldout_surprisal        (wave 26 — the one wave with no 100x row)
  pack_concat_chunks          (wave 22 — the concat-chunk packer)
  eval_minhash_precision      (wave 23 — RE-measure: now scores a
                               deterministic 25% LCG candidate sample;
                               r11 measured the all-candidates form at
                               112s warm)
  streaming_admission_parity  (wave 27 — production admission path)
  streaming_silver_upsert     (wave 27 — production CDC merge path)

Corpora (rebuilt if missing — /tmp does not persist across sessions):
  /tmp/scale100          500k docs, replica-token prefix (word-level)
  /tmp/scale100_minhash  500k docs, bijective char substitution
  /tmp/scale100_events   10M events / 150k users

Usage: python tools/scale100_round12.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

WORDS = Path("/tmp/scale100")
CHARS = Path("/tmp/scale100_minhash")
EVENTS = Path("/tmp/scale100_events")


def timed(label, fn, runs=2):
    walls = []
    out = None
    for _ in range(runs):
        t0 = time.time()
        out = fn()
        walls.append(round(time.time() - t0, 1))
    print(f"{label}: cold {walls[0]}s warm {walls[-1]}s ({out})", flush=True)


def main() -> None:
    import greenbuttonengine_spark.plans.registry as reg
    from greenbuttonengine_spark.session import get_spark
    import __spark_entry__ as entry

    entry._registry()
    spark = get_spark(app_name="scale100-round12", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    if not (WORDS / "documents.parquet").exists():
        import scale100_wave9 as w9

        w9.build(spark, 100, 400)
    if not (CHARS / "documents.parquet").exists():
        import scale100_minhash as mh

        t0 = time.time()
        mh.build(spark, 100)
        print(f"built Caesar corpus in {time.time() - t0:.1f}s", flush=True)
    if not (EVENTS / "events.parquet").exists():
        import scale100_round11 as r11

        r11.build_events(spark)

    def run_query(name, sf_dir):
        def go():
            df = reg.QUERIES[name].fn(spark, str(sf_dir))
            df.write.format("noop").mode("overwrite").save()
            return "noop"

        return go

    timed("lm_heldout_surprisal @500k docs", run_query("lm_heldout_surprisal", WORDS))
    timed("pack_concat_chunks @500k docs", run_query("pack_concat_chunks", WORDS))
    timed(
        "eval_minhash_precision (25% sample) @500k docs (Caesar corpus)",
        run_query("eval_minhash_precision", CHARS),
    )
    timed(
        "streaming_admission_parity @500k docs",
        run_query("streaming_admission_parity", WORDS),
    )
    timed(
        "streaming_silver_upsert @10M events / 150k users",
        run_query("streaming_silver_upsert", EVENTS),
    )


def measure_ann_miner_scale() -> None:
    """100x measurement of the ANN bitext miner at the SCALE
    configuration (cells ~ sqrt(corpus), probe side not broadcast):
    800k vectors (400k per side) from the wave9 replica corpus.
    Invoked separately because the declared literals (16 cells) are
    the small-sf oracle operating point, not the 800k one — the same
    split as the seeded minhash generator re-measure."""
    import time

    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.plans.wave28_queries import (
        _ANN_CAND_K,
        _margin_select,
    )
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="scale100-bitext", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(str(WORDS / "embeddings.parquet"))
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    for run in range(2):
        t0 = time.time()
        cand = similarity.ivf_topk_blocked(
            odd, even, similarity.FlatSeedCells(1024, 4), k=_ANN_CAND_K,
        )
        u = cand.select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            F.floor((F.col("cosine") + F.lit(2.0)) * F.lit(1000000000.0))
            .cast("long")
            .alias("u_e9"),
        )
        _margin_select(u).write.format("noop").mode("overwrite").save()
        print(f"mine_bitext_margin_ann @800k vecs (1024 cells) run {run}: "
              f"{time.time() - t0:.1f}s", flush=True)


if __name__ == "__main__":
    if "--ann" in sys.argv:
        measure_ann_miner_scale()
    else:
        main()
