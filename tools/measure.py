"""Time declared queries: the one measurement loop for the query inventory.

Usage: python tools/measure.py [--sf DIR] [--trials N]
                               [--corpus NAME --replicas K] QUERY...

For each query, after one warm-up scan of every table, run N trials
(``bench.time_trials``): each rebuilds the DataFrame from scratch (the
build: driver-side plan construction, including jobs the builder runs
itself) and executes it to the noop sink (the exec).  Prints one JSON
line per query with the per-trial build and exec seconds and their warm
medians.  The first trial of a fresh session carries JVM/Catalyst
warm-up, so it is excluded from the medians when N > 1.  Run on an idle
machine.

``--corpus`` measures at scale on perturbed replicas of the ``--sf``
tables (default sf0.1).  Each recipe writes K replicas of the tables it
perturbs, with fresh ids, under
``/tmp/measure_<NAME>_<sf dir name>_x<K>`` (built once, reused while it
exists) and links the other tables unchanged, so the directory is
sf-shaped and any declared query runs on it by name:

* ``words``: token-prefix documents (``"r<k> " + text``) and
  element-perturbed embeddings, for word-level and vector operators;
* ``chars``: bijective-letter-substitution documents, for
  character-shingle operators;
* ``events``: events with offset event ids, user ids and values, so
  per-user fan-out stays that of the source.

Replicas must never be bit-identical: a dedup or similarity operator
collapses verbatim copies for free, and the measurement then reads a
workload that does not exist.  Token-prefix replicas are the same trap
for character shingles, which is why ``chars`` exists (SCALING.md,
round 5).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from functools import reduce
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import time_trials, warm_tables  # noqa: E402

_AL = "abcdefghijklmnopqrstuvwxyz"
_SWAPS = [("e", "t"), ("a", "o"), ("i", "n"), ("s", "h")]


def _perm(k: int) -> str:
    """Letter substitution of replica ``k``: rotate by ``k % 26`` and swap
    one frequent-letter pair chosen by ``k // 26`` (104 distinct
    bijections).  Within-replica similarity structure is preserved
    exactly while cross-replica Jaccard stays far below dedup
    thresholds."""
    rot = k % 26
    a, b = _SWAPS[(k // 26) % len(_SWAPS)]
    out = [_AL[(i + rot) % 26] for i in range(26)]
    ia, ib = out.index(a), out.index(b)
    out[ia], out[ib] = out[ib], out[ia]
    return "".join(out)


def _replicas(spark, k: int):
    from pyspark.sql import functions as F

    return F.broadcast(spark.range(k).withColumnRenamed("id", "k"))


def words(spark, src: str, out: str, k: int) -> None:
    """Token-prefix documents and element-perturbed embeddings."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.count()
    docs.crossJoin(_replicas(spark, k)).select(
        (F.col("doc_id") + F.col("k") * n_docs).alias("doc_id"),
        F.concat(F.format_string("r%d ", "k"), "text").alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 3).alias("n_chars"),
    ).repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_emb = emb.count()
    # replica k shifts every element by k * 1e-5: a distinct vector per
    # replica (float32 resolves 1e-5 at the |u| < 1 of these unit-scale
    # embeddings), and under 1e-3 up to 100 replicas
    emb.crossJoin(_replicas(spark, k)).select(
        (F.col("vec_id") + F.col("k") * n_emb).alias("vec_id"),
        F.expr(
            "transform(embedding, (u, i) -> u + CAST(k AS FLOAT) / 100000.0F)"
        ).alias("embedding"),
        "label",
    ).repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def chars(spark, src: str, out: str, k: int) -> None:
    """Bijective-substitution documents (one letter permutation per replica)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.count()
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(r * n_docs)).alias("doc_id"),
            F.translate(F.col("text"), _AL, _perm(r)).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for r in range(k)
    ]
    reduce(lambda a, b: a.unionByName(b), parts).repartition(64).write.mode(
        "overwrite"
    ).parquet(f"{out}/documents.parquet")


def events(spark, src: str, out: str, k: int) -> None:
    """Offset-replicated events: fresh event and user ids per replica."""
    from pyspark.sql import functions as F

    # read raw, so ts stays as stored and the catalog normalizes it on load
    ev = spark.read.parquet(f"{src}/events.parquet")
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1
    ev.crossJoin(_replicas(spark, k)).select(
        (F.col("event_id") + F.col("k") * n_ev).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("k") * n_users).alias("user_id"),
        "event_type",
        (F.col("value") + F.col("k").cast("double") / 1000.0).alias("value"),
        "props",
    ).repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")


CORPORA = {"words": words, "chars": chars, "events": events}


def corpus(spark, name: str, src: str, k: int) -> str:
    """The sf-shaped directory of corpus ``name`` at ``k`` replicas of
    ``src``, built if it is missing."""
    from greenbuttonengine_spark.sources.catalog import TABLES

    src = str(Path(src).resolve())
    out = Path("/tmp") / f"measure_{name}_{Path(src).name}_x{k}"
    if not out.is_dir():
        part = out.with_name(out.name + ".part")
        shutil.rmtree(part, ignore_errors=True)
        CORPORA[name](spark, src, str(part), k)
        for t in TABLES:
            if not (part / f"{t}.parquet").exists():
                os.symlink(f"{src}/{t}.parquet", part / f"{t}.parquet")
        part.rename(out)
    return str(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1",
                    help="sf directory to run on, or to replicate with --corpus")
    ap.add_argument("--trials", type=int, default=4)
    ap.add_argument("--corpus", choices=sorted(CORPORA))
    ap.add_argument("--replicas", type=int,
                    help="replica count for --corpus (default 100)")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    if args.replicas is not None and not args.corpus:
        ap.error("--replicas needs --corpus")
    if args.trials < 1:
        ap.error("--trials must be at least 1")

    import __spark_entry__ as e
    from greenbuttonengine_spark.session import get_spark

    qs = e.queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf
    if args.corpus:
        sf_dir = corpus(spark, args.corpus, args.sf, args.replicas or 100)
    warm_tables(spark, sf_dir)
    for name in args.queries:
        trials = time_trials(spark, qs[name], sf_dir, args.trials)
        warm = trials[1:] or trials
        print(json.dumps({
            "query": name,
            "sf": sf_dir,
            "build_s": [round(b, 3) for b, _ in trials],
            "exec_s": [round(x, 3) for _, x in trials],
            "build_median_s": round(statistics.median(b for b, _ in warm), 3),
            "exec_median_s": round(statistics.median(x for _, x in warm), 3),
            "total_median_s": round(statistics.median(b + x for b, x in warm), 3),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
