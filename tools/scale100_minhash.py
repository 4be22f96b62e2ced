"""100x spill audit for dedup_minhash_lsh (r9 VERDICT item 8).

Builds 100 BIJECTIVE-substitution replicas of the sf0.1 documents
table (500k docs): per replica k, lowercase letters rotate by k%26 and
one frequent-letter pair (chosen by k//26) swaps — 104 distinct
permutations, so within-replica similarity structure is preserved
exactly while cross-replica doc Jaccard stays far below the 0.8
threshold (a letter-only shingle avoiding both swapped letters has
probability ~(0.75)^8, so same-rotation replica pairs estimate ~0.1
agreement — no phantom pairs; see the SCALING.md round-5 protocol
lesson on why verbatim or token-prefix replicas are traps for CHAR
shingles).

Times minhash_lsh_pairs(seeded=True) warm (2 runs) and reports per-run wall
plus executor shuffle/spill totals from the Spark UI REST API.

Usage: python tools/scale100_minhash.py [n_replicas] [shuffle_partitions]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from functools import reduce
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.1"
OUT = Path("/tmp/scale100_minhash")

_AL = "abcdefghijklmnopqrstuvwxyz"
_SWAPS = [("e", "t"), ("a", "o"), ("i", "n"), ("s", "h")]


def _perm(k: int) -> str:
    rot = k % 26
    a, b = _SWAPS[(k // 26) % len(_SWAPS)]
    out = [_AL[(i + rot) % 26] for i in range(26)]
    ia, ib = out.index(a), out.index(b)
    out[ia], out[ib] = out[ib], out[ia]
    return "".join(out)


def build(spark, n: int) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(k * n_docs)).alias("doc_id"),
            F.translate(F.col("text"), _AL, _perm(k)).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for k in range(n)
    ]
    big = reduce(lambda a, b: a.unionByName(b), parts)
    big.repartition(64).write.mode("overwrite").parquet(str(OUT / "documents.parquet"))


def _spill_totals(ui_port: int = 4040) -> dict:
    url = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(url, timeout=5))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{url}/{app_id}/stages?status=complete", timeout=10)
    )
    return {
        "memoryBytesSpilled": sum(s.get("memoryBytesSpilled", 0) for s in stages),
        "diskBytesSpilled": sum(s.get("diskBytesSpilled", 0) for s in stages),
        "shuffleWriteBytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "n_stages": len(stages),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    shuffle_parts = int(sys.argv[2]) if len(sys.argv) > 2 else None

    from greenbuttonengine_spark.extensions import dedup
    from greenbuttonengine_spark.session import get_spark

    kwargs = {"extra_conf": {"spark.ui.enabled": "true"}}
    if shuffle_parts:
        kwargs["shuffle_partitions"] = shuffle_parts
    spark = get_spark(app_name="scale100-minhash", **kwargs)
    spark.sparkContext.setLogLevel("ERROR")

    if not (OUT / "documents.parquet").exists():
        t0 = time.time()
        build(spark, n)
        print(f"built {n} replicas in {time.time() - t0:.1f}s", flush=True)

    docs = spark.read.parquet(str(OUT / "documents.parquet"))
    print(f"corpus rows: {docs.count()}", flush=True)

    walls = []
    for run in range(2):
        t0 = time.time()
        cnt = dedup.minhash_lsh_pairs(docs, threshold=0.8, seeded=True).count()
        walls.append(round(time.time() - t0, 1))
        print(f"run {run}: {walls[-1]}s, {cnt} pairs", flush=True)
    try:
        spill = _spill_totals()
    except Exception as exc:  # UI may be on another port
        spill = {"error": str(exc)}
    print(json.dumps({
        "op": "dedup_minhash_lsh(seeded)", "replicas": n,
        "shuffle_partitions": shuffle_parts or "default",
        "wall_cold": walls[0], "wall_warm": walls[1], **spill,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
