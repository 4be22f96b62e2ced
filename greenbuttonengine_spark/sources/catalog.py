"""Catalog over the driver's synthetic star schema (TESTDATA.md).

Parquet scans here are the root of every declared query; keeping them as
plain ``spark.read.parquet`` calls means Catalyst's predicate pushdown,
column pruning and partition pruning all apply — verify with
``df.explain()`` (look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session settings every catalog read relies on.  ``get_spark`` builds
# sessions with them and ``__spark_entry__`` sets them on any session it
# is handed; ``load_table`` only checks them.
READ_CONFS = {
    # Some test parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    # reader rejects; read them as raw nanos longs instead (converted back
    # to timestamps in _normalize_nanos_timestamps).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamps are data, not wall clock; the DuckDB oracle is UTC-naive
    "spark.sql.session.timeZone": "UTC",
    # micros-precision parquet timestamps must read as TIMESTAMP_LTZ
    # (UTC session), not TIMESTAMP_NTZ: NTZ forbids cast-to-long, which
    # the epoch-arithmetic queries (sessionization, as-of, range join)
    # rely on, and LTZ@UTC renders identically to DuckDB's naive micros.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    for key, want in READ_CONFS.items():
        got = spark.conf.get(key)
        if got.lower() != want.lower():
            raise ValueError(
                f"load_table needs {key}={want}, the session has {got}: build "
                f"the session with get_spark or set the conf before reading"
            )
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_nanos_timestamps(df)


def _normalize_nanos_timestamps(df: DataFrame) -> DataFrame:
    """Convert nanos-as-long timestamp columns back to TimestampType.

    With ``nanosAsLong`` the NANOS columns surface as LongType; DuckDB (and
    our semantics) use microsecond timestamps, so integer-divide by 1000 —
    plain column arithmetic, stays in codegen.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out = df
    for f in df.schema.fields:
        if f.name in ("ts",) and isinstance(f.dataType, T.LongType):
            out = out.withColumn(f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # Files annotated isAdjustedToUTC=false surface as NTZ no
            # matter what inferTimestampNTZ says; NTZ forbids the
            # cast-to-long epoch arithmetic the sessionization/as-of
            # queries use (ANSI CANNOT_CAST). The session is pinned to
            # UTC, so NTZ -> LTZ keeps identical wall values.
            out = out.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return out


# Narrow logical nodes: a plan made only of these over file relations is
# "a scan" for spread_scan purposes — no exchange between the files and
# the consumer, so scan-task count IS the compute parallelism.
_NARROW_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "LogicalRelation"})


def _parquet_row_groups(path: str) -> int:
    """Row-group count from the parquet footer (pyarrow ships with
    PySpark's pandas/Arrow support).  Non-parquet or unreadable files
    report a huge count so the estimate falls back to byte-size splits
    (the conservative no-op direction)."""
    try:
        import pyarrow.parquet as pq

        return max(1, pq.ParquetFile(path).metadata.num_row_groups)
    except Exception:
        return 1 << 30


def _parse_bytes(v: str) -> int:
    s = str(v).strip().lower().removesuffix("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def spread_scan(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Round-robin-spread a narrow scan whose FILE LAYOUT caps task
    parallelism below the session's cores, ahead of heavy per-row
    compute (shingling, per-window hashing, vector math).

    The synthetic tables are single parquet files with ONE row group,
    so every scan is one task no matter what maxPartitionBytes says
    (a parquet split only yields rows to the range holding a row-group
    midpoint) — and everything upstream of the first Exchange runs on
    one core.  This is the optimization guide's input-skew case
    ("one huge unsplittable file: repartition immediately after the
    read").  Measured at sf0.1/local[32]: seeded MinHash signatures
    5.45s -> 1.75s, prefix-Jaccard 16.3s -> 11.8s.  It is applied ONLY
    by operators whose per-row work dominates the extra exchange —
    a cheap columnar scan + partial agg (q1-shape) measured SLOWER
    with it (0.64s -> 0.97s: the shuffle costs more than the scan).

    Scale-adaptive by construction, not a local[32] constant:

    * the estimate derives from the input files vs maxPartitionBytes
      and defaultParallelism — a cluster-scale input (many files /
      splittable sizes) estimates >= cores and the helper NO-OPS, so
      no extra shuffle is ever added where the scan already fans out;
    * non-scan plans (anything beyond Project/Filter over file
      relations — already downstream of an exchange, hence already
      parallel) NO-OP;
    * the spread itself is a keyless round-robin ``repartition(p)``:
      deterministic under retry (sort-before-repartition is on by
      default) and perfectly balanced regardless of key skew.
    """
    try:
        spark = df.sparkSession
        p = spark.sparkContext.defaultParallelism
        qe = df._jdf.queryExecution()
        stack, relations = [qe.analyzed()], 0
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name not in _NARROW_NODES:
                return df
            if name == "LogicalRelation":
                relations += 1
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        if relations != 1:
            return df
        files = df.inputFiles()
        if not files:
            return df
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        est_tasks = 0
        for uri in files:
            # Hadoop paths surface as file:/..., file:///... or bare
            # paths; urlparse handles every spelling (r16 ADVICE — the
            # prefix-strip form silently no-op'd on 'file:/root/...'),
            # and the URI is percent-encoded ('with%20space'), so it is
            # unquoted before it reaches the local filesystem
            parsed = urllib.parse.urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return df  # non-local storage: trust the planner's layout
            path = urllib.parse.unquote(parsed.path or uri)
            if not os.path.exists(path):
                return df
            # A parquet split only yields rows to the range holding a
            # row-group midpoint, so a file's task yield is bounded by
            # its ROW-GROUP count, not its byte size (r16 ADVICE: a
            # large single-row-group file previously estimated
            # size/maxPartitionBytes tasks and the helper silently
            # no-op'd on exactly the one-task pathology it targets).
            size_splits = max(1, -(-os.path.getsize(path) // max_pb))
            est_tasks += min(size_splits, _parquet_row_groups(path))
            if est_tasks * min_factor >= p:
                return df  # already parallel: read no more footers
        return df.repartition(p)
    except Exception:  # pragma: no cover - defensive: never break a query
        return df
