"""SparkSession construction tuned for this engine.

Local testing runs on local[N]; the same settings are what we would ship
on a 1000-executor cluster:

* AQE on (runtime coalescing, skew-join splitting) so the shuffle
  partition count self-tunes at 100 TB.
* session timezone pinned to UTC — timestamps are data, never wall
  clock (and the DuckDB oracle is UTC-naive).
* Arrow enabled for every pandas exchange (the XML parse stage and the
  multimodal UDFs are the only Python-side hops).
* the package ships to the Python workers once, at session start
  (``shipping.ensure_package_shipped``), so every Python stage runs
  wherever the driver started.
* shuffle partitions default to cores locally; on a real cluster AQE
  coalesces from a high initial number, so we leave the knob exposed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .shipping import ensure_package_shipped


def get_spark(
    app_name: str = "greenbuttonengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark
