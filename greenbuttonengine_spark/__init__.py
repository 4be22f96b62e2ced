"""greenbuttonengine_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of tdresser/greenbuttonengine.

The reference engine (SURVEY.md) is a single-threaded Rust pipeline:
ESPI Green Button XML -> 4 normalized columnar tables ->
join/denormalize -> derived projection -> sort/chunk -> {csv, parquet,
influx line protocol}.  This package re-expresses every operator in that
dataflow as first-class Spark DataFrame operations, designed for a
multi-executor cluster (broadcast dims, shuffle-free single-file path,
partitioned sinks), and extends the engine with the operators a
large-scale training-data pipeline needs (dedup, similarity search,
text analysis, multimodal columns).

Layout:
    session      SparkSession builder tuned for the workload
    shipping     ships this package to executor Python workers
    cli          gbcli batch conversion (driver-only fast path + Spark)
    sources      table catalog (+ spread_scan)
    espi         the Green Button pipeline (schemas, parse, denormalize,
                 driver-only fast path)
    plans        the declared query inventory and its DuckDB oracles
    sinks        csv / parquet / influx writers and charts
    extensions   dedup, similarity, text stats, multimodal, quality,
                 sampling and other corpus operators
    streaming    incremental ingest, bronze store, per-batch admission,
                 CDC and view merges (Structured Streaming)
"""

__version__ = "0.1.0"
