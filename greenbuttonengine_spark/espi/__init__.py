"""The Green Button / ESPI pipeline: XML Atom feeds -> normalized tables
-> denormalized TimeSeries -> {csv, parquet, influx} sinks.

Spark-first layout (contrast with the reference's single-pass Rust loop,
lib/personalgreenbutton/src/lib.rs:32-233):

    parser    pure-Python per-file XML parse (runs inside mapInArrow)
    schemas   fixed StructTypes for the parse output + TimeSeries
    source    distributed file scan -> union-typed parse-output DataFrame
    enum_dim  XSD enum dictionary as literal SQL map text
    dst       DST/tz rule evaluation as SQL expression text
    pipeline  denormalize_and_link as one SQL statement per output: a
              star join on broadcast dimensions over the parse table
"""

__all__ = [
    "denormalize_and_link",
    "denormalize_with_errors",
    "timeseries_from_files",
]


def __getattr__(name: str):
    # Lazy re-exports (PEP 562): the pipeline module imports pyspark,
    # but the pure-Python submodules (parser, fastpath) must stay
    # importable without it — importing pyspark.sql alone takes about
    # 0.25 s, half of a whole fast-path CLI conversion of a year-long
    # export (about 0.5 s on a 4-core Xeon).
    if name in __all__:
        from . import pipeline

        return getattr(pipeline, name)
    raise AttributeError(name)
