"""ESPI as a first-class Spark data source: ``spark.read.format("espi")``.

Python Data Source API (Spark 4): the format encapsulates file listing
(driver-side metadata), per-file partition planning (one InputPartition
per XML file -> parse parallelism == file count), and the executor-side
parse — the same dataflow as source.read_espi, packaged so any Spark
user can scan Green Button feeds like parquet.  SURVEY §4 calls this
out as the one 'custom' piece the engine needs: a data-source concern,
not an optimizer concern.

Usage:
    from greenbuttonengine_spark.espi.datasource import register_espi_source
    register_espi_source(spark)
    df = spark.read.format("espi").load("/path/to/*.xml")
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .schemas import PARSED_SCHEMA

_FIELDS = [f.name for f in PARSED_SCHEMA.fields]


class EspiFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class EspiDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("espi source requires a path: .load('/dir/or/*.xml')")

    def partitions(self):  # driver-side listing only
        p = self.path
        if os.path.isdir(p):
            files = sorted(glob.glob(os.path.join(p, "**", "*.xml"), recursive=True))
        else:
            files = sorted(glob.glob(p))
        if not files:
            raise FileNotFoundError(f"no ESPI files match {p!r}")
        return [EspiFilePartition(f) for f in files]

    def read(self, partition: EspiFilePartition):  # executor-side parse
        # Streaming parse: a multi-GB file never materializes — neither
        # its bytes nor its DOM — only one <entry> subtree at a time.
        # A mid-file failure (bad byte, bad tag) streams an error row;
        # the file gets no denormalize dimension row, so the inner join
        # drops its partial rows.
        from .parser import iter_espi_stream

        with open(partition.path, encoding="utf-8") as fh:
            for row in iter_espi_stream(fh, partition.path):
                yield tuple(row.get(name) for name in _FIELDS)


class EspiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "espi"

    def schema(self):
        return PARSED_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return EspiDataSourceReader(self.options)


def register_espi_source(spark) -> None:
    """Register the 'espi' format (ships the package to executors first
    so the parser import resolves there)."""
    from .source import _ensure_package_shipped

    _ensure_package_shipped(spark)
    spark.dataSource.register(EspiDataSource)
