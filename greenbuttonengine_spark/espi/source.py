"""Distributed ESPI file source.

``spark.read.format('binaryFile')`` lists and splits the file set
across executors; the per-file parse runs inside ``mapInArrow``: each
Arrow batch of (path, content) rows becomes one Arrow batch of
union-typed rows per PARSED_SCHEMA, built column by column from the
parser's row dicts.  One parse pass feeds all four normalized tables:
the pipeline's SQL statements read them off this one table by
``row_kind`` (schemas.KIND_*), in their CTEs.  A file never spans two
tasks, so the parser links its entries here too (J1/J2, per file, as
the reference's href index): entry rows leave the task with their
reading-type codes and reading span, and the pipeline needs no join
on hrefs.  The reference parses each file once too (lib.rs:192-233),
but single-threaded.

At 100 TB scale: file listing is driver-side metadata only; parse
parallelism = number of files (fine for many small provider exports —
the expected shape of Green Button data).  Column pruning below the
parse is manual (the parser only emits the §1.1 fields, mirroring the
reference's 9-of-20 ReadingType pruning).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .parser import parse_espi_feed
from .schemas import PARSED_SCHEMA


def _parse_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(PARSED_SCHEMA)
    for batch in batches:
        rows: list[dict] = []
        for path, content in zip(
            batch.column("path").to_pylist(), batch.column("content").to_pylist()
        ):
            try:
                text = content.decode("utf-8")
            except UnicodeDecodeError as ex:  # S2: bad encoding is a per-file error
                rows.append(
                    {
                        "row_kind": "error",
                        "source_file": path,
                        "error": f"UnicodeDecodeError: {ex}",
                    }
                )
                continue
            rows.extend(parse_espi_feed(text, path))
        # one pass over the row dicts fills every column; a row leaves
        # the columns of the other row kinds NULL
        cols = {f.name: [None] * len(rows) for f in schema}
        for i, row in enumerate(rows):
            for name, value in row.items():
                cols[name][i] = value
        # from_pandas: the parser's NaN cost sentinel becomes NULL (the
        # pipeline restores NaN after the joins)
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], f.type, from_pandas=True) for f in schema],
            schema=schema,
        )


def read_espi(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """paths (glob/dir/list) -> union-typed parsed DataFrame."""
    raw = spark.read.format("binaryFile").load(paths).select("path", "content")
    return raw.mapInArrow(_parse_batches, schema=PARSED_SCHEMA)

