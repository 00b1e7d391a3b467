"""Format-pluggable sources/sinks.

The reference's IO surface is COPY FROM/TO with PostgreSQL's CSV dialect
plus its own columnar format (SURVEY §2.A A5/A6). The Spark engine
generalizes this: any supported format reads into a DataFrame and writes
from one, with the engine's Parquet layout as the native storage
(``cstore_fdw_spark.catalog``).

Formats: parquet (native), csv (PG COPY dialect defaults), json (lines),
orc. All reads are distributed scans; all writes go through Spark's
committer (atomic, like the reference's footer temp+rename).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cstore_fdw_spark.io import _read_csv, _write_csv

SUPPORTED_FORMATS = ("parquet", "csv", "json", "orc")


def _check_format(fmt: str) -> str:
    fmt = fmt.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(
            f"unsupported format '{fmt}'; supported: {SUPPORTED_FORMATS}")
    return fmt


def read_source(spark: SparkSession, path: str, fmt: str = "parquet",
                schema: T.StructType | str | None = None,
                **options: Any) -> DataFrame:
    """Read ``path`` in the given format. CSV is read in the PostgreSQL
    COPY dialect (``io._read_csv``: empty-unquoted NULLs, quoted "" as
    '', double-quote escapes, ±infinity dates), so reference data files
    load verbatim; its schema is inferred when none is given. JSON is
    newline-delimited."""
    fmt = _check_format(fmt)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if fmt == "csv":
        return _read_csv(spark, path, schema, options)
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        reader = reader.schema(schema)
    return getattr(reader, fmt)(path)


def write_sink(df: DataFrame, path: str, fmt: str = "parquet",
               mode: str = "overwrite", partition_by: list[str] | None = None,
               **options: Any) -> None:
    """Write a DataFrame to ``path`` in the given format (COPY TO
    generalized; CSV in the COPY dialect, ``io._write_csv``).
    ``partition_by`` produces hive-style partition dirs — the 100 TB
    layout lever the reference lacks entirely."""
    fmt = _check_format(fmt)
    if fmt == "csv":
        _write_csv(df, path, options, mode, partition_by)
        return
    writer = df.write.mode(mode).options(
        **{k: str(v) for k, v in options.items()})
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)
