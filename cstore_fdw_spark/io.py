"""Bulk load / export — COPY FROM / COPY TO parity.

The reference implements ``COPY table FROM 'file.csv'`` by driving
PostgreSQL's CSV parser into its stripe writer
(reference ``cstore_fdw.c:539-642``) and ``COPY table TO`` by rewriting to
``COPY (SELECT * FROM t) TO`` (reference ``cstore_fdw.c:651-707``).
Here both are declarative DataFrame reads/writes — distributed, no
driver-side row loop.

CSV dialect (SURVEY §7 hard-spot #4): this module owns it, through one
reader (:func:`_read_csv`) and one writer (:func:`_write_csv`), which
every COPY form and ``sources.read_source``/``write_sink`` with
``fmt="csv"`` use. As in PostgreSQL COPY CSV, an unquoted empty field
is NULL, a quoted ``""`` is the empty string, ``"`` quotes with ``""``
escapes, the spaces around a value are kept, and a date/timestamp
column reads and writes ``infinity``/``-infinity`` as the sentinels
below. Embedded newlines need Spark's ``multiLine`` option, which
neither side sets.
"""

from __future__ import annotations

import contextlib
import os
import re
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError

_PG_CSV_OPTS = {
    "header": "false",
    "quote": '"',
    "escape": '"',
    "nullValue": "",
    # PG keeps the spaces around an unquoted value; Spark's CSV writer
    # trims them unless told not to
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]",
    "dateFormat": "yyyy-MM-dd",
    # PG COPY errors on malformed input ('invalid input syntax for type
    # integer'); Spark's default PERMISSIVE mode would silently load NULL
    # instead. Callers can override with mode='PERMISSIVE' explicitly.
    "mode": "FAILFAST",
}

#: what Spark's CSV reader yields for a quoted "" (its ``emptyValue``),
#: so that it stays apart from the unquoted empty field (``nullValue``,
#: NULL); string columns turn it back into '' and any other column
#: rejects it, as PG does. The writer prints '' as "".
_EMPTY_SENTINEL = "__CSTORE_EMPTY__"

# ---------------------------------------------------------------- infinity
# PostgreSQL's ±infinity date/timestamp values (exercised by the reference
# corpus: data/datetime_types.csv:2 via input/data_types.source:22-30) have
# no Parquet/Spark representation, so the engine adopts the documented
# SENTINEL policy (SURVEY §M2): ±infinity maps to the extreme storable
# instants below. Comparisons, MIN/MAX, and ORDER BY therefore behave like
# PG's (infinity sorts after every finite value, -infinity before) as long
# as real data stays inside year 2..9998 — the reference's own docs make
# the same "don't use year 9999" assumption for its skip-list min/max.
# COPY round-trips: 'infinity'/'-infinity' text parses to the sentinel on
# load and prints back as 'infinity'/'-infinity' on export.
TIMESTAMP_PINF = "9999-12-31 23:59:59.999999"
# one day above datetime.min: CPython's fromtimestamp() underflows to
# "year 0" at exactly 0001-01-01T00:00Z (and in any westward local zone),
# which would make driver-side collect() of a -infinity row crash
TIMESTAMP_NINF = "0001-01-02 00:00:00"
DATE_PINF = "9999-12-31"
DATE_NINF = "0001-01-01"


def _sentinels(dtype: T.DataType) -> tuple[str, str] | None:
    """The (+infinity, -infinity) sentinels of a date or timestamp
    type; None for any other type."""
    if isinstance(dtype, T.DateType):
        return DATE_PINF, DATE_NINF
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return TIMESTAMP_PINF, TIMESTAMP_NINF
    return None


def _read_csv(spark: SparkSession, path: str, schema: T.StructType | None,
              options: dict[str, Any]) -> DataFrame:
    """Read ``path`` in the COPY CSV dialect against ``schema`` (inferred
    from the file when None); ``options`` override the dialect's.

    Date/timestamp columns are read as text and cast in the plan, so
    that ``infinity``/``-infinity`` map to the sentinels; under FAILFAST
    a non-null text that fails the cast raises 'invalid input syntax'
    when the plan runs (PG-strict: an error, not a silent NULL)."""
    opts = {**_PG_CSV_OPTS, "emptyValue": _EMPTY_SENTINEL,
            **{k: str(v) for k, v in options.items()}}
    if schema is None:
        schema = spark.read.options(**opts, inferSchema="true") \
            .csv(path).schema
    raw = T.StructType([
        T.StructField(f.name, T.StringType() if _sentinels(f.dataType)
                      else f.dataType, True) for f in schema.fields])
    df = spark.read.options(**opts).schema(raw).csv(path)
    failfast = opts["mode"].upper() == "FAILFAST"
    cols = []
    for f, r in zip(schema.fields, raw.fields):
        c = F.col(f.name)
        if isinstance(r.dataType, T.StringType):
            c = F.when(c == _EMPTY_SENTINEL, F.lit("")).otherwise(c)
        inf = _sentinels(f.dataType)
        if inf is not None:
            text = F.trim(c)
            mapped = (F.when(text == "infinity", F.lit(inf[0]))
                      .when(text == "-infinity", F.lit(inf[1]))
                      .otherwise(text).cast(f.dataType))
            c = mapped if not failfast else F.when(
                c.isNotNull() & mapped.isNull(), F.raise_error(F.concat(
                    F.lit("invalid input syntax for type "
                          f'{f.dataType.simpleString()}: "'),
                    c, F.lit('"')))).otherwise(mapped)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def _write_csv(df: DataFrame, path: str, options: dict[str, Any],
               mode: str = "overwrite",
               partition_by: list[str] | None = None) -> None:
    """Write ``df`` to ``path`` in the COPY CSV dialect; ``options``
    override the dialect's. NULL is an unquoted empty field, '' is
    ``""``, the spaces around a string are kept, and the date/timestamp
    sentinels print as ``infinity``/``-infinity`` (PG's COPY TO
    output)."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        inf = _sentinels(f.dataType)
        if inf is not None:
            c = (F.when(c == F.lit(inf[0]).cast(f.dataType), "infinity")
                 .when(c == F.lit(inf[1]).cast(f.dataType), "-infinity")
                 .otherwise(c.cast("string")))
        cols.append(c.alias(f.name))
    writer = df.select(*cols).write.mode(mode).options(
        **{**_PG_CSV_OPTS, "emptyValue": '""',
           **{k: str(v) for k, v in options.items()}})
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.csv(path)


def copy_from_csv(catalog: CStoreCatalog, table: str, path: str,
                  columns: list[str] | None = None,
                  **csv_options: Any) -> None:
    """A5: ``COPY table FROM path WITH CSV`` — bulk load into a managed table.

    ``columns`` supports COPY's column-list form (reference
    ``input/load.source:26-42``): the CSV supplies exactly those columns, in
    that order; unlisted table columns become NULL.
    """
    schema = catalog._load_meta(table).schema()
    df = _read_csv(catalog.spark, path, schema if columns is None else
                   T.StructType([schema[c] for c in columns]), csv_options)
    if columns is not None:
        df = df.select(*(F.col(f.name) if f.name in columns
                         else F.lit(None).cast(f.dataType).alias(f.name)
                         for f in schema.fields))
    try:
        catalog.insert(table, df)
    except Exception as exc:  # noqa: BLE001 — translate parse errors only
        # Spark's FAILFAST parse errors and _read_csv's datetime check
        # become PG's COPY error
        msg = str(exc)
        if not any(m in msg for m in ("Malformed", "FAILED_READ_FILE",
                                      "invalid input syntax")):
            raise
        found = re.search(r'invalid input syntax for type [^:]+: "[^\n]*?"',
                          msg)
        detail = (found.group(0) if found else
                  "invalid input syntax (malformed CSV record; pass "
                  "mode='PERMISSIVE' to NULL-fill instead)")
        raise CStoreError(f'{detail} in COPY source "{path}"') from exc


def copy_to_csv(catalog: CStoreCatalog, table_or_df: str | DataFrame,
                path: str, header: bool = False, **csv_options: Any) -> None:
    """A6: ``COPY table TO path`` / ``COPY (query) TO path``.

    Accepts a table name or an arbitrary DataFrame — matching the
    reference's rewrite of table form into query form
    (``cstore_fdw.c:651-707``).
    """
    df = (catalog.read(table_or_df) if isinstance(table_or_df, str)
          else table_or_df)
    _write_csv(df, path, {"header": header, **csv_options})


def insert_into_select(catalog: CStoreCatalog, table: str, query: str,
                       spark: SparkSession | None = None) -> None:
    """A7: ``INSERT INTO table SELECT ...`` — the reference's only supported
    DML form (``cstore_fdw.c:2269-2306``). The SELECT runs against whatever
    temp views are registered on the session."""
    spark = spark or catalog.spark
    catalog.insert(table, spark.sql(query))


def copy_to_program(catalog: CStoreCatalog, table_or_df: str | DataFrame,
                    command: str, **csv_options: Any) -> int:
    """A6 (program form): ``COPY table TO PROGRAM 'cmd'`` — export the
    table (or query DataFrame) as CSV into a consumer command's stdin,
    the symmetric twin of :func:`copy_from_program` (the reference
    delegates the full COPY grammar including TO PROGRAM,
    ``cstore_fdw.c:651-707``). Returns the program's exit code (0; a
    failing program raises).

    The export is staged through the distributed CSV writer, then
    streams into the program (:func:`_staged_csv`)."""
    import subprocess
    import threading

    with _staged_csv(catalog, table_or_df, csv_options) as chunks:
        proc = subprocess.Popen(command, shell=True,
                                stdin=subprocess.PIPE,
                                stderr=subprocess.PIPE)
        assert proc.stdin is not None and proc.stderr is not None
        # Drain stderr concurrently: a consumer that emits >64KB of
        # stderr mid-stream would otherwise fill the pipe and deadlock
        # against our blocked stdin.write.
        stderr_chunks: list[bytes] = []
        drain = threading.Thread(
            target=lambda: stderr_chunks.append(proc.stderr.read()))
        drain.start()
        try:
            for chunk in chunks:
                proc.stdin.write(chunk)
            proc.stdin.close()
        except BrokenPipeError:
            # Early-exiting consumer (e.g. `head`) — not an error unless
            # the program itself reports failure below.
            try:
                proc.stdin.close()
            except BrokenPipeError:
                pass
        drain.join()
        stderr = b"".join(stderr_chunks)
        if proc.wait() != 0:
            raise CStoreError(
                f"program failed (exit {proc.returncode}): "
                f"{stderr.decode(errors='replace')[:500]}")
    return 0


@contextlib.contextmanager
def _staged_csv(catalog: CStoreCatalog, table_or_df: str | DataFrame,
                csv_options: dict[str, Any]):
    """Stage a :func:`copy_to_csv` export in a temporary directory and
    yield its bytes as one stream: part files in deterministic (sorted)
    name order, 1 MiB chunks. The CSV writer puts the header line at the
    top of every part file, so with ``header`` only the first is kept."""
    import glob

    header = str(csv_options.get("header", False)).lower() == "true"

    def chunks(parts):
        headed = False
        for part in parts:
            with open(part, "rb") as f:
                if header:
                    line = f.readline()
                    if not headed:
                        yield line
                    headed = headed or bool(line)
                while chunk := f.read(1 << 20):
                    yield chunk

    with tempfile.TemporaryDirectory() as staged:
        out_dir = f"{staged}/out"
        copy_to_csv(catalog, table_or_df, out_dir, **csv_options)
        yield chunks(sorted(glob.glob(f"{out_dir}/part-*")))


@contextlib.contextmanager
def _staged_input(data: bytes | str):
    """Stage COPY FROM input (a program's output, a stream's contents)
    in a temporary file and yield its path, so the distributed CSV
    reader parses it like a file load."""
    with tempfile.TemporaryDirectory() as staged:
        path = os.path.join(staged, "input.csv")
        with open(path, "wb") as f:
            f.write(data.encode() if isinstance(data, str) else data)
        yield path


def copy_from_program(catalog: CStoreCatalog, table: str, command: str,
                      columns: list[str] | None = None,
                      **csv_options: Any) -> None:
    """A5 (program form): ``COPY table FROM PROGRAM 'cmd'`` — run a
    producer command, ingest its stdout as CSV (reference
    ``input/load.source`` exercises program/STDIN pipes; the reference
    gates this behind superuser, ``cstore_fdw.c:481-505`` — here it is a
    plain utility).

    The program output is staged (:func:`_staged_input`) and bulk-loaded
    with the same distributed CSV path as file loads.
    """
    import subprocess

    proc = subprocess.run(command, shell=True, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, check=False)
    if proc.returncode != 0:
        raise CStoreError(
            f"program failed (exit {proc.returncode}): "
            f"{proc.stderr.decode(errors='replace')[:500]}")
    with _staged_input(proc.stdout) as staged:
        copy_from_csv(catalog, table, staged, columns=columns, **csv_options)


def copy_from_stdin(catalog: CStoreCatalog, table: str, stream,
                    columns: list[str] | None = None,
                    **csv_options: Any) -> None:
    """A5 (STDIN form): ``COPY table FROM STDIN WITH CSV`` — ingest CSV
    from any readable file object (the reference accepts the same pipe
    grammar, ``cstore_fdw.c:539-707``; ``input/load.source`` drives it
    through psql's \\copy). The stream is staged (:func:`_staged_input`)
    so the distributed CSV reader parses it with the full COPY dialect."""
    with _staged_input(stream.read()) as staged:
        copy_from_csv(catalog, table, staged, columns=columns, **csv_options)


def copy_to_stdout(catalog: CStoreCatalog, table_or_df: str | DataFrame,
                   stream, header: bool = False,
                   **csv_options: Any) -> int:
    """A6 (STDOUT form): ``COPY table TO STDOUT WITH CSV`` — export the
    table (or query DataFrame) as CSV into any writable file object,
    the symmetric twin of :func:`copy_from_stdin`. Returns the number of
    bytes written. The export streams as :func:`_staged_csv` lays it
    out; the writer handles binary and text streams alike."""
    wants_bytes = not hasattr(stream, "encoding")
    written = 0
    with _staged_csv(catalog, table_or_df,
                     {**csv_options, "header": header}) as chunks:
        for chunk in chunks:
            stream.write(chunk if wants_bytes else chunk.decode())
            written += len(chunk)
    return written
