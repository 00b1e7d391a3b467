"""Bulk load / export — COPY FROM / COPY TO parity.

The reference implements ``COPY table FROM 'file.csv'`` by driving
PostgreSQL's CSV parser into its stripe writer
(reference ``cstore_fdw.c:539-642``) and ``COPY table TO`` by rewriting to
``COPY (SELECT * FROM t) TO`` (reference ``cstore_fdw.c:651-707``).
Here both are declarative DataFrame reads/writes — distributed, no
driver-side row loop.

CSV dialect: PostgreSQL COPY CSV uses empty-unquoted as NULL, ``"`` quoting
with ``""`` escapes; we mirror that (SURVEY §7 hard-spot #4).
"""

from __future__ import annotations

import contextlib
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError

_PG_CSV_OPTS = {
    "header": "false",
    "quote": '"',
    "escape": '"',
    "nullValue": "",
    "emptyValue": "",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]",
    "dateFormat": "yyyy-MM-dd",
    # PG COPY errors on malformed input ('invalid input syntax for type
    # integer'); Spark's default PERMISSIVE mode would silently load NULL
    # instead. Callers can override with mode='PERMISSIVE' explicitly.
    "mode": "FAILFAST",
}

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


def _infinity_read_csv(spark: SparkSession, schema, path: str,
                       opts: dict[str, str]) -> DataFrame:
    """Read CSV against ``schema``, accepting PG's 'infinity'/'-infinity'
    in timestamp/date columns (mapped to the sentinel instants)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt_types = (T.TimestampType, T.TimestampNTZType, T.DateType)
    if not any(isinstance(f.dataType, dt_types) for f in schema.fields):
        return spark.read.options(**opts).schema(schema).csv(path)
    raw = T.StructType([
        T.StructField(f.name,
                      T.StringType() if isinstance(f.dataType, dt_types)
                      else f.dataType, True)
        for f in schema.fields])
    df = spark.read.options(**opts).schema(raw).csv(path)
    cols = []
    checks = []
    for f in schema.fields:
        if isinstance(f.dataType, dt_types):
            pinf, ninf = ((DATE_PINF, DATE_NINF)
                          if isinstance(f.dataType, T.DateType)
                          else (TIMESTAMP_PINF, TIMESTAMP_NINF))
            c = F.trim(F.col(f.name))
            mapped = (F.when(c == "infinity", F.lit(pinf))
                      .when(c == "-infinity", F.lit(ninf))
                      .otherwise(c).cast(f.dataType))
            cols.append(mapped.alias(f.name))
            # PG-strict: a non-null text that fails the datetime cast is
            # an error, not a silent NULL (datetime columns read as
            # strings for the ±infinity mapping, so FAILFAST can't see
            # them — validate the cast explicitly)
            checks.append((f.name, F.col(f.name).isNotNull()
                           & mapped.isNull()))
        else:
            cols.append(F.col(f.name))
    if str(opts.get("mode", "")).upper() == "FAILFAST" and checks:
        bad = df.filter(checks[0][1] if len(checks) == 1 else
                        __import__("functools").reduce(
                            lambda a, b: a | b, (c for _, c in checks)))
        # this eager probe also runs the FAILFAST scan of every OTHER
        # column — translate its malformed-row errors to the COPY
        # contract here, since the caller's translation wraps only the
        # insert action, not this validation
        try:
            row = bad.take(1)
        except Exception as exc:  # noqa: BLE001 — parse errors only
            msg = str(exc)
            if "Malformed" in msg or "FAILED_READ_FILE" in msg:
                raise CStoreError(
                    f'invalid input syntax in COPY source "{path}" '
                    "(malformed row rejected, PG COPY contract)") from exc
            raise
        if row:
            raise CStoreError(
                "invalid input syntax for timestamp/date column: "
                f"{row[0].asDict()}")
    return df.select(*cols)


def _infinity_write_projection(df: DataFrame) -> DataFrame:
    """Render timestamp/date columns as text with the sentinels printed
    back as 'infinity'/'-infinity' (PG's COPY TO output)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt_types = (T.TimestampType, T.TimestampNTZType, T.DateType)
    if not any(isinstance(f.dataType, dt_types) for f in df.schema.fields):
        return df
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, dt_types):
            pinf, ninf = ((DATE_PINF, DATE_NINF)
                          if isinstance(f.dataType, T.DateType)
                          else (TIMESTAMP_PINF, TIMESTAMP_NINF))
            c = F.col(f.name)
            cols.append(
                F.when(c == F.lit(pinf).cast(f.dataType), "infinity")
                .when(c == F.lit(ninf).cast(f.dataType), "-infinity")
                .otherwise(c.cast("string")).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def copy_from_csv(catalog: CStoreCatalog, table: str, path: str,
                  columns: list[str] | None = None,
                  **csv_options: Any) -> None:
    """A5: ``COPY table FROM path WITH CSV`` — bulk load into a managed table.

    ``columns`` supports COPY's column-list form (reference
    ``input/load.source:26-42``): the CSV supplies exactly those columns, in
    that order; unlisted table columns become NULL.
    """
    meta = catalog._load_meta(table)
    schema = meta.schema()
    opts = dict(_PG_CSV_OPTS)
    opts.update({k: str(v) for k, v in csv_options.items()})
    if columns is None:
        df = _infinity_read_csv(catalog.spark, schema, path, opts)
    else:
        from pyspark.sql import types as T
        sub = T.StructType([schema[c] for c in columns])
        df = _infinity_read_csv(catalog.spark, sub, path, opts)
        from pyspark.sql import functions as F
        for f_ in schema.fields:
            if f_.name not in columns:
                df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        df = df.select(*schema.fieldNames())
    try:
        catalog.insert(table, df)
    except Exception as exc:  # noqa: BLE001 — translate parse errors only
        msg = str(exc)
        if "Malformed" in msg or "FAILED_READ_FILE" in msg:
            raise CStoreError(
                f'invalid input syntax in COPY source "{path}" '
                "(malformed CSV record; pass mode='PERMISSIVE' to "
                "NULL-fill instead)") from exc
        raise


def copy_to_csv(catalog: CStoreCatalog, table_or_df: str | DataFrame,
                path: str, header: bool = False, **csv_options: Any) -> None:
    """A6: ``COPY table TO path`` / ``COPY (query) TO path``.

    Accepts a table name or an arbitrary DataFrame — matching the
    reference's rewrite of table form into query form
    (``cstore_fdw.c:651-707``).
    """
    df = (catalog.read(table_or_df) if isinstance(table_or_df, str)
          else table_or_df)
    opts = dict(_PG_CSV_OPTS)
    opts["header"] = str(header).lower()
    opts.update({k: str(v) for k, v in csv_options.items()})
    _infinity_write_projection(df).write.mode("overwrite") \
        .options(**opts).csv(path)


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
    import tempfile

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


def copy_from_program(catalog: CStoreCatalog, table: str, command: str,
                      columns: list[str] | None = None,
                      **csv_options: Any) -> None:
    """A5 (program form): ``COPY table FROM PROGRAM 'cmd'`` — run a
    producer command, ingest its stdout as CSV (reference
    ``input/load.source`` exercises program/STDIN pipes; the reference
    gates this behind superuser, ``cstore_fdw.c:481-505`` — here it is a
    plain utility).

    The program output is staged to a temp file and bulk-loaded with the
    same distributed CSV path as file loads.
    """
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(mode="wb", suffix=".csv",
                                     delete=False) as tmp:
        proc = subprocess.run(command, shell=True, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, check=False)
        if proc.returncode != 0:
            raise CStoreError(
                f"program failed (exit {proc.returncode}): "
                f"{proc.stderr.decode(errors='replace')[:500]}")
        tmp.write(proc.stdout)
        staged = tmp.name
    try:
        copy_from_csv(catalog, table, staged, columns=columns, **csv_options)
    finally:
        import os as _os
        _os.unlink(staged)


def copy_from_stdin(catalog: CStoreCatalog, table: str, stream,
                    columns: list[str] | None = None,
                    **csv_options: Any) -> None:
    """A5 (STDIN form): ``COPY table FROM STDIN WITH CSV`` — ingest CSV
    from any readable file object (the reference accepts the same pipe
    grammar, ``cstore_fdw.c:539-707``; ``input/load.source`` drives it
    through psql's \\copy). The stream is staged to a temp file so the
    distributed CSV reader parses it with the full COPY dialect."""
    import tempfile

    with tempfile.NamedTemporaryFile(mode="wb", suffix=".csv",
                                     delete=False) as tmp:
        data = stream.read()
        tmp.write(data.encode() if isinstance(data, str) else data)
        staged = tmp.name
    try:
        copy_from_csv(catalog, table, staged, columns=columns, **csv_options)
    finally:
        import os as _os
        _os.unlink(staged)


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
