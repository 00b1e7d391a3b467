"""Spark Python DataSource for the cstore v1.7 format: full read/write
integration of :mod:`cstore_fdw_spark.sources.cstore_format`.

- ``spark.dataSource.register(CStoreDataSource)`` then
  ``spark.read.format("cstore").schema(ddl).load(path)`` /
  ``df.write.format("cstore").save(path)``. ``load([file, ...])``
  reads exactly those files in one scan; a directory is listed when
  the query runs.
- The catalog reads through this source but does not write through
  it: a cstore table's stage runs :meth:`CStoreWriter.write` inside
  one ``mapInArrow`` (``catalog._stage_cstore``), and each task
  returns the file it wrote, so the stage keeps only reported files
  and starts no data-source write or commit worker.
- A schema is REQUIRED on read: like the reference (CREATE FOREIGN
  TABLE declares columns; the binary format stores no names/types —
  cstore_fdw.h:55, README.md:197-213), the file is schema-on-read.
- Scan parallelism is per (file, stripe) — the reference's unit of IO
  (`StripeMetadata`), so a directory of part files scans
  partition-parallel exactly like any Spark source.
- ``pushFilters`` keeps range/equality predicates for BLOCK SKIPPING
  against the skip-list min/max (`ColumnBlockSkipNode`,
  cstore_reader.c block filtering) and declares every filter
  unsupported, so Spark still re-evaluates them above the scan — the
  reference does the same ("we just put all of the scanClauses into
  the plan node's qual list", cstore_fdw.c:1743-1750): skipping is an
  IO optimization, never a correctness gate.
"""
from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader, EqualTo,
    GreaterThan, GreaterThanOrEqual, InputPartition, LessThan,
    LessThanOrEqual, WriterCommitMessage)
from pyspark.sql.types import StructType

from cstore_fdw_spark.fsutil import _file_epoch
from cstore_fdw_spark.sources.cstore_format import (
    read_footer, read_stripe_batches)

_SPARK_TO_CSTORE = {
    "boolean": "boolean",
    "short": "smallint",
    "integer": "integer",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "string": "string",
    "binary": "bytea",
}


def spark_type_to_cstore(dt) -> str:
    """Spark DataType (or typeName string) -> cstore codec type name;
    ``decimal(p,s)`` maps to PG numeric (DecimalType.typeName() is the
    bare ``decimal`` — the precision/scale live in simpleString()).
    Raises the loud unsupported-type error otherwise."""
    if not isinstance(dt, str):
        name = dt.typeName()
        if name == "array":
            # 1-D PG array of any supported element (incl. decimal)
            return f"array<{spark_type_to_cstore(dt.elementType)}>"
        dt = dt.simpleString() if name == "decimal" else name
    if dt in _SPARK_TO_CSTORE:
        return _SPARK_TO_CSTORE[dt]
    if dt.startswith("decimal(") or dt.startswith("array<"):
        return dt
    raise ValueError(
        f"cstore source does not support column type {dt!r}; "
        f"supported: {sorted(_SPARK_TO_CSTORE)} + decimal(p,s) + "
        "array<elem>")


def _type_names(schema: StructType) -> list[str]:
    names = []
    for f in schema.fields:
        try:
            names.append(spark_type_to_cstore(f.dataType))
        except ValueError as exc:
            raise ValueError(f"{exc} (column {f.name!r})") from None
    return names


def _data_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".cstore"))
    return [path]


class _StripePartition(InputPartition):
    def __init__(self, file: str, stripe: tuple):
        self.file = file
        self.stripe = stripe


EPOCH_COL = "__cstore_epoch"


class CStoreReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema_ = schema
        # load([a, b]) hands a python data source its files as the JSON
        # list ``paths``; one file or directory still arrives as ``path``
        paths = options.get("paths")
        self.paths = json.loads(paths) if paths else [options.get("path")]
        if not all(self.paths):
            raise ValueError("cstore source requires a path")
        # with_epoch: the catalog's schema-evolution projection needs
        # each row's source-file epoch, and input_file_name() is empty
        # for python data sources — so the reader itself emits it as a
        # trailing constant column (the schema's LAST field, EPOCH_COL)
        self.with_epoch = (str(options.get("with_epoch", "false")).lower()
                           == "true")
        data_fields = (schema.fields[:-1] if self.with_epoch
                       else schema.fields)
        if self.with_epoch and schema.fields[-1].name != EPOCH_COL:
            raise ValueError(
                f"with_epoch reads must put {EPOCH_COL} last in the "
                "schema")
        self.type_names = _type_names(StructType(data_fields))
        self.col_idx = {f.name: i for i, f in enumerate(data_fields)}
        # column_positions: "0,3,5" — the PHYSICAL file column backing
        # each schema data field, enabling projection pushdown on this
        # nameless positional format (the reference's A2 ColumnList,
        # cstore_fdw.c:1841-1941): unlisted physical columns' buffers
        # are never read. Spark's python DataSource API has no pruning
        # pushdown, so the projection arrives as a reader option (the
        # catalog passes it for read(columns=...)).
        cp = options.get("column_positions")
        self.positions = None
        if cp:
            self.positions = [int(x) for x in str(cp).split(",")]
            if len(self.positions) != len(data_fields):
                raise ValueError(
                    f"column_positions has {len(self.positions)} "
                    f"entries for {len(data_fields)} schema columns")
            bad = [p for p in self.positions if p < 0]
            if bad:
                # a negative position would silently index byte spans
                # from the END of the skip/value tables — garbage rows,
                # not an error
                raise ValueError(
                    f"column_positions must be non-negative: {bad}")
        #: per-column [(op, value), ...] retained for block skipping
        self.ranges: dict[int, list] = {}

    def pushFilters(self, filters):
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if (col in self.col_idx
                    and self.type_names[self.col_idx[col]] != "string"
                    and isinstance(
                        f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                            LessThan, LessThanOrEqual))):
                # NEVER prune on text min/max: the reference stores them
                # under the COLUMN'S collation (UpdateBlockSkipNodeMinMax
                # compares via the collation's btree proc — the da_DK
                # regression in input/block_filtering.source:62-71 exists
                # precisely because 'aa' sorts after 'z' there), and a
                # foreign file's collation is unknowable here; bytewise
                # pruning against collated bounds would drop valid rows.
                # Numeric/date/timestamp bounds are collation-free.
                self.ranges.setdefault(self.col_idx[col], []).append(
                    (type(f).__name__, f.value))
            # every filter is re-evaluated by Spark (reference parity:
            # skip-list pruning is IO-only)
            yield f

    def _block_pred(self):
        if not self.ranges:
            return None
        ranges = self.ranges

        def pred(col, lo, hi):
            for op, v in ranges.get(col, ()):  # noqa: B023 — bound once
                if lo != lo or hi != hi or v != v:
                    # NaN sorts above every number in Spark (and in the
                    # writer's bounds), but compares False both ways in
                    # Python — never refute on it
                    continue
                try:
                    if op == "EqualTo" and not (lo <= v <= hi):
                        return False
                    if op == "GreaterThan" and not hi > v:
                        return False
                    if op == "GreaterThanOrEqual" and not hi >= v:
                        return False
                    if op == "LessThan" and not lo < v:
                        return False
                    if op == "LessThanOrEqual" and not lo <= v:
                        return False
                except TypeError:
                    return True  # incomparable -> never skip
            return True

        return pred

    def partitions(self):
        parts = []
        for p in self.paths:
            for f in _data_files(p):
                _brc, stripes = read_footer(f)
                parts.extend(_StripePartition(f, s) for s in stripes)
        return parts or [_StripePartition("", None)]

    def read(self, partition):
        if not partition.file:
            return
        # Arrow batches, one per block: fixed-width columns decode as a
        # single numpy frombuffer + scatter (no per-datum Python), so
        # the slow path is only the varlena text walk
        import pyarrow as pa

        names = [f.name for f in self.schema_.fields]
        data_names = names[:-1] if self.with_epoch else names
        epoch = _file_epoch(partition.file)
        with open(partition.file, "rb") as fh:
            for batch in read_stripe_batches(
                    fh, partition.stripe, self.type_names, data_names,
                    block_pred=self._block_pred(),
                    positions=self.positions):
                if self.with_epoch:
                    n = batch.num_rows
                    batch = pa.RecordBatch.from_arrays(
                        list(batch.columns)
                        + [pa.array([epoch] * n, type=pa.int64())],
                        names=names)
                yield batch


@dataclass
class CStoreCommitMessage(WriterCommitMessage):
    """What one :meth:`CStoreWriter.write` call wrote: the data file's
    name inside the writer's directory (its ``.footer`` sidecar sits
    next to it), or None for an empty partition."""
    file: str | None


class CStoreWriter(DataSourceArrowWriter):
    """Arrow-batched sink: per partition, incoming RecordBatches stream
    through the vectorized stripe writer — at most ONE stripe
    (stripe_row_count rows) is ever buffered before its bytes hit disk,
    the reference's own flush discipline (cstore_writer.c:493 flushes
    per stripe; it never materializes the table). Incoming batches are
    sliced so the accumulator NEVER exceeds stripe_row_count
    (``peak_buffered_rows`` records the high-water mark, asserted in
    tests/test_cstore_format.py). Output is byte-identical to the
    collect-then-write path at the same stripe boundaries
    (differential-tested)."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cstore sink requires a path")
        self.type_names = _type_names(schema)
        self.stripe_rows = int(options.get("stripe_row_count", 150000))
        self.block_rows = int(options.get("block_row_count", 10000))
        self.compression = options.get("compression", "pglz")
        os.makedirs(self.path, exist_ok=True)
        if overwrite:
            for f in os.listdir(self.path):
                if f.endswith((".cstore", ".footer")):
                    os.remove(os.path.join(self.path, f))

    def write(self, iterator):
        import pyarrow as pa

        from cstore_fdw_spark.sources.cstore_format import (
            CStoreFileWriter)

        writer = None
        name = None
        buf: list = []
        buffered = 0
        self.peak_buffered_rows = 0

        def flush():
            nonlocal writer, name, buf, buffered
            if not buffered:
                return
            if writer is None:
                name = f"part-{uuid.uuid4().hex}.cstore"
                writer = CStoreFileWriter(
                    os.path.join(self.path, name), self.type_names,
                    stripe_row_count=self.stripe_rows,
                    block_row_count=self.block_rows,
                    compression=self.compression)
            writer.append_stripe(pa.Table.from_batches(buf))
            buf = []
            buffered = 0

        for batch in iterator:
            while batch.num_rows:
                take = min(batch.num_rows,
                           self.stripe_rows - buffered)
                buf.append(batch.slice(0, take))
                batch = batch.slice(take)
                buffered += take
                self.peak_buffered_rows = max(
                    self.peak_buffered_rows, buffered)
                if buffered == self.stripe_rows:
                    flush()
        flush()
        if writer is not None:
            writer.close()
        return CStoreCommitMessage(name)


class CStoreDataSource(DataSource):
    """``format("cstore")`` — the reference's own on-disk format as a
    first-class Spark source/sink."""

    @classmethod
    def name(cls):
        return "cstore"

    def schema(self):
        raise ValueError(
            "cstore files store no schema (the reference declares it in "
            "CREATE FOREIGN TABLE); pass one: spark.read.format('cstore')"
            ".schema('a INT, b STRING').load(path)")

    def reader(self, schema: StructType):
        return CStoreReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return CStoreWriter(schema, self.options, overwrite)


def register_cstore(spark) -> None:
    """Idempotently register the data source with a session."""
    try:
        spark.dataSource.register(CStoreDataSource)
    except Exception:  # noqa: BLE001 — already registered
        pass
