"""Managed columnar table layer — lifecycle parity with the reference FDW.

The reference models a table as one data file + one footer file with
stripe/block layout and four options (``filename``, ``compression``,
``stripe_row_count``, ``block_row_count``) — reference ``cstore_fdw.h:26-59``,
validated at ``cstore_fdw.c:1523-1571``.  Here a table is a Parquet directory
plus a small JSON metadata file we own (the "footer" analog holds options and
schema-evolution info; Parquet footers hold the per-file stats).

Operator parity (SURVEY §2.A):
- A10 create  → :meth:`CStoreCatalog.create_table`
- A11 drop    → :meth:`CStoreCatalog.drop_table` (files removed,
  reference ``cstore_fdw.c:334-382,776-812``)
- A12 truncate→ :meth:`CStoreCatalog.truncate` (files removed, table
  remains valid+empty, reference ``cstore_fdw.c:384-412,841-948``)
- A13 alter guard → :meth:`CStoreCatalog.alter_column_type` restricted to
  implicit coercions (reference ``cstore_fdw.c:717-769``)
- A14 analyze → :meth:`CStoreCatalog.analyze`
- A19 table_size → :meth:`CStoreCatalog.table_size`
  (reference ``cstore_fdw.c:1183-1229``)
- A20 metadata row count → :meth:`CStoreCatalog.row_count` reads Parquet
  footers only (reference ``cstore_reader.c:400-462``)
- A21 option validation → :func:`validate_options`
- A22 schema-evolution read repair (constant DEFAULT backfill) →
  :meth:`CStoreCatalog.read` (reference ``cstore_reader.c:1224-1292``)

Scale note: all data paths are DataFrame writes/reads — no driver-side row
materialization anywhere; metadata ops (row_count/table_size) read only
footers/file listings, never data.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Iterable
from uuid import uuid4

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cstore_fdw_spark.fsutil import _file_epoch, flocked, write_json_atomic

META_FILE = "_cstore_meta.json"
#: siblings of a table's data dir: ``{data}.stage.{uuid}`` holds one
#: writer's staged output (only that writer removes it), and
#: ``{data}.compact.old`` parks the old data between the two renames of
#: :func:`_swap_in`
_STAGE = ".stage."
_OLD = ".compact.old"

#: valid table options, mirroring the reference's validator
#: (cstore_fdw.c:1273-1340,1523-1571). Compression names map to Parquet
#: codecs; 'pglz' is accepted as an alias for the default codec so that
#: reference DDL ports verbatim.
VALID_COMPRESSION = {"none": "uncompressed", "pglz": "zstd",
                     "snappy": "snappy", "zstd": "zstd", "gzip": "gzip"}
STRIPE_ROW_COUNT_MIN, STRIPE_ROW_COUNT_MAX = 1_000, 10_000_000
BLOCK_ROW_COUNT_MIN, BLOCK_ROW_COUNT_MAX = 1_000, 100_000
DEFAULT_STRIPE_ROW_COUNT = 150_000   # cstore_fdw.h:34
DEFAULT_BLOCK_ROW_COUNT = 10_000     # cstore_fdw.h:35


class CStoreError(Exception):
    """Engine-level error (mirrors the reference's ereport(ERROR) paths)."""


class CStoreConcurrentWriteError(CStoreError):
    """Optimistic-commit conflict: another writer committed between the
    start of a copy-on-write rewrite (compact/vacuum/DELETE/MERGE/ALTER)
    and its swap. The staged output was computed from a now-stale file
    set — swapping it in would silently drop the concurrent batch, and
    saving the stale metadata would regress ``write_epoch`` (making the
    concurrently committed files orphan-collectable). The commit is
    refused instead; ``_rewrite`` retries from a fresh read, MERGE
    surfaces this error (PostgreSQL serialization-failure contract:
    re-run the statement)."""


def validate_options(options: dict[str, Any]) -> dict[str, Any]:
    """Validate table options; unknown keys and out-of-range values error
    (parity with cstore_fdw_validator, reference cstore_fdw.c:1273-1340)."""
    known = {"filename", "compression", "stripe_row_count", "block_row_count",
             "sort_by", "partition_by", "storage_format",
             "zorder_by", "zorder_bits", "zorder_scale",
             "bloom_filter_columns", "bloom_filter_ndv"}
    for key in options:
        if key not in known:
            raise CStoreError(
                f"invalid option \"{key}\"; valid options are: "
                + ", ".join(sorted(known)))
    out = dict(options)
    if "filename" in out:
        # reference: absolute path to the data location (README `filename`;
        # validated cstore_fdw.c:1523-1571); relative paths would resolve
        # against an undefined executor cwd
        fn = str(out["filename"])
        if not os.path.isabs(fn):
            raise CStoreError(
                f'invalid filename "{fn}": must be an absolute path')
        out["filename"] = fn
    comp = str(out.get("compression", "pglz")).lower()
    if comp not in VALID_COMPRESSION:
        raise CStoreError(f"invalid compression type \"{comp}\"")
    out["compression"] = comp
    src = int(out.get("stripe_row_count", DEFAULT_STRIPE_ROW_COUNT))
    if not (STRIPE_ROW_COUNT_MIN <= src <= STRIPE_ROW_COUNT_MAX):
        raise CStoreError(
            f"invalid stripe row count {src}; must be in range "
            f"{STRIPE_ROW_COUNT_MIN}..{STRIPE_ROW_COUNT_MAX}")
    out["stripe_row_count"] = src
    brc = int(out.get("block_row_count", DEFAULT_BLOCK_ROW_COUNT))
    if not (BLOCK_ROW_COUNT_MIN <= brc <= BLOCK_ROW_COUNT_MAX):
        raise CStoreError(
            f"invalid block row count {brc}; must be in range "
            f"{BLOCK_ROW_COUNT_MIN}..{BLOCK_ROW_COUNT_MAX}")
    out["block_row_count"] = brc
    fmt = str(out.get("storage_format", "parquet")).lower()
    if fmt not in ("parquet", "orc", "cstore"):
        raise CStoreError(f'invalid storage format "{fmt}"; '
                          "supported: parquet, orc, cstore")
    out["storage_format"] = fmt
    if fmt == "cstore":
        # the v1.7 binary format: skip lists are its ONLY index
        # (cstore_fdw.h:146-167) and it has no hive-partition layout
        for bad in ("partition_by", "zorder_by", "bloom_filter_columns"):
            if out.get(bad):
                raise CStoreError(
                    f'option "{bad}" is not supported with '
                    "storage_format=cstore (the v1.7 format's only "
                    "index is its min/max skip list)")
        if comp not in ("pglz", "none"):
            raise CStoreError(
                f'invalid compression type "{comp}" for '
                "storage_format=cstore; the v1.7 format supports pglz "
                "or none (cstore_fdw.h:96-105)")
    if out.get("zorder_by"):
        zo = out["zorder_by"]
        out["zorder_by"] = (",".join(zo) if isinstance(zo, (list, tuple))
                            else str(zo))
        # z-order is a competing layout declaration: sort_by imposes a
        # one-dimensional order a later re-sort would destroy, and the
        # per-partition writer would split the global z-ranges
        if out.get("sort_by"):
            raise CStoreError(
                "zorder_by and sort_by are competing layout declarations; "
                "a table is clustered on one order")
        if out.get("partition_by"):
            raise CStoreError(
                "zorder_by on a partitioned table is not supported; "
                "partition pruning already covers the partition column — "
                "z-order the remaining dimensions of an unpartitioned "
                "layout instead")
        zb = int(out.get("zorder_bits", 16))
        ncols = len(str(out["zorder_by"]).split(","))
        if not (1 <= zb and ncols * zb <= 63):
            raise CStoreError(
                f"invalid zorder_bits {zb}: {ncols} column(s) x {zb} bits "
                "must stay within int64 (<= 63 interleaved bits)")
        out["zorder_bits"] = zb
        zs = str(out.get("zorder_scale", "minmax")).lower()
        if zs not in ("minmax", "quantile"):
            raise CStoreError(
                f'invalid zorder_scale "{zs}"; supported: minmax, quantile')
        out["zorder_scale"] = zs
    if out.get("bloom_filter_columns"):
        bf = out["bloom_filter_columns"]
        out["bloom_filter_columns"] = (
            ",".join(bf) if isinstance(bf, (list, tuple)) else str(bf))
        if out["storage_format"] != "parquet":
            raise CStoreError(
                "bloom_filter_columns requires parquet storage")
        ndv = int(out.get("bloom_filter_ndv", 100_000))
        if ndv < 1:
            raise CStoreError(f"invalid bloom_filter_ndv {ndv}; must be >= 1")
        out["bloom_filter_ndv"] = ndv
    return out


#: Implicit-coercion whitelist for ALTER COLUMN TYPE (A13). The reference
#: allows only implicitly-coercible changes (cstore_fdw.c:717-769); this is
#: the Spark-type equivalent of PostgreSQL's implicit numeric/text ladder.
_IMPLICIT_COERCIONS: set[tuple[str, str]] = {
    ("int", "bigint"), ("int", "double"), ("int", "decimal(38,18)"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("bigint", "double"), ("bigint", "decimal(38,18)"),
    ("float", "double"), ("int", "float"), ("bigint", "float"),
    ("date", "timestamp"), ("string", "string"),
}


@dataclass
class TableMeta:
    """The engine's 'footer' analog: options + schema-evolution metadata."""
    name: str
    schema_json: str
    options: dict[str, Any] = field(default_factory=dict)
    # column -> constant default (applied to rows written BEFORE the column
    # existed — reference cstore_reader.c:1224-1292). Stored as SQL literal.
    column_defaults: dict[str, Any] = field(default_factory=dict)
    # monotone per-table write epoch: every insert() batch stamps its data
    # files with ``e{epoch:012d}-``; ADD COLUMN records the then-current
    # epoch as the column's backfill watermark below — O(1) metadata
    # instead of materializing the file list (the reference's analog is
    # the stripe count in the footer, cstore_metadata.c).
    write_epoch: int = 0
    # column -> write-epoch watermark: rows from files with epoch <= wm
    # pre-date the column and read the constant default; files written
    # after (epoch > wm) keep their stored values, so an explicit NULL
    # stays NULL (PG semantics, cstore_reader.c:1224-1292). A None value
    # means "fully baked by compact()" — present (not legacy) but nothing
    # left to backfill.
    backfill_watermark: dict[str, int | None] = field(default_factory=dict)
    # session-catalog names this table was register_table()'d under:
    # lifecycle ops that rewrite data files (compact) refresh + re-analyze
    # these so catalog readers never see stale file lists or stats
    registered_names: list[str] = field(default_factory=list)
    # epoch-snapshot retention floor: file-REWRITING ops (compact,
    # DELETE, MERGE, INSERT OVERWRITE, TRUNCATE) collapse history — their
    # output no longer distinguishes earlier epochs. They record the
    # epoch at which they ran here, and read(as_of_epoch < floor) raises
    # a clear "snapshot vacuumed" error instead of silently returning
    # post-rewrite rows (the same contract as an expired Iceberg
    # snapshot or VACUUM'd MVCC).
    history_floor: int = 0
    # relative paths of data files LOGICALLY deleted by a file-pruned
    # rewrite (selective MERGE/DELETE) whose physical removal hasn't
    # completed yet: the metadata save listing them here is the atomic
    # commit point (readers exclude them immediately); the files are
    # unlinked right after, and a crash in between is repaired by the
    # next locked writer's :meth:`CStoreCatalog._recover_orphans`.
    # The Iceberg analog is the DELETED entry in a manifest.
    dropped_files: list[str] = field(default_factory=list)
    # data-file relative path -> {column: [min, max]} zone maps, captured
    # from each file's parquet footer ONCE at commit time (data files are
    # immutable after commit, so an entry never goes stale). Selective
    # MERGE planning prunes from this metadata with ZERO per-file footer
    # reads — the analog of the reference keeping all stripe skip data in
    # the one footer it reads (cstore_reader.c:164-225). Values are
    # JSON-encoded via ``_stats_encode``; a missing COLUMN means "no
    # usable stats" (the file stays a merge candidate); a missing FILE
    # entry means a legacy/pre-stats meta — planning falls back to a
    # footer read for that file only and the next commit backfills it.
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # column -> write-epoch at which the column was DROPPED. A later
    # re-ADD of the same name must NOT resurface the dead physical bytes
    # still sitting in pre-drop files (PG marks the slot attisdropped and
    # never reads it again): files with epoch <= this read the column as
    # NULL, and the default backfill applies on top. Cleared by full
    # rewrites (compact bakes the projected values); file-pruned commits
    # keep it (untouched files still carry the dead bytes).
    column_reset_epoch: dict[str, int] = field(default_factory=dict)
    # column -> equi-depth histogram bounds from analyze_histograms()
    # (the pg_statistic histogram_bounds analog), plus the row count the
    # histogram was built at — planner inputs, never correctness inputs
    histograms: dict[str, list] = field(default_factory=dict)
    histogram_rows: int = 0
    version: str = "1.0"
    created_at: float = 0.0

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


class CStoreCatalog:
    """Filesystem-backed table catalog (one directory per table).

    On a cluster this directory lives on the shared filesystem (HDFS/S3 via
    Hadoop FS); locally it is a plain directory. Metadata ops use the local
    filesystem API directly — at 100 TB these are O(#files) listing
    operations, never data scans.
    """

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or os.environ.get(
            "CSTORE_SPARK_WAREHOUSE",
            os.path.join(os.getcwd(), ".cstore_warehouse"))
        os.makedirs(self.warehouse, exist_ok=True)
        # storage_format='cstore' tables read/write through the python
        # data source; registration is idempotent
        from cstore_fdw_spark.sources.cstore_datasource import (
            register_cstore)
        register_cstore(spark)
        #: temp-view names THIS catalog created (sql_view / sql shadow
        #: rebinds): sql() only ever replaces views it owns — a user's
        #: same-named temp view is never silently shadowed
        self._owned_views: set[str] = set()
        #: sql_view's view→table mapping, so sql()'s auto-pruning also
        #: matches views registered under a different name than the table
        self._view_aliases: dict[str, str] = {}

    # ---------------------------------------------------------- paths/meta
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), META_FILE)

    def _load_meta(self, name: str) -> TableMeta:
        try:
            with open(self._meta_path(name)) as f:
                d = json.load(f)
        except FileNotFoundError:
            raise CStoreError(f'relation "{name}" does not exist') from None
        # pre-epoch ADD COLUMN recorded the files that pre-date a column;
        # every later meta holds only emptied lists there, and a filled
        # one cannot be read as an epoch watermark
        if any(d.pop("backfill_files", {}).values()):
            raise CStoreError(
                f'table "{name}" has a pre-epoch backfill_files list, '
                "which this version cannot read")
        return TableMeta(**d)

    def _reconcile_file_stats(self, meta: TableMeta) -> None:
        """Bring ``meta.file_stats`` in sync with the data files now on
        disk: drop entries for files that are gone, footer-read ONLY
        files that have no entry yet. Called at every commit point right
        before the metadata save, so the cost is O(files in this batch)
        footer reads per commit — never O(#table files) at merge
        planning time. At 10^6 files (100 TB) the planning step reads
        zero footers; on an object store this loop would be a
        distributed footer-read job over the new files instead."""
        fmt = self._format(meta)
        data_path = self._data_path(meta)
        if fmt not in ("parquet", "cstore") \
                or not os.path.isdir(data_path):
            meta.file_stats = {}
            return
        current = {os.path.relpath(p, data_path)
                   for p in _data_files(data_path, fmt)}
        stats = {rel: v for rel, v in meta.file_stats.items()
                 if rel in current}
        for rel in current.difference(stats):
            full = os.path.join(data_path, rel)
            if fmt == "cstore":
                # the skip list IS the reference's metadata: fold the
                # per-block min/max into the same per-file zone map the
                # merge/delete planner prunes with (text columns are
                # omitted — collation hazard, see the data source)
                stats[rel] = _file_stats_from_cstore(full, meta.schema())
            else:
                stats[rel] = _file_stats_from_footer(full)
        meta.file_stats = stats

    def _save_meta(self, meta: TableMeta) -> None:
        write_json_atomic(self._meta_path(meta.name), meta.__dict__)

    def exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    def list_tables(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.warehouse)):
            if os.path.exists(os.path.join(self.warehouse, entry, META_FILE)):
                out.append(entry)
        return out

    # ------------------------------------------------------------ lifecycle
    def create_table(self, name: str, schema: T.StructType | str,
                     **options: Any) -> TableMeta:
        """A10: create an empty-but-valid table (reference creates an empty
        data file on CREATE FOREIGN TABLE, cstore_fdw.c:218-271)."""
        if self.exists(name):
            raise CStoreError(f'relation "{name}" already exists')
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        opts = validate_options(options)
        if "filename" in opts:
            # DROP deletes the whole data location; refuse to adopt a
            # directory with pre-existing content so unrelated user files
            # can never be destroyed (the reference only ever deletes
            # files it created, cstore_fdw.c:897-926).
            fn = opts["filename"]
            if os.path.exists(fn) and (
                    not os.path.isdir(fn) or os.listdir(fn)):
                raise CStoreError(
                    f'invalid filename "{fn}": location must be an empty '
                    "or nonexistent directory (it is deleted on DROP)")
        path = self.table_path(name)
        os.makedirs(path, exist_ok=True)
        meta = TableMeta(name=name, schema_json=json.dumps(schema.jsonValue()),
                         options=opts, created_at=time.time())
        self._save_meta(meta)
        return meta

    def drop_table(self, name: str) -> None:
        """A11: drop table and delete its files — including a custom
        ``filename`` location (reference DeleteCStoreTableFiles,
        cstore_fdw.c:334-382,897-926 + drop event trigger)."""
        meta = self._load_meta(name)  # raises if the table doesn't exist
        self._drop_registered(meta)
        if "filename" in meta.options:
            data = self._data_path(meta)
            for p in (data, data + _OLD,
                      *glob.glob(glob.escape(data + _STAGE) + "*")):
                shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(self.table_path(name))

    def clone_table(self, src: str, dst: str,
                    as_of_epoch: int | None = None) -> None:
        """Zero-copy snapshot clone (the lakehouse SHALLOW CLONE idiom):
        hardlink every COMMITTED data file of ``src`` into a new table
        ``dst`` and copy the metadata. Safe because the commit protocol
        makes data files immutable once visible — rewrites on either
        table create NEW files and unlink old ones, which only drops a
        link count, so the two tables diverge without ever sharing
        mutable bytes (the reference has no analog; its one-file-per-
        table layout would need a data copy). Cross-device locations
        fall back to a real copy per file. Cost: O(#files) metadata ops,
        zero data bytes moved on one filesystem.

        The clone keeps ``write_epoch``/``history_floor``, so time
        travel works on the clone for every epoch the source retained
        at clone time; uncommitted/orphan batches and logically-dropped
        files are excluded (only ``_visible_files`` are linked). The
        clone is a NEW table identity (fresh ``created_at``): aggregate
        views and projections over the source do not adopt it.

        ``as_of_epoch`` clones a HISTORICAL snapshot instead of the
        current state — the restore idiom: ``clone_table(t, t_restored,
        as_of_epoch=N)`` materializes epoch N as a live table without
        copying data. Refused outside ``[history_floor, write_epoch]``
        with the same snapshot errors as ``read(as_of_epoch=...)``."""
        if self.exists(dst):
            raise CStoreError(f'relation "{dst}" already exists')
        if "filename" in self._load_meta(src).options:
            raise CStoreError(
                "cannot clone a table with a custom filename location")
        with self._writer_lock(src):
            smeta = self._load_meta(src)
            fmt = self._format(smeta)
            # repair a crashed swap FIRST: between its two renames all
            # rows live in data.compact.old and _visible_files
            # would return [] — the clone would silently commit empty
            # (read() does the same repair before listing, catalog read
            # path below)
            self._recover_compact(smeta, fmt)
            self._recover_orphans(smeta, fmt)
            src_data = self._data_path(smeta)
            files = self._visible_files(smeta, as_of_epoch=as_of_epoch)
            dst_dir = self.table_path(dst)
            # a crashed earlier clone left a meta-less dir: clear it
            if os.path.isdir(dst_dir) and not os.path.exists(
                    self._meta_path(dst)):
                shutil.rmtree(dst_dir)
            dst_data = os.path.join(dst_dir, "data")
            os.makedirs(dst_data, exist_ok=True)
            kept = set()
            for p_ in files:
                rel = os.path.relpath(p_, src_data)
                kept.add(rel)
                _link_data_file(p_, os.path.join(dst_data, rel))
            meta = TableMeta(**{**smeta.__dict__})
            meta.name = dst
            meta.registered_names = []
            meta.dropped_files = []
            meta.file_stats = {rel: v for rel, v in smeta.file_stats.items()
                               if rel in kept}
            meta.created_at = time.time()
            if as_of_epoch is not None:
                # the clone IS that snapshot: its epoch counter resumes
                # from the restored point
                meta.write_epoch = as_of_epoch
                meta.history_floor = min(smeta.history_floor, as_of_epoch)
            self._save_meta(meta)  # the commit point — last step

    def truncate(self, *names: str) -> None:
        """A12: delete data files, keep table valid and empty. Handles
        repeated names in one statement once (cstore_fdw.c:856-868).

        The commit is the one that empties a table after a DELETE or
        MERGE leaves no row: every visible file is tombstoned by
        :meth:`_commit_partial` under the writer lock, and refused (then
        retried) if another writer committed first. It gets its own
        epoch, so the floor rises even with no appends since the last
        one and the streaming rewrite guard sees it. A concurrent
        writer's stage and the lock files are never touched; the
        table's other sidecars (e.g. the stream-ingest ledger) go."""
        for name in dict.fromkeys(names):  # dedupe, preserve order
            _retry(f'TRUNCATE of "{name}"', self._truncate_once, name)
            path = self.table_path(name)
            # outside the commit's lock section: flock is not reentrant
            for entry in os.listdir(path):
                if not entry.startswith((META_FILE, "data")) \
                        and not entry.endswith(".lock"):
                    full = os.path.join(path, entry)
                    shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)

    def _truncate_once(self, name: str) -> None:
        with self._writer_lock(name):
            # a swap crashed between its renames parks every row in
            # data.compact.old: restore it first, or the next read's
            # recovery would resurrect the truncated rows
            meta = self._load_meta(name)
            self._recover_compact(meta, self._format(meta))
            visible = self._visible_files(meta)
        self._rewrite_df(meta, None, meta.write_epoch, dropped=visible)

    def _data_path(self, meta: TableMeta) -> str:
        """Where the table's data files live: the ``filename`` option's
        custom location when set (reference README `filename`, validated
        cstore_fdw.c:1523-1571), else ``<warehouse>/<table>/data`` — the
        analog of the reference's default path under
        ``$PGDATA/cstore_fdw/`` (cstore_fdw.c:1466-1470)."""
        return meta.options.get("filename") or os.path.join(
            self.table_path(meta.name), "data")

    # ------------------------------------------------------------- write
    def _format(self, meta: TableMeta) -> str:
        return meta.options.get("storage_format", "parquet")

    def _writer_options(self, meta: TableMeta) -> dict[str, str]:
        codec = VALID_COMPRESSION[meta.options.get("compression", "pglz")]
        if self._format(meta) == "cstore":
            # the real format takes the REAL option values: pglz means
            # pglz (not the parquet-era zstd alias), and stripe/block
            # row counts are the v1.7 layout knobs themselves
            return {
                "compression": meta.options.get("compression", "pglz"),
                "stripe_row_count": str(meta.options.get(
                    "stripe_row_count", DEFAULT_STRIPE_ROW_COUNT)),
                "block_row_count": str(meta.options.get(
                    "block_row_count", DEFAULT_BLOCK_ROW_COUNT)),
            }
        if self._format(meta) == "orc":
            # ORC's row-index stride is the block analog (stats every
            # block_row_count rows, like Parquet page stats)
            return {
                "compression": codec if codec != "uncompressed" else "none",
                "orc.row.index.stride":
                    str(meta.options.get("block_row_count",
                                         DEFAULT_BLOCK_ROW_COUNT)),
            }
        opts = {
            "compression": codec,
            # block analog: page-level stats every block_row_count rows
            "parquet.page.row.count.limit":
                str(meta.options.get("block_row_count",
                                     DEFAULT_BLOCK_ROW_COUNT)),
        }
        # point-lookup skipping beyond zone maps: per-row-group bloom
        # filters on declared columns (the skip-index kind the reference
        # lacks — its min/max blocks can't prune equality probes on
        # unsorted high-cardinality columns, blooms can; the reader
        # drops whole row groups on a bloom miss, asserted in
        # tests/test_pushdown.py::test_bloom_filter_point_lookup_skips)
        bf = meta.options.get("bloom_filter_columns")
        if bf:
            ndv = str(meta.options.get("bloom_filter_ndv", 100_000))
            for col in str(bf).split(","):
                opts[f"parquet.bloom.filter.enabled#{col}"] = "true"
                opts[f"parquet.bloom.filter.expected.ndv#{col}"] = ndv
        return opts

    def insert(self, name: str, df: DataFrame, overwrite: bool = False) -> None:
        """A7/A8: append a batch (INSERT INTO ... SELECT parity). Each append
        adds new Parquet files ~ new stripes; the commit protocol makes the
        append atomic (reference's footer temp+rename,
        cstore_writer.c:344-357).

        Unlike the reference, single-row inserts also work — strictly more
        capable (the reference rejects them, cstore_fdw.c:2299-2303).
        """
        meta = self._load_meta(name)
        target = meta.schema()
        # align columns by name, applying implicit casts (host-executor
        # behavior: PG coerces the SELECT's targetlist to the table types)
        cols = []
        for f_ in target.fields:
            if f_.name not in df.columns:
                raise CStoreError(f'column "{f_.name}" missing from input')
            cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
        # stage the batch (the long, distributed part — unserialized),
        # then COMMIT under the table's writer lock:
        #   append → :func:`_move_in` stamps the files with the next
        #     ``e{epoch:012d}-`` prefix and moves them in, and only then
        #     is the epoch saved to the metadata — the VISIBILITY
        #     commit. read() ignores files stamped above the committed
        #     epoch, so a crash mid-move leaves an invisible partial
        #     batch (cleaned by the next locked writer via
        #     :meth:`_recover_orphans`), and an in-process failure rolls
        #     the moved files back.
        #   overwrite → the stamped stage replaces the data dir through
        #     :func:`_swap_in` (+ its crash recovery), so readers see the
        #     old or the new table, never an empty window.
        # The epoch is what ADD COLUMN's backfill watermark compares
        # against (O(1) metadata vs listing every file). Move cost is
        # O(batch files) — the same order as the reference's per-stripe
        # footer rewrite (cstore_writer.c:344-357); an object-store
        # deployment would commit a manifest instead of renaming.
        staged = self._stage(meta, df.select(*cols))
        try:
            if overwrite and not _has_data_files(staged, self._format(meta)):
                # nothing to swap in: commit as TRUNCATE does (every
                # visible file tombstoned), so no data dir is left
                # without a data file for _recover_compact to take for
                # a crash between _swap_in's renames
                _retry(f'INSERT OVERWRITE of "{name}"',
                       self._truncate_once, name)
                return
            with self._writer_lock(name):
                # re-read the committed epoch under the lock: another
                # writer may have appended while this batch was staging
                meta = self._load_meta(name)
                self._recover_orphans(meta, self._format(meta))
                epoch = meta.write_epoch + 1
                if overwrite:
                    _stamp(staged, epoch)
                    # epoch first: if the swap never happens the bump is
                    # a harmless gap; saving AFTER the swap would make
                    # the new files orphan-deletable in the crash window
                    meta.write_epoch = epoch
                    meta.history_floor = epoch  # prior snapshots die
                    self._save_meta(meta)
                    _swap_in(self._data_path(meta), staged)
                    # the new files' zone maps land in the save below; a
                    # crash in between just means footer-fallback for
                    # this batch until the next commit reconciles
                else:
                    _move_in(staged, self._data_path(meta), epoch)
                    meta.write_epoch = epoch
                self._reconcile_file_stats(meta)
                self._save_meta(meta)  # the append's visibility commit
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    def compact(self, name: str, zorder_by: list[str] | None = None,
                zorder_bits: int | None = None,
                zorder_scale: str | None = None) -> int:
        """Rewrite the table's data files into stripe-sized files and
        return the new file count.

        Append-only tables accumulate one file per insert batch (the
        reference accumulates a stripe per COPY/INSERT the same way); at
        100 TB the resulting small-file population dominates scan task
        scheduling and file-listing cost, so compaction is a first-class
        lifecycle op. Rows are materialized through the normal read path
        (so constant-default backfill is baked into the rewritten files —
        re-reads are bit-identical before and after), re-partitioned to
        ~stripe-file size, written to this rewrite's own staging
        directory (``data.stage.{uuid}``, so a concurrent rewrite can
        never swap in this one's output) and swapped in — the reference's
        temp-file + rename protocol for the footer
        (cstore_writer.c:344-357) applied to the data dir. The swap is
        two renames (data→old, stage→data), so it is not a single atomic
        step: a crash in the one-rename window leaves the rows parked in
        ``data.compact.old``, which :meth:`_recover_compact` (run by both
        read() and compact()) rolls back or cleans up — readers never
        silently see an empty table.
        Partitioned tables compact within each partition.

        ``zorder_by=[cols]`` additionally CLUSTERS the rewrite on the
        Morton code of the given columns (the lakehouse ``OPTIMIZE
        ZORDER BY``): files become axis-aligned rectangles in value
        space, so parquet row-group min/max stats prune scans filtered
        on ANY of the z columns (``sources/zorder.py``; layout payoff
        proven in ``tests/test_zorder.py``). The choice is persisted in
        the table options, so later ``compact()``/``vacuum()``/
        copy-on-write rewrites re-cluster automatically; appended
        batches land unclustered until the next compact — the standard
        lakehouse contract. Incompatible with ``sort_by``/
        ``partition_by`` (competing layout declarations — the option
        validator refuses)."""
        if zorder_by is None:
            return self._rewrite(name)
        if not zorder_by:
            raise CStoreError(
                "compact(zorder_by=[...]) needs at least one column; "
                "call compact(name) for a plain (unclustered) rewrite")
        meta = self._load_meta(name)
        merged = {k: v for k, v in meta.options.items()
                  if not k.startswith("zorder")}
        merged["zorder_by"] = ",".join(zorder_by)
        if zorder_bits is not None:
            merged["zorder_bits"] = zorder_bits
        if zorder_scale is not None:
            merged["zorder_scale"] = zorder_scale
        validated = validate_options(merged)
        missing = [c for c in zorder_by
                   if c not in meta.schema().fieldNames()]
        if missing:
            raise CStoreError(
                f"z-order column(s) {missing} not in table "
                f'"{name}" schema')
        return self._rewrite(name, options=validated)

    def vacuum(self, name: str, keep_epochs: int = 0) -> int:
        """Incremental retention (Iceberg ``expire_snapshots`` analog):
        consolidate data files OLDER than ``write_epoch - keep_epochs``
        into stripe-sized files stamped AT that cutoff epoch, leaving
        newer epoch files — and the snapshots they back — untouched.
        Raises the table's ``history_floor`` to the cutoff, so
        ``read(as_of_epoch=e)`` keeps working for every ``e`` in the
        retained window and raises the vacuumed-snapshot error below it.
        ``keep_epochs=0`` consolidates everything (compact with intact
        current-epoch semantics).

        At 100 TB this is the bounded-history answer: old epochs stop
        costing file-count/listing overhead while the recent window
        stays time-travelable. The consolidated files are staged (with
        the persisted layout, z-order scale included) and stamped at the
        cutoff; at commit the kept files hard-link into the stage (no
        data copy) and :func:`_swap_in` replaces the data dir.
        Returns the number of files reclaimed."""
        meta = self._load_meta(name)
        fmt = self._format(meta)
        self._recover_compact(meta, fmt)
        if meta.column_reset_epoch:
            # an active column reset epoch can't survive a partial
            # consolidation — bake everything via the full rewrite:
            # vacuum stamps its consolidated output AT the cutoff epoch,
            # which could fall at/below the reset and null the freshly
            # baked values.
            self._rewrite(name)
            return 0
        # never vacuum below an existing floor (the files are gone)
        cutoff = max(meta.history_floor,
                     max(0, meta.write_epoch - keep_epochs))
        data_path = self._data_path(meta)
        old_files = [p for p in _data_files(data_path, fmt)
                     if _file_epoch(p) <= cutoff]
        if not old_files:
            return 0
        snapshot = self._visible_files(meta, as_of_epoch=cutoff)
        total = _footer_rows(snapshot, fmt)
        staged = self._stage(meta, _layout(
            self._scan(meta, snapshot, live=True), meta.options, total)
            if total else None)
        try:
            _stamp(staged, cutoff)
            with self._writer_lock(name):
                # optimistic commit: the staged consolidation covers
                # only files ≤ cutoff, which concurrent INSERTs never
                # touch (new batches stamp epochs above the committed
                # write_epoch), so an epoch advance alone does NOT
                # invalidate it — the new files simply ride along via
                # the live listing below. A concurrent REWRITE does
                # invalidate it (the whole dir was replaced); every
                # rewrite commit raises history_floor, so that is the
                # conflict signal. The meta saved is re-loaded here —
                # never the copy from operation start, whose write_epoch
                # may be stale (saving it would regress the epoch and
                # orphan-collect a concurrently committed batch).
                fresh = self._load_meta(name)
                if fresh.history_floor != meta.history_floor:
                    raise CStoreConcurrentWriteError(
                        f'concurrent rewrite of "{name}" invalidated this '
                        "vacuum; re-run it")
                # kept (newer-epoch) files ride along as hard links —
                # zero data copied, and the swap stays the atomic commit
                # point. Logically dropped files must NOT be linked back
                # in: the swap removes their bytes, completing their GC.
                dropped = set(fresh.dropped_files)
                for p in _data_files(data_path, fmt):
                    rel = os.path.relpath(p, data_path)
                    if _file_epoch(p) > cutoff and rel not in dropped:
                        _link_data_file(p, os.path.join(staged, rel))
                _swap_in(data_path, staged)
                fresh.dropped_files = []
                fresh.history_floor = cutoff
                self._reconcile_file_stats(fresh)
                self._save_meta(fresh)
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        self._refresh_registered(fresh)
        new_old = sum(1 for p in _data_files(data_path, fmt)
                      if _file_epoch(p) <= cutoff)
        return len(old_files) - new_old

    def delete_where(self, name: str, predicate: Any) -> int:
        """Copy-on-write DELETE with FILE PRUNING (extension — the
        reference, like this engine's storage model, is append-only with
        no row-level delete; modern columnar stores express DELETE as a
        selective file rewrite). One scan finds the files that contain
        ≥1 matching row (predicate pushdown + column pruning keep it to
        the predicate's columns, with row-group stats skipping); ONLY
        those files are rewritten and swapped in via the partial-commit
        protocol (:meth:`_commit_partial`) — every untouched file keeps
        its inode, name, and bytes, so a selective DELETE from a 100 TB
        table costs O(affected files), not a full rewrite. When every
        file is touched, the classic full rewrite runs instead (it also
        repacks to stripe-sized files).

        Rows where the predicate evaluates to NULL are KEPT (SQL DELETE
        semantics: only TRUE deletes). Returns the number of rows
        deleted."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        return _retry(f'DELETE on "{name}"', self._delete_once, name, cond)

    def _delete_once(self, name: str, cond) -> int:
        meta = self._load_meta(name)
        fmt = self._format(meta)
        self._recover_compact(meta, fmt)
        visible = self._visible_files(meta)
        if not visible:
            return 0
        snapshot = self._scan(meta, visible, live=True)
        # ONE pruning scan yields both the touched-file list and the
        # deleted-row count: per-file counts of predicate-TRUE rows
        per_file = (snapshot.withColumn("_file", F.input_file_name())
                    .filter(cond).groupBy("_file")
                    .agg(F.count(F.lit(1)).alias("n")).collect())
        if not per_file:
            return 0
        deleted = int(sum(r.n for r in per_file))
        touched = sorted(_uri_to_path(r["_file"]) for r in per_file)
        keep = ~cond.eqNullSafe(F.lit(True))
        if all(touched) and len(touched) < len(visible):
            self._rewrite_df(meta, self._scan(meta, touched).filter(keep),
                             meta.write_epoch, dropped=touched)
            return deleted
        # python data sources report no input_file_name (file-level
        # pruning is unavailable), or nothing is left to prune: the
        # full rewrite is the safe path, and it also repacks. The rows
        # left are the footer total minus the rows the scan counted;
        # none left tombstones every file instead
        total = _footer_rows(visible, fmt) - deleted
        self._rewrite_df(
            meta, _layout(snapshot.filter(keep), meta.options, total)
            if total else None,
            meta.write_epoch, dropped=None if total else visible)
        return deleted

    def _stage(self, meta: TableMeta, df: DataFrame | None) -> str:
        """Write ``df`` with the table's layout into a fresh sibling
        staging directory ``{data}.stage.{uuid}`` and return its path —
        the one writer build behind every catalog write. It applies the
        codec options, stripe-sized files (``maxRecordsPerFile`` =
        stripe rows × 10), ``partition_by``, and ``sort_by`` (the
        reference advises loading sorted for skip efficiency,
        README.md:287-294; sortWithinPartitions keeps it shuffle-free).
        A cstore table stages through :func:`_stage_cstore` instead of
        the ``format("cstore")`` sink: one file per non-empty partition
        either way, but no data-source write or commit worker starts.
        ``df=None`` stages nothing (an empty directory). The name is
        unique, so concurrent writers never share a stage; only the
        caller removes it (after a commit has moved its files or
        renamed it into place)."""
        staged = self._data_path(meta) + _STAGE + uuid4().hex
        if df is None:
            os.makedirs(staged)
            return staged
        sort_by = meta.options.get("sort_by")
        if sort_by:
            df = df.sortWithinPartitions(*sort_by.split(","))
        if self._format(meta) == "cstore":
            _stage_cstore(df, staged, self._writer_options(meta))
            return staged
        writer = (df.write.mode("overwrite")
                  .option("maxRecordsPerFile",
                          str(_rows_per_file(meta.options))))
        for k, v in self._writer_options(meta).items():
            writer = writer.option(k, v)
        part = meta.options.get("partition_by")
        if part:
            writer = writer.partitionBy(*part.split(","))
        _save_df(writer, self._format(meta), staged)
        return staged

    def _rewrite_df(self, meta: TableMeta, df: DataFrame | None,
                    base_epoch: int, mutate=None,
                    dropped: list[str] | None = None) -> None:
        """Stage ``df`` and commit it as a copy-on-write rewrite.
        ``dropped`` lists the data files ``df`` replaces (a file-pruned
        MERGE/DELETE, or with ``df=None`` every visible file: the one
        commit that empties a table), committed by
        :meth:`_commit_partial`; ``None`` replaces the whole table
        (:meth:`_commit_swap`, which also applies ``mutate``).
        ``base_epoch`` is the committed ``write_epoch`` ``df`` was
        computed from: the commit is refused with
        :class:`CStoreConcurrentWriteError` if another writer has
        advanced it. ``meta`` supplies only layout facts (format,
        options, data path) for the staged write — the metadata actually
        saved is re-loaded under the lock."""
        staged = self._stage(meta, df)
        try:
            if dropped is None:
                fresh = self._commit_swap(meta.name, base_epoch, staged,
                                          mutate)
            else:
                data_path = self._data_path(meta)
                fresh = self._commit_partial(
                    meta.name, base_epoch, staged,
                    [os.path.relpath(p, data_path) for p in dropped])
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        self._refresh_registered(fresh)

    def merge_into(self, name: str, source: DataFrame,
                   on: str | list[str],
                   when_matched="update",
                   when_not_matched: str | None = "insert",
                   when_not_matched_by_source=None,
                   evolve_schema: bool = False) -> dict[str, int]:
        """MERGE INTO (upsert) — extension beyond the reference's
        append-only surface, with PostgreSQL 15 MERGE semantics (plus
        PG 17's ``WHEN NOT MATCHED BY SOURCE``).

        ``when_matched`` is one of:

        - ``"update"`` — the source row replaces the matched target row;
        - ``"delete"`` — the matched target row is dropped;
        - ``None`` — matched target rows are left unchanged (an
          insert-only merge);
        - a list of ``(condition_sql, action)`` clauses — PG 15's
          ``WHEN MATCHED AND <condition> THEN <action>`` chain. Each
          ``condition_sql`` is a SQL boolean over ``t.<col>`` (the
          current target row) and ``s.<col>`` (the matching source
          row); ``None`` means unconditional. ``action`` is
          ``"update"``, ``"delete"``, or ``"nothing"``. Clauses are
          evaluated IN ORDER and the first true condition wins; a
          matched row satisfying no clause is left unchanged (PG: the
          row is simply not affected by the MERGE).

        Unmatched source rows are inserted when
        ``when_not_matched="insert"`` (``None`` = ignore them). A source
        with duplicate merge keys is rejected, like PG's "MERGE command
        cannot affect row a second time".

        The source may omit non-key target columns (schema-evolving
        upserts): updates keep the target row's value for omitted
        columns and inserts fill them with the column DEFAULT (else
        NULL) — the same outcome as a PG ``MERGE`` whose ``UPDATE SET``
        / ``INSERT (cols)`` lists name only the supplied columns. In
        clause conditions, ``s.<omitted>`` reads as that fill value.
        Merge keys must always be present.

        ``when_not_matched_by_source`` (PG 17) acts on TARGET rows with
        no matching source row: ``None`` keeps them (the default),
        ``"delete"`` drops them (the classic make-target-mirror-source
        sync), or a list of ``(condition_sql, action)`` clauses over
        ``t.<col>`` with actions ``"delete"`` / ``"nothing"``.

        ``evolve_schema=True`` (the Delta ``mergeSchema`` analog —
        beyond PG, which has no automatic DDL) ADDs source columns the
        target lacks before merging: each becomes an ALTER TABLE ADD
        COLUMN with the source's type and no default, so pre-existing
        target rows read NULL for it (the A22 read-repair contract) and
        merged/inserted rows carry the source values. With the default
        ``False``, extra source columns are silently ignored (PG
        semantics: the column list names only known columns).

        Copy-on-write: the merged row set is staged like every catalog
        write (:meth:`_stage`, so a ``sort_by`` table stays sorted within
        each file) and commits through the swap protocol (two renames +
        crash recovery), so readers see the old or the new table, never
        a mix. The whole merge is ONE full-outer join on the merge key,
        materialized once: row counts, the duplicate-source check, and
        the rewrite all read that single cached result (exactly one
        Spark job runs before the rewrite — at 100 TB the join never
        re-executes).
        Files whose merge-key zone map cannot overlap the source's key
        range are pruned from the join AND from the rewrite: they stay
        byte-identical on disk, committed via the partial protocol
        (:meth:`_commit_partial`), so a selective upsert costs
        O(touched files) — not a table rewrite.

        Returns ``{"matched": n, "inserted": n, "removed_unmatched": n}``
        row counts (``removed_unmatched`` = target rows deleted by
        ``when_not_matched_by_source``).
        """
        keys = [on] if isinstance(on, str) else list(on)
        meta = self._load_meta(name)
        if evolve_schema:
            known = set(meta.schema().fieldNames())
            for f_ in source.schema.fields:
                if f_.name not in known:
                    # metadata-only DDL: write_epoch is untouched, so the
                    # optimistic-commit snapshot below stays valid
                    self.add_column(name, f_.name,
                                    f_.dataType.simpleString())
            meta = self._load_meta(name)
        base_epoch = meta.write_epoch  # optimistic-commit read snapshot
        target = meta.schema()
        for k in keys:
            if k not in target.fieldNames():
                raise CStoreError(f'merge key "{k}" not in table "{name}"')
        # schema evolution: the source may omit NON-KEY target columns
        # (the first thing an upsert pipeline with evolving schemas
        # hits). PG-equivalent semantics — UPDATE SET only the supplied
        # columns (missing ones keep the target row's value), INSERT
        # fills missing columns with the table's column DEFAULT, else
        # NULL. Extra source columns are ignored by the select.
        cols = []
        missing: set[str] = set()
        for f_ in target.fields:
            if f_.name in source.columns:
                cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                if f_.name in keys:
                    raise CStoreError(
                        f'merge key "{f_.name}" missing from merge source')
                missing.add(f_.name)
                cols.append(F.lit(meta.column_defaults.get(f_.name))
                            .cast(f_.dataType).alias(f_.name))
        src = source.select(*cols)
        names = target.fieldNames()
        if when_matched in ("update", "delete"):
            clauses = [(None, when_matched)]
        elif when_matched is None:
            clauses = []
        elif isinstance(when_matched, (list, tuple)):
            clauses = []
            for cond, action in when_matched:
                if action not in ("update", "delete", "nothing"):
                    raise CStoreError(f"unknown merge action: {action!r}")
                clauses.append((cond, action))
        else:
            raise CStoreError(f"unknown when_matched: {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise CStoreError(
                f"unknown when_not_matched: {when_not_matched!r}")
        insert = when_not_matched == "insert"
        if when_not_matched_by_source == "delete":
            src_clauses = [(None, "delete")]
        elif when_not_matched_by_source is None:
            src_clauses = []
        elif isinstance(when_not_matched_by_source, (list, tuple)):
            src_clauses = []
            for cond, action in when_not_matched_by_source:
                if action not in ("delete", "nothing"):
                    raise CStoreError(
                        f"unknown by-source merge action: {action!r}")
                src_clauses.append((cond, action))
        else:
            raise CStoreError("unknown when_not_matched_by_source: "
                              f"{when_not_matched_by_source!r}")

        # FILE PRUNING: a file whose zone map [min,max] on the first
        # merge key cannot overlap the source's key range holds only
        # rows the merge leaves unchanged — it never enters the join and
        # stays byte-identical on disk (a selective 100-row upsert into
        # a 100 TB table rewrites O(touched files), not the table).
        # Inapplicable with WHEN NOT MATCHED BY SOURCE clauses (those
        # touch every target row). Zone maps come from the table
        # METADATA (``meta.file_stats``, captured per file at commit
        # time) — planning reads ZERO parquet footers; only legacy
        # pre-stats metas fall back to a per-file footer read. Files
        # without usable stats stay candidates.
        visible = self._visible_files(meta)
        dropped = None  # the files a pruned merge replaces
        tgt = self._scan(meta, visible, live=True)
        if (not src_clauses) \
                and self._format(meta) in ("parquet", "cstore") \
                and len(visible) > 1:
            lohi = src.agg(F.min(keys[0]).alias("lo"),
                           F.max(keys[0]).alias("hi")).collect()[0]
            if lohi.lo is not None:
                cand = []
                for p in visible:
                    rng = self._zone_map(meta, p, keys[0])
                    try:
                        untouched = (rng is not None
                                     and (rng[1] < lohi.lo
                                          or rng[0] > lohi.hi))
                    except TypeError:  # incomparable stats repr
                        untouched = False
                    if not untouched:
                        cand.append(p)
                if len(cand) < len(visible):
                    dropped = cand
                    tgt = self._scan(meta, cand)

        # one shuffle on the merge key: full-outer join of (key, packed
        # target row) with (key, packed source row); every downstream
        # question — matched action, insert, counters, duplicate check —
        # is a projection/aggregation of this join, computed in ONE pass
        # over its cached output (the round-3 version re-executed the
        # join for each of four counters).
        # keys are joined under internal _k{i} names so the packed-row
        # struct aliases "t"/"s" can never collide with a table column
        # (a merge key literally named t or s is legal)
        kcols = [f"_k{i}" for i in range(len(keys))]
        t = tgt.select(*[F.col(k).alias(a) for k, a in zip(keys, kcols)],
                       F.struct(*[F.col(c) for c in names]).alias("t"))
        dup_w = Window.partitionBy(*[F.col(k) for k in keys])
        s = src.select(*[F.col(k).alias(a) for k, a in zip(keys, kcols)],
                       F.struct(*[F.col(c) for c in names]).alias("s"),
                       F.count(F.lit(1)).over(dup_w).alias("_src_n"))
        j = t.join(s, kcols, "full_outer")
        matched = F.col("t").isNotNull() & F.col("s").isNotNull()
        act = None
        for cond, action in clauses:
            pred = matched if cond is None else (matched & F.expr(cond))
            act = F.when(pred, action) if act is None else \
                act.when(pred, action)
        act = (act.otherwise("keep") if act is not None
               else F.lit("keep"))  # no clause matched → row unaffected
        tgt_only = F.col("t").isNotNull() & F.col("s").isNull()
        src_act = None
        for cond, action in src_clauses:
            pred = tgt_only if cond is None else (tgt_only & F.expr(cond))
            src_act = (F.when(pred, action) if src_act is None
                       else src_act.when(pred, action))
        src_act = (src_act.otherwise("keep") if src_act is not None
                   else F.lit("keep"))
        # the UPDATE image: supplied source columns win, columns the
        # source omitted keep the target row's value
        upd = (F.struct(*[
            (F.col("t").getField(c) if c in missing
             else F.col("s").getField(c)).alias(c) for c in names])
            if missing else F.col("s"))
        out = (F.when(matched & (act == F.lit("update")), upd)
               .when(matched & (act == F.lit("delete")), F.lit(None))
               .when(matched, F.col("t"))
               .when(tgt_only & (src_act == F.lit("delete")), F.lit(None))
               .when(tgt_only, F.col("t"))
               .otherwise(F.col("s") if insert else F.lit(None)))
        merged = (j.select(matched.alias("_matched"),
                           F.col("t").isNotNull().alias("_has_t"),
                           F.col("_src_n"),
                           out.alias("_out"))
                  .persist())
        try:
            stats = merged.agg(
                F.sum(F.col("_matched").cast("long")).alias("n_matched"),
                F.sum((~F.col("_has_t") & F.col("_out").isNotNull())
                      .cast("long")).alias("n_inserted"),
                F.sum((F.col("_has_t") & ~F.col("_matched")
                       & F.col("_out").isNull())
                      .cast("long")).alias("n_removed"),
                F.max("_src_n").alias("max_src"),
                F.count("_out").alias("n_rows")).collect()[0]
            if (stats.max_src or 0) > 1:
                raise CStoreError(
                    "MERGE source affects the same row a second time "
                    f"(duplicate {keys} in source)")
            out_df = (merged.filter(F.col("_out").isNotNull())
                      .select("_out.*"))
            # the commit surfaces CStoreConcurrentWriteError if another
            # writer committed since the join's read snapshot (PG
            # serialization-failure contract: re-run the MERGE;
            # retrying internally would silently re-execute the
            # expensive join, and the caller owns that decision). An
            # unpruned merge that leaves no row tombstones every file
            if dropped is None and not stats.n_rows:
                out_df, dropped = None, visible
            self._rewrite_df(meta, out_df, base_epoch, dropped=dropped)
        finally:
            merged.unpersist()
        return {"matched": int(stats.n_matched or 0),
                "inserted": int(stats.n_inserted or 0),
                "removed_unmatched": int(stats.n_removed or 0)}

    def alter_table_layout(self, name: str, **options: Any) -> None:
        """ALTER TABLE ... SET layout: re-declare physical layout options
        (``sort_by``, ``partition_by``, ``compression``,
        ``block_row_count``, ``stripe_row_count``, ``storage_format``,
        ``bloom_filter_columns``/``_ndv``) and REWRITE the data into the
        new shape in one crash-safe operation (the swap protocol: the
        data re-laid out by :func:`_layout` — partitions co-located, a
        persisted z-order re-clustered, stripe-sized files — and staged
        with the new options, then a lock-validated two-rename commit;
        readers always see the old or the new layout, never a window).
        It is :meth:`_rewrite`, like compact, so a commit that loses to
        a concurrent writer is retried from a fresh read.
        Pass ``option=None`` to remove a layout option. The merged
        option set re-validates as a whole, so invalid combinations
        (e.g. adding sort_by to a z-ordered table) fail before any
        data moves. Like every rewrite, the commit raises the
        ``history_floor`` — pre-rewrite snapshots are gone. Z-order
        changes go through ``compact(zorder_by=...)`` (they need the
        clustering writer); ``filename`` relocation is not a layout
        change.

        The reference's only layout levers are fixed at CREATE time
        (options validated once, cstore_fdw.c:1273-1340; changing them
        meant dump/recreate) — this is the managed-table upgrade."""
        banned = {k for k in options
                  if k.startswith("zorder") or k == "filename"}
        if banned:
            raise CStoreError(
                f"{sorted(banned)} cannot change via alter_table_layout "
                "(use compact(zorder_by=...) for clustering; filename "
                "is a location, not a layout)")
        merged = dict(self._load_meta(name).options)
        for k, v in options.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = v
        self._rewrite(name, options=validate_options(merged))

    def _rewrite(self, name: str, options: dict[str, Any] | None = None
                 ) -> int:
        """The one full-table rewrite (compact, ALTER layout, vacuum's
        fallback): every visible row re-laid out by :func:`_layout`,
        sized from the footer row counts, staged and swapped in by
        :meth:`_commit_swap`; returns the new file count. ``options``
        is the whole validated option set to rewrite into (the staged
        write uses it and the commit saves it), even on an empty table;
        ``None`` keeps the table's own, and an empty table is then left
        as it is. Optimistic concurrency: the distributed rewrite runs
        unlocked; if another writer committed meanwhile the lock-held
        commit refuses and the next attempt re-reads (which then
        includes the concurrent batch)."""
        return _retry(f'rewrite of "{name}"', self._rewrite_once, name,
                      options)

    def _rewrite_once(self, name: str, options: dict[str, Any] | None
                      ) -> int:
        meta = self._load_meta(name)
        fmt = self._format(meta)
        self._recover_compact(meta, fmt)
        visible = self._visible_files(meta)
        total = _footer_rows(visible, fmt)
        if not total and options is None:
            return 0
        work = TableMeta(**{**meta.__dict__, "options":
                            meta.options if options is None else options})
        df = (_layout(self._scan(meta, visible, live=True), work.options,
                      total) if total else None)

        def mutate(fresh: TableMeta) -> None:
            fresh.options = work.options

        self._rewrite_df(work, df, meta.write_epoch,
                         None if options is None else mutate)
        return sum(1 for _ in _data_files(self._data_path(work),
                                          self._format(work)))

    def _commit_swap(self, name: str, base_epoch: int, tmp_path: str,
                     mutate=None) -> TableMeta:
        """Commit a staged full-table rewrite under the per-table writer
        lock (optimistic concurrency — the Iceberg commit protocol shape).

        The expensive distributed write into ``tmp_path`` ran UNLOCKED
        against the file set visible at ``base_epoch``. Here the
        metadata is re-loaded under the lock: if any other writer
        committed in the meantime (``write_epoch`` moved, or another
        rewrite raised ``history_floor``), swapping the stage in would
        silently drop that committed batch — and saving the stale meta
        would regress ``write_epoch``, making the concurrent files
        orphan-collectable by :meth:`_recover_orphans` (a data-loss
        path). The commit is refused with
        :class:`CStoreConcurrentWriteError` instead and the stage is
        removed. On success the FRESHLY loaded meta (never the caller's
        possibly-stale copy) is mutated and saved; ``write_epoch`` is
        bumped so rewrite commits are themselves visible to other
        in-flight optimistic writers.

        ``mutate(fresh_meta)`` applies caller metadata edits (e.g.
        RENAME COLUMN's schema change) before the save."""
        with self._writer_lock(name):
            fresh = self._load_meta(name)
            _refuse_if_moved(fresh, base_epoch, tmp_path)
            _swap_in(self._data_path(fresh), tmp_path)
            if mutate is not None:
                mutate(fresh)
            # defaults are baked into the rewritten files; nothing
            # pre-dates any column anymore (clearing the watermarks is
            # also what keeps explicit NULLs baked by this rewrite from
            # re-reading as the default — compacted files carry no epoch
            # stamp and would otherwise fall under every watermark)
            fresh.backfill_watermark = {
                c: None for c in fresh.column_defaults}
            # rewritten files carry the PROJECTED values — no dead
            # physical bytes from dropped-then-re-added columns remain
            # (and the unstamped rewrite output must not fall under a
            # reset epoch the way it must not fall under a watermark)
            fresh.column_reset_epoch = {}
            # the whole dir was replaced from a read that excluded
            # logically dropped files — their bytes are gone now
            fresh.dropped_files = []
            fresh.write_epoch += 1  # rewrite commits are real commits
            fresh.history_floor = fresh.write_epoch  # prior snapshots die
            self._reconcile_file_stats(fresh)
            self._save_meta(fresh)
        return fresh

    def _commit_partial(self, name: str, base_epoch: int, staged: str,
                        dropped: list[str]) -> TableMeta:
        """Commit a FILE-PRUNED rewrite: the files staged in ``staged``
        replace exactly the ``dropped`` (data-dir-relative) files;
        every other data file keeps its inode, name, and bytes — a
        selective MERGE/DELETE touches O(affected files), not O(table).

        Protocol (insert-append commit + a tombstone list):
        1. under the writer lock, verify no concurrent commit
           (``write_epoch`` still ``base_epoch`` — else refuse, see
           :class:`CStoreConcurrentWriteError`);
        2. stamp the staged files with the next epoch and move them into
           the data dir (:func:`_move_in`) — INVISIBLE until the
           metadata commit (readers filter epochs above the committed
           one; a crash here leaves them for :meth:`_recover_orphans`);
        3. save the metadata with the bumped epoch and ``dropped`` added
           to ``dropped_files`` — the ATOMIC commit point: new files
           become visible and dropped files invisible in the same
           os.replace;
        4. physically unlink the dropped files and clear the list with
           :meth:`_recover_orphans` — the same idempotent GC that
           repairs a crash between 3 and 4 on the next locked writer.

        An empty stage with every visible file in ``dropped`` is the
        one commit that empties a table: TRUNCATE, and a DELETE or MERGE
        that leaves no row.
        """
        with self._writer_lock(name):
            fresh = self._load_meta(name)
            _refuse_if_moved(fresh, base_epoch, staged)
            fmt = self._format(fresh)
            self._recover_orphans(fresh, fmt)
            epoch = fresh.write_epoch + 1
            _move_in(staged, self._data_path(fresh), epoch)
            fresh.write_epoch = epoch
            # replaced files back every older snapshot — history ends here
            fresh.history_floor = epoch
            fresh.dropped_files = sorted(
                set(fresh.dropped_files) | set(dropped))
            # reconcile BEFORE the commit save so the staged files'
            # zone maps become visible atomically with the files; the
            # dropped files' entries linger until the post-unlink save
            self._reconcile_file_stats(fresh)
            self._save_meta(fresh)  # COMMIT
            self._recover_orphans(fresh, fmt)
            self._reconcile_file_stats(fresh)
            self._save_meta(fresh)
        return fresh

    def _writer_lock(self, name: str):
        """Exclusive per-table writer lock (flock on a sidecar file):
        serializes insert commits so epoch stamps never collide and
        orphan recovery never races an in-flight writer. Readers never
        take it — they filter uncommitted epochs instead."""
        return flocked(os.path.join(self.table_path(name),
                                    "_cstore_writer.lock"))

    def _recover_orphans(self, meta: TableMeta, fmt: str) -> None:
        """Repair after a writer crash — called only under the writer
        lock (a racing writer could otherwise lose its staged batch).

        Two cases: (1) data files stamped with an epoch ABOVE the
        committed ``write_epoch`` belong to a batch whose visibility
        commit (the metadata save) never happened, so no reader has ever
        seen them — delete them. (2) files still listed in
        ``dropped_files`` were logically deleted by a committed
        file-pruned rewrite but their physical unlink crashed — finish
        it and clear the list (mutates ``meta``; the caller's later
        ``_save_meta`` persists the cleared list, and losing THAT save
        merely re-runs this idempotent GC)."""
        data_path = self._data_path(meta)
        if not os.path.isdir(data_path):
            return
        for p in list(_data_files(data_path, fmt)):
            if _file_epoch(p) > meta.write_epoch:
                _unlink_data_file(p)
        for rel in meta.dropped_files:
            _unlink_data_file(os.path.join(data_path, rel))
        meta.dropped_files = []

    def _recover_compact(self, meta: TableMeta, fmt: str) -> None:
        """Repair the table after a crash inside :func:`_swap_in`
        (compact, vacuum, every full rewrite, INSERT OVERWRITE).

        Crash between the two swap renames → no ``data`` dir but a
        ``data.compact.old`` holding every row: roll the rename back.
        Crash after the swap but before cleanup → both dirs exist and
        ``data`` is the new truth: drop the leftovers. Staging
        directories are never read: each belongs to one writer, which
        removes it."""
        data_path = self._data_path(meta)
        old_path = data_path + _OLD
        if os.path.isdir(old_path):
            if _has_data_files(data_path, fmt):
                shutil.rmtree(old_path)
            else:
                shutil.rmtree(data_path, ignore_errors=True)
                os.rename(old_path, data_path)

    def _epoch_committed(self, name: str, epoch: int) -> bool:
        """Whether a visible data file of ``name`` carries ``epoch``'s
        stamp — proof that the insert stamped with that epoch reached
        its visibility commit (the stamp is baked under the writer lock
        right before the metadata save). The derived-table write-ahead
        records (``derived._recover``) recover from this evidence."""
        meta = self._load_meta(name)
        return any(_file_epoch(p) == epoch
                   for p in self._visible_files(meta))

    # -------------------------------------------------------------- read
    def read(self, name: str, as_of_epoch: int | None = None,
             columns: list[str] | None = None) -> DataFrame:
        """A1+A22: scan with schema-evolution repair.

        ``columns`` prunes the scan to the named columns (table order),
        the reference's A2 ``ColumnList`` projection pushdown
        (cstore_fdw.c:1841-1941). On parquet/orc Catalyst already prunes
        any downstream ``select`` to the scan's ReadSchema, so this is
        mere convenience; on cstore tables it is LOAD-BEARING — the
        python DataSource API has no pruning pushdown, so without it a
        projective query decodes every column of the v1.7 binary format.
        The catalog knows the positional layout (cstore columns are
        append-only), passes the physical positions to the reader
        (``column_positions`` option), and unread columns' exists/value
        buffers are never touched (cstore_reader.c:501-526 parity).

        Columns added after data was written are synthesized from the
        stored constant default (or NULL) via read-time projection —
        the reference does the same at deserialization time
        (cstore_reader.c:1224-1292). Dropped columns simply leave their
        data unreferenced (column pruning never reads them).

        ``as_of_epoch`` reads a historical snapshot: only files whose
        ``e{epoch}-`` stamp is ≤ the given epoch (append-only time
        travel, free with the epoch-stamped append protocol — each
        insert()'s epoch is a commit id). History extends back to the
        last file REWRITE: compact/delete_where/MERGE/OVERWRITE/TRUNCATE
        replace or drop files, record the rewrite epoch as the table's
        ``history_floor``, and requesting a snapshot BELOW the floor
        raises a clear vacuumed-snapshot error — never silently wrong
        rows. Same contract as VACUUM'd MVCC or an expired Iceberg
        snapshot. Current epoch: ``current_epoch()``; a snapshot past
        it raises too.
        """
        meta = self._load_meta(name)
        if columns is not None:
            known = set(meta.schema().fieldNames())
            missing = [c for c in columns if c not in known]
            if missing:
                raise CStoreError(
                    f'column(s) {missing} do not exist in "{name}"')
        self._recover_compact(meta, self._format(meta))
        return self._scan(meta, self._visible_files(meta, as_of_epoch),
                          columns, live=True)

    def _visible_files(self, meta: TableMeta,
                       as_of_epoch: int | None = None) -> list[str]:
        """The data files a reader may see: committed (epoch stamp ≤ the
        visibility horizon — files above it belong to an uncommitted or
        crashed insert batch) and not logically dropped by a file-pruned
        rewrite whose physical unlink hasn't completed. ``as_of_epoch``
        moves the horizon back and must lie in ``[history_floor,
        write_epoch]``: below the floor the files backing it were
        vacuumed, above the current epoch no commit has made it yet."""
        if as_of_epoch is not None and as_of_epoch < meta.history_floor:
            raise CStoreError(
                f'snapshot epoch {as_of_epoch} of "{meta.name}" predates '
                f"the last file rewrite (history floor "
                f"{meta.history_floor}): the files backing it were "
                "vacuumed by compact/DELETE/MERGE/OVERWRITE/TRUNCATE")
        if as_of_epoch is not None and as_of_epoch > meta.write_epoch:
            raise CStoreError(
                f'snapshot epoch {as_of_epoch} of "{meta.name}" is past '
                f"its current epoch {meta.write_epoch}: no commit has "
                "made it yet")
        fmt = self._format(meta)
        data_path = self._data_path(meta)
        if not os.path.isdir(data_path):
            return []
        horizon = (meta.write_epoch if as_of_epoch is None
                   else as_of_epoch)
        dropped = set(meta.dropped_files)
        return [p for p in _data_files(data_path, fmt)
                if _file_epoch(p) <= horizon
                and os.path.relpath(p, data_path) not in dropped]

    def _scan(self, meta: TableMeta, paths: list[str],
              columns: list[str] | None = None,
              live: bool = False) -> DataFrame:
        """The one reader build: the data files ``paths`` (chosen by
        :meth:`_visible_files`, or a pruned subset of them) read through
        the schema-evolution projection, restricted to ``columns`` when
        given. The physical schema comes from ``paths`` alone, so no
        uncommitted or logically dropped file is ever opened.

        ``live`` reads a parquet table as :meth:`read` does (and the
        snapshot scans of the rewrites, DELETE and MERGE): when
        ``paths`` is every data file, the data directory itself loads,
        because Spark lists a parquet directory when the DataFrame is
        built, while an explicit list of more than 32 files starts a
        listing job. Every other scan, and every cstore scan, stays
        pinned to ``paths``: the cstore data source lists a directory
        only when the query runs, so a directory load would also return
        rows a later or uncommitted batch adds."""
        fmt = self._format(meta)
        target = meta.schema()
        if not paths:
            keep = set(target.fieldNames() if columns is None else columns)
            return _local_frame(self.spark, T.StructType(
                [f_ for f_ in target.fields if f_.name in keep]))
        data_path = self._data_path(meta)
        phys = _physical_schema(target, paths, data_path, fmt)
        positions = None
        if columns is not None:
            wanted = set(columns)
            if fmt == "cstore":
                # nameless positional format: physical position i backs
                # target field i (columns are append-only on cstore
                # tables); added-but-never-written columns stay out of
                # the reader schema and are synthesized by _project
                width = len(phys.fields)
                positions = [i for i, f_ in enumerate(target.fields)
                             if f_.name in wanted and i < width]
                if not positions and width:
                    # every requested column is synthesized (added but
                    # never written): read physical column 0 as a row-
                    # multiplicity carrier — _project's final select
                    # drops it, but without SOME physical column the
                    # reader would emit zero-row batches
                    positions = [0]
                phys = T.StructType(
                    [target.fields[i] for i in positions])
            else:
                phys = T.StructType(
                    [f_ for f_ in phys.fields if f_.name in wanted])
        epoch_col = None
        if fmt == "cstore":
            # input_file_name() is empty for python data sources, so the
            # epoch-scoped projection reads the per-row epoch from a
            # reader-emitted trailing column instead
            from cstore_fdw_spark.sources.cstore_datasource import EPOCH_COL
            epoch_col = EPOCH_COL
            phys = phys.add(EPOCH_COL, T.LongType())
        reader = self.spark.read.schema(phys)
        if (live and fmt != "cstore"
                and len(paths) == sum(1 for _ in _data_files(data_path, fmt))):
            paths = [data_path]
        else:
            # explicit file lists disable partition discovery unless the
            # hive-layout root is pinned
            reader = reader.option("basePath", data_path)
        if epoch_col:
            reader = reader.option("with_epoch", "true")
        if positions is not None:
            reader = reader.option(
                "column_positions", ",".join(map(str, positions)))
        return self._project(meta, _load_df(reader, fmt, paths),
                             epoch_col=epoch_col, subset=columns)

    def _project(self, meta: TableMeta, df: DataFrame,
                 epoch_col: str | None = None,
                 subset: list[str] | None = None) -> DataFrame:
        """Schema-evolution read repair (A22): synthesize added columns /
        constant defaults for rows that pre-date them (reference
        cstore_reader.c:1224-1292). ``epoch_col`` names a reader-emitted
        per-row epoch column (cstore reads — input_file_name() is empty
        for python data sources); it never reaches the caller (the final
        select projects only target columns). ``subset`` restricts the
        output to a pruned projection (read(columns=...) — fields
        outside it are neither read nor repaired)."""
        ep = (F.col(epoch_col) if epoch_col is not None
              else _epoch_expr())
        target = meta.schema()
        keep = None if subset is None else set(subset)
        projections = []
        for f_ in target.fields:
            if keep is not None and f_.name not in keep:
                continue
            if f_.name in df.columns:
                col = F.col(f_.name).cast(f_.dataType)
                reset = meta.column_reset_epoch.get(f_.name)
                if reset is not None:
                    # the column was DROPPED at this epoch and later
                    # re-added: physical bytes in files at/below it are
                    # the DEAD column's — read them as NULL (the default
                    # backfill below then applies on top)
                    col = F.when(ep <= F.lit(reset),
                                 F.lit(None).cast(f_.dataType)
                                 ).otherwise(col)
                wm = meta.backfill_watermark.get(f_.name)
                if wm is not None:
                    # rows from files that pre-date the column read as
                    # NULL; backfill the constant default for THOSE files
                    # only — files stamped e{epoch}- with epoch <= wm (or
                    # unstamped = epoch 0). An explicit NULL inserted
                    # after the column existed must stay NULL (PG
                    # semantics; the reference backfills only stripes
                    # older than the column, cstore_reader.c:1224-1292).
                    # A None watermark means fully baked by compact():
                    # stored values win.
                    default_lit = F.lit(
                        meta.column_defaults[f_.name]).cast(f_.dataType)
                    col = F.when(ep <= F.lit(wm),
                                 F.coalesce(col, default_lit)
                                 ).otherwise(col)
                projections.append(col.alias(f_.name))
            else:
                default = meta.column_defaults.get(f_.name)
                projections.append(F.lit(default).cast(f_.dataType)
                                   .alias(f_.name))
        return df.select(*projections)

    def current_epoch(self, name: str) -> int:
        """The table's latest committed write epoch — the snapshot id to
        pass to ``read(name, as_of_epoch=...)`` to pin "now". Epoch 0 is
        the state before any insert (or after any rewrite)."""
        return self._load_meta(name).write_epoch

    def sql_view(self, name: str, view_name: str | None = None) -> str:
        """Register the table as a temp view for spark.sql queries.

        The view→table mapping is recorded so :meth:`sql`'s automatic
        column pruning also reaches views whose name differs from the
        table's (``sql_view('t', view_name='other')``)."""
        view = view_name or name
        self.read(name).createOrReplaceTempView(view)
        self._owned_views.add(view.lower())
        self._view_aliases[view.lower()] = name
        return view

    def sql(self, query: str) -> DataFrame:
        """``spark.sql`` with the reference's automatic column pruning
        on cstore-format tables (A2, ``cstore_fdw.c:1841-1941``: EVERY
        query's ColumnList prunes the scan, not just callers of
        ``read(columns=...)``).

        Parquet/orc tables need nothing here — Catalyst's ColumnPruning
        reaches their scan's ReadSchema natively. The v1.7 binary
        format reads through the python DataSource API, which has no
        pruning pushdown, so this method closes the gap: analyze the
        query once against the current bindings, resolve which columns
        of each cstore table the plan actually references
        (:func:`plans.prune.referenced_table_columns` — the analyzed-
        plan walk), re-bind those names to pruned readers
        (``read(columns=...)`` → ``column_positions`` option), re-run,
        then restore the original bindings. Unwanted columns' skip
        lists are never parsed and their exists/value buffers never
        read (byte-span-proven in tests/test_cstore_format.py).

        Safety rails: a name is only re-bound when it resolves to the
        catalog-shaped full-width relation AND is either a session-
        catalog registration (``register_table``) or a temp view this
        catalog itself created (``sql_view``) — a user's own same-named
        temp view is left alone (the query then runs exactly as
        ``spark.sql`` would). Qualified references (``db.t``) bypass
        the temp-view shadow and stay unpruned-but-correct."""
        from cstore_fdw_spark.plans.prune import (boundary_schema,
                                                  referenced_table_columns)

        df = self.spark.sql(query)
        cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        if "Command" in cls:
            # INSERT/CREATE/... executed eagerly above — re-running the
            # text would double-execute the side effect
            return df
        cands: dict[str, str] = {}
        live = set(self.list_tables())
        for name in live:
            meta = self._load_meta(name)
            if self._format(meta) != "cstore":
                continue
            for n in {name, *meta.registered_names}:
                cands[n.lower()] = name
        # views created via sql_view(name, view_name=...) under a name
        # that differs from the table's — prune those too
        for view, name in self._view_aliases.items():
            if name in live and self._format(self._load_meta(name)) == "cstore":
                cands.setdefault(view, name)
        if not cands:
            return df
        needed = referenced_table_columns(df, set(cands))
        temp_views = {t.name.lower() for t in
                      self.spark.catalog.listTables()
                      if t.isTemporary} if needed else set()
        shadows: list[tuple[str, bool]] = []
        # try/finally: if a later read()/createOrReplaceTempView or the
        # pruned re-run raises, every shadow already created must be
        # restored — a leaked shadow would permanently narrow the
        # session's view of a full-width table
        try:
            for alias, cols in needed.items():
                name = cands[alias]
                full = self._load_meta(name).schema().fieldNames()
                is_view = alias in temp_views
                if is_view and alias not in self._owned_views:
                    continue  # user-owned view: hands off
                if boundary_schema(df, alias) != list(full):
                    continue  # name no longer resolves to the full table
                if set(cols) >= set(full):
                    continue  # full-width query: nothing to prune
                keep = [c for c in full if c in cols]
                if not keep:
                    # SELECT COUNT(*): rows-only — read the cheapest
                    # column as the row-multiplicity carrier
                    keep = [_cheapest_column(self._load_meta(name).schema())]
                self.read(name, columns=keep).createOrReplaceTempView(alias)
                self._owned_views.add(alias)
                shadows.append((alias, is_view))
            if not shadows:
                return df
            pruned = self.spark.sql(query)  # resolves against the shadows
        finally:
            for alias, was_view in shadows:
                if was_view:
                    # restore the full-width sql_view binding
                    self.read(cands[alias]).createOrReplaceTempView(alias)
                else:
                    self.spark.catalog.dropTempView(alias)
                    self._owned_views.discard(alias)
        return pruned

    def metadata_df(self) -> DataFrame:
        """One row of catalog metadata per table: (table_name, size_bytes,
        row_count, write_epoch, storage_format, n_files).

        The SQL-queryable twin of the reference's scalar metadata
        functions (``cstore_table_size(regclass)``,
        ``cstore_fdw--1.7.sql:29``; row counts from footers,
        ``cstore_reader.c:400-462``) re-expressed the Spark way: an
        information-schema-style view instead of per-call scalar UDFs
        (Spark UDFs run executor-side, the wrong place for driver/
        metastore metadata). Everything is footer/stat reads — no data
        scan; the result is a driver-built local DataFrame, trivially
        small (one row per table), that runs no Python task."""
        rows = []
        for name in self.list_tables():
            meta = self._load_meta(name)
            rows.append((name, self.table_size(name), self.row_count(name),
                         meta.write_epoch, self._format(meta),
                         len(self._visible_files(meta))))
        return _local_frame(self.spark, T.StructType(
            [T.StructField("table_name", T.StringType()),
             T.StructField("size_bytes", T.LongType()),
             T.StructField("row_count", T.LongType()),
             T.StructField("write_epoch", T.LongType()),
             T.StructField("storage_format", T.StringType()),
             T.StructField("n_files", T.LongType())]), rows)

    def register_metadata_view(self, view_name: str = "cstore_tables") -> str:
        """Expose :meth:`metadata_df` as a temp view so metadata is plain
        SQL: ``SELECT size_bytes FROM cstore_tables WHERE table_name =
        't'`` is the engine's ``SELECT cstore_table_size('t')``. Re-call
        after DDL/DML to refresh the snapshot."""
        self.metadata_df().createOrReplaceTempView(view_name)
        return view_name

    def register_table(self, name: str, spark_name: str | None = None) -> str:
        """A15: register the managed table in Spark's session catalog as an
        external table over its data location, so ``ANALYZE TABLE`` and the
        cost-based optimizer (``spark.sql.cbo.*``) bind to it — the analog
        of the reference exposing pg_statistic rows to PostgreSQL's planner
        (cstore_fdw.c:1628-1720). Temp views and bare-path reads only ever
        see AQE's runtime stats; catalog tables get planner stats too.

        Tables with pending constant-default backfill need a read-time
        projection that a catalog table can't express — compact() first
        (it bakes the defaults into the files)."""
        meta = self._load_meta(name)
        data, fmt = self._data_path(meta), self._format(meta)
        if any(meta.backfill_watermark.get(c) is not None or c not in
               _physical_columns(list(_data_files(data, fmt)), data, fmt)
               for c in meta.column_defaults):
            raise CStoreError(
                f'table "{name}" has pending default backfill; run '
                "compact() before register_table()")
        spark_name = spark_name or name
        cols = ", ".join(f"`{f_.name}` {f_.dataType.simpleString()}"
                         for f_ in meta.schema().fields)
        part = meta.options.get("partition_by")
        part_clause = (f" PARTITIONED BY ({part})" if part else "")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{spark_name}` ({cols}) "
            f"USING {self._format(meta)}{part_clause} "
            f"LOCATION '{self._data_path(meta)}'")
        if part:
            self.spark.catalog.recoverPartitions(spark_name)
        with self._writer_lock(name):  # see add_column's lock rationale
            meta = self._load_meta(name)
            if spark_name not in meta.registered_names:
                meta.registered_names.append(spark_name)
                self._save_meta(meta)
        return spark_name

    def _refresh_registered(self, meta: TableMeta) -> None:
        """After a file-rewriting op (compact), make session-catalog
        registrations see the new files and fresh stats: REFRESH drops the
        cached file listing, ANALYZE recollects the CBO column stats (the
        reference's stripe append rewrites the footer so readers always
        see current metadata, cstore_writer.c:344-357)."""
        for spark_name in meta.registered_names:
            if self.spark.catalog.tableExists(spark_name):
                self.spark.sql(f"REFRESH TABLE `{spark_name}`")
                self.spark.sql(f"ANALYZE TABLE `{spark_name}` COMPUTE "
                               "STATISTICS FOR ALL COLUMNS")

    def _drop_registered(self, meta: TableMeta) -> None:
        for spark_name in meta.registered_names:
            self.spark.sql(f"DROP TABLE IF EXISTS `{spark_name}`")

    # ----------------------------------------------------------- evolution
    def add_column(self, name: str, column: str, dtype: str,
                   default: Any = None) -> None:
        """ALTER TABLE ADD COLUMN [DEFAULT const] — old stripes synthesize
        the default at read time (reference cstore_reader.c:1224-1248;
        only constant defaults, cstore_reader.c:1257-1292)."""
        if default is not None and isinstance(default, (list, dict)):
            raise CStoreError("unsupported non-constant default value")
        dt = T.StructType.fromDDL(f"x {dtype}")[0].dataType
        # load-mutate-save runs under the writer lock: an unlocked save
        # could clobber a concurrently committed insert's epoch bump
        # (regressing write_epoch orphan-collects that batch)
        with self._writer_lock(name):
            meta = self._load_meta(name)
            schema = meta.schema()
            if column in schema.fieldNames():
                raise CStoreError(f'column "{column}" already exists')
            schema = schema.add(column, dt)
            meta.schema_json = json.dumps(schema.jsonValue())
            if default is not None:
                meta.column_defaults[column] = default
                # record the write-epoch watermark: only rows from files
                # stamped with epoch <= this (including legacy/compacted
                # files with no stamp, which read as epoch 0) get the
                # default at read time (cstore_reader.c:1224-1292
                # backfills exactly the stripes older than the column) —
                # O(1) metadata, no file listing
                meta.backfill_watermark[column] = meta.write_epoch
            self._save_meta(meta)

    def drop_column(self, name: str, column: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only; data stays but is never
        read again (reference marks attisdropped, cstore_fdw.c:1907-1910)."""
        with self._writer_lock(name):  # see add_column's lock rationale
            meta = self._load_meta(name)
            if self._format(meta) == "cstore":
                raise CStoreError(
                    "DROP COLUMN is not supported on storage_format="
                    "cstore tables: the v1.7 format stores no column "
                    "names, so position is the mapping and dropping a "
                    "middle column would shift it; convert first via "
                    "alter_table_layout(storage_format='parquet')")
            schema = meta.schema()
            if column not in schema.fieldNames():
                raise CStoreError(f'column "{column}" does not exist')
            for opt in ("partition_by", "sort_by", "zorder_by"):
                if column in str(meta.options.get(opt, "")).split(","):
                    raise CStoreError(
                        f'cannot drop column "{column}": it is part of '
                        f'the table\'s {opt} layout declaration — change '
                        "the layout first (e.g. compact(zorder_by=[...]))")
            new = T.StructType(
                [f_ for f_ in schema.fields if f_.name != column])
            meta.schema_json = json.dumps(new.jsonValue())
            meta.column_defaults.pop(column, None)
            meta.backfill_watermark.pop(column, None)
            # the dead physical bytes stay in existing files; a future
            # re-ADD of this name must read them as NULL (PG never reads
            # an attisdropped slot again)
            meta.column_reset_epoch[column] = meta.write_epoch
            self._save_meta(meta)

    def alter_column_type(self, name: str, column: str, new_type: str) -> None:
        """A13: allow implicit coercions only (reference
        cstore_fdw.c:717-769 errors with 'Converting to ... may corrupt or
        truncate existing data')."""
        with self._writer_lock(name):  # see add_column's lock rationale
            meta = self._load_meta(name)
            if self._format(meta) == "cstore":
                raise CStoreError(
                    "ALTER COLUMN TYPE is not supported on storage_format="
                    "cstore tables: the v1.7 format stores each column "
                    "in its declared type's binary layout, so existing "
                    "stripes cannot be re-read as another type; convert "
                    "first via alter_table_layout(storage_format='parquet')")
            schema = meta.schema()
            if column not in schema.fieldNames():
                raise CStoreError(f'column "{column}" does not exist')
            old_f = schema[column]
            old_s = old_f.dataType.simpleString()
            new_dt = T.StructType.fromDDL(f"x {new_type}")[0].dataType
            new_s = new_dt.simpleString()
            if old_s != new_s and (old_s, new_s) not in _IMPLICIT_COERCIONS:
                raise CStoreError(
                    f'Converting column "{column}" from {old_s} to '
                    f"{new_s} may corrupt or truncate existing data")
            fields = [T.StructField(f_.name,
                                    new_dt if f_.name == column
                                    else f_.dataType,
                                    f_.nullable) for f_ in schema.fields]
            meta.schema_json = json.dumps(T.StructType(fields).jsonValue())
            self._save_meta(meta)

    def rename_table(self, name: str, new_name: str) -> None:
        """ALTER TABLE RENAME — metadata + directory move (the reference
        inherits rename from PostgreSQL's catalog; its data file is keyed
        by relation oid so rename is metadata-only, cstore_fdw.c uses the
        oid path. Here the default data dir moves with the table; a
        custom ``filename`` location stays put by design). Session-
        catalog registrations are dropped (they point at the old name —
        re-register under the new one)."""
        if self.exists(new_name):
            raise CStoreError(f'relation "{new_name}" already exists')
        self._drop_registered(self._load_meta(name))
        # the lock file moves with the directory and stays held; a
        # writer queued on it re-loads the meta and finds no relation
        with self._writer_lock(name):  # see add_column's lock rationale
            meta = self._load_meta(name)
            meta.registered_names = []
            meta.name = new_name
            os.rename(self.table_path(name), self.table_path(new_name))
            self._save_meta(meta)

    def rename_column(self, name: str, column: str, new_column: str) -> None:
        """ALTER TABLE RENAME COLUMN. The reference is metadata-only
        (PostgreSQL addresses columns by attnum; the data file never
        stores names) — Parquet addresses columns BY NAME, so a pure
        metadata rename would orphan existing data. Documented delta:
        this engine rewrites the data files copy-on-write (same commit
        protocol as compact/delete_where) with the column aliased; all
        evolution metadata (defaults, watermarks) follows the rename."""
        meta = self._load_meta(name)
        schema = meta.schema()
        if column not in schema.fieldNames():
            raise CStoreError(f'column "{column}" does not exist')
        if new_column in schema.fieldNames():
            raise CStoreError(f'column "{new_column}" already exists')
        base_epoch = meta.write_epoch
        df = self.read(name).withColumnRenamed(column, new_column)

        def mutate(m: TableMeta) -> None:
            flds = [T.StructField(
                        new_column if f_.name == column else f_.name,
                        f_.dataType, f_.nullable)
                    for f_ in m.schema().fields]
            m.schema_json = json.dumps(T.StructType(flds).jsonValue())
            for d in (m.column_defaults, m.backfill_watermark):
                if column in d:
                    d[new_column] = d.pop(column)
            for opt in ("partition_by", "sort_by", "zorder_by"):
                if opt in m.options:
                    m.options[opt] = ",".join(
                        new_column if c == column else c
                        for c in m.options[opt].split(","))

        # rewrite under the new schema (bakes defaults like compact).
        # The schema edit is applied to the freshly loaded meta inside
        # the lock-held commit — never saved ahead of the data swap, so
        # an aborted/conflicted rewrite leaves the table untouched.
        # The staged write needs the renamed layout options (e.g. a
        # renamed partition column), so apply the same edit to the
        # local working copy first (NOT saved).
        mutate(meta)
        self._rewrite_df(meta, df, base_epoch, mutate)

    # -------------------------------------------------------------- views
    def _view_path(self, name: str) -> str:
        return os.path.join(self.warehouse, f"_cstore_view_{name}.json")

    def create_view(self, name: str, sql: str,
                    replace: bool = False) -> None:
        """CREATE [OR REPLACE] VIEW over managed tables — the reference's
        users layer PostgreSQL views on their foreign tables
        (README.md's customer_reviews examples); here the view body is
        Spark SQL stored in the warehouse and resolved lazily at read
        time, so views always reflect current table contents."""
        if self.exists(name):
            raise CStoreError(f'relation "{name}" already exists')
        if os.path.exists(self._view_path(name)) and not replace:
            raise CStoreError(f'view "{name}" already exists')
        write_json_atomic(self._view_path(name), {
            "name": name, "sql": sql, "created_at": time.time()})

    def list_views(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.warehouse)):
            if entry.startswith("_cstore_view_") and entry.endswith(".json"):
                out.append(entry[len("_cstore_view_"):-len(".json")])
        return out

    def drop_view(self, name: str) -> None:
        try:
            os.remove(self._view_path(name))
        except FileNotFoundError:
            raise CStoreError(f'view "{name}" does not exist') from None

    def read_view(self, name: str) -> DataFrame:
        """Resolve a stored view: every managed table whose name appears
        in the view SQL (word-boundary match — the same lightweight
        resolution psql's \\d-style tooling uses) is registered as a temp
        view, then the body runs via spark.sql. Views may reference other
        views (resolved recursively, cycles rejected)."""
        return self._read_view(name, frozenset())

    def _read_view(self, name: str, seen: frozenset) -> DataFrame:
        import re as _re

        if name in seen:
            raise CStoreError(f'view "{name}" is recursively defined')
        try:
            with open(self._view_path(name)) as f:
                spec = json.load(f)
        except FileNotFoundError:
            raise CStoreError(f'view "{name}" does not exist') from None
        sql = spec["sql"]
        for t in self.list_tables():
            if _re.search(rf"\b{_re.escape(t)}\b", sql):
                self.read(t).createOrReplaceTempView(t)
        for v in self.list_views():
            if v != name and _re.search(rf"\b{_re.escape(v)}\b", sql):
                self._read_view(v, seen | {name}) \
                    .createOrReplaceTempView(v)
        return self.spark.sql(sql)

    # ----------------------------------------------------------- metadata
    def table_size(self, name: str) -> int:
        """A19 ``cstore_table_size``: on-disk bytes of all table files
        (reference cstore_fdw.c:1183-1229)."""
        if not self.exists(name):
            raise CStoreError(f'relation "{name}" is not a cstore table')
        meta = self._load_meta(name)
        roots = [self.table_path(name)]
        if "filename" in meta.options:
            roots.append(self._data_path(meta))
        total = 0
        for top in roots:
            for root, _dirs, files in os.walk(top):
                for fn in files:
                    if fn != META_FILE:
                        total += os.path.getsize(os.path.join(root, fn))
        return total

    def row_count(self, name: str) -> int:
        """A20: exact row count from Parquet footers only — no data read
        (reference sums skip-list rowCounts, cstore_reader.c:400-462)."""
        meta = self._load_meta(name)
        return _footer_rows(self._visible_files(meta), self._format(meta))

    def column_minmax(self, name: str, column: str):
        """Metadata-only ``(min, max)`` of a column: folds the per-file
        ranges of :meth:`_zone_map` (the commit-time zone maps in
        ``TableMeta.file_stats``) over the visible files — zero data
        reads, zero footer reads when stats are complete (legacy files
        fall back to one footer read each). The companion to
        :meth:`row_count` (A20) over the same rule the merge planner
        prunes with.

        Returns ``None`` whenever a metadata answer could differ from
        what a reader returns: some visible file has no range for the
        column (no usable stats, NULLs only, or rows that read a default
        the physical stats don't describe). Callers fall back to a scan
        (or :meth:`analyze`)."""
        meta = self._load_meta(name)
        if self._format(meta) not in ("parquet", "cstore"):
            return None
        if column not in meta.schema().fieldNames():
            raise CStoreError(f'column "{column}" does not exist')
        lo = hi = None
        for p in self._visible_files(meta):
            rng = self._zone_map(meta, p, column)
            if rng is None:
                return None
            lo = rng[0] if lo is None else min(lo, rng[0], key=_nan_last)
            hi = rng[1] if hi is None else max(hi, rng[1], key=_nan_last)
        return None if lo is None else (lo, hi)

    def _zone_map(self, meta: TableMeta, path: str, column: str):
        """The ``(min, max)`` a reader returns for ``column`` from data
        file ``path``, taken from the commit-time zone map; ``None``
        when the stats lack the column or :meth:`_project` replaces the
        file's stored values (a backfill watermark or drop/re-add reset
        epoch at or above the file's epoch). A file with no stats
        entry (a pre-stats meta) costs one parquet footer read; a cstore
        file then has no range."""
        epoch = _file_epoch(path)
        if any(h is not None and epoch <= h
               for h in (meta.backfill_watermark.get(column),
                         meta.column_reset_epoch.get(column))):
            return None
        ent = meta.file_stats.get(
            os.path.relpath(path, self._data_path(meta)))
        if ent is None:
            return (_parquet_minmax(path, column)
                    if self._format(meta) == "parquet" else None)
        pair = ent.get(column)
        return (None if pair is None
                else (_stats_decode(pair[0]), _stats_decode(pair[1])))

    def analyze(self, name: str) -> dict[str, Any]:
        """A14 ANALYZE: column statistics for the optimizer. The reference
        reservoir-samples into pg_statistic for PostgreSQL's planner
        (cstore_fdw.c:2061-2260). Two consumers here:

        - If the table is registered in Spark's session catalog
          (:meth:`register_table`), a real ``ANALYZE TABLE … COMPUTE
          STATISTICS FOR ALL COLUMNS`` runs first, so Catalyst's CBO
          (``spark.sql.cbo.*``) sees row counts and column stats — the
          actual pg_statistic analog (verified by a plan test asserting a
          stats-driven broadcast decision).
        - The same summary (count, ndv, min, max, nulls) is also computed
          with one distributed aggregate and returned for engine callers;
          un-registered path reads rely on AQE's runtime stats instead.
        """
        if self.spark.catalog.tableExists(name):
            self.spark.sql(
                f"ANALYZE TABLE `{name}` COMPUTE STATISTICS FOR ALL COLUMNS")
        df = self.read(name)
        aggs: list = [F.count(F.lit(1)).alias("__rows")]
        for f_ in df.schema.fields:
            c = f_.name
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndv"))
            aggs.append(F.sum(F.col(c).isNull().cast("long"))
                        .alias(f"{c}__nulls"))
            if isinstance(f_.dataType, (T.NumericType, T.DateType,
                                        T.TimestampType, T.StringType)):
                aggs.append(F.min(c).alias(f"{c}__min"))
                aggs.append(F.max(c).alias(f"{c}__max"))
        row = df.agg(*aggs).collect()[0].asDict()
        stats: dict[str, Any] = {"rows": row.pop("__rows")}
        for key, val in row.items():
            col, stat = key.rsplit("__", 1)
            stats.setdefault(col, {})[stat] = val
        return stats

    def analyze_histograms(self, name: str,
                           bins: int = 16) -> dict[str, list[float]]:
        """Equi-depth histograms per numeric column (the pg_statistic
        ``histogram_bounds`` analog — the reference's ANALYZE fills the
        same slot via PostgreSQL's sampler, cstore_fdw.c:2061-2260):
        ``bins+1`` approx-percentile boundaries per column, computed in
        ONE distributed aggregate over all columns and persisted in the
        table metadata for planner-side use. Approximate on purpose
        (t-digest under ``approx_percentile``) — histograms inform
        estimates, they never gate correctness."""
        df = self.read(name)
        num_cols = [f_.name for f_ in df.schema.fields
                    if isinstance(f_.dataType, T.NumericType)]
        if not num_cols:
            return {}
        # Run the (long) distributed aggregate FIRST, outside any lock;
        # only then take the writer lock and re-load a FRESH meta to
        # mutate. Saving a meta snapshot taken before the aggregate
        # would clobber any insert/compact that committed meanwhile
        # (rolled-back write_epoch → its epoch-stamped files look
        # uncommitted → the next writer's _recover_orphans deletes
        # committed data).
        qs = F.array(*[F.lit(i / bins) for i in range(bins + 1)])
        row = df.agg(*[
            F.percentile_approx(F.col(c).cast("double"), qs)
            .alias(c) for c in num_cols]).collect()[0].asDict()
        hists = {c: [float(v) for v in bounds]
                 for c, bounds in row.items() if bounds is not None}
        n_rows = self.row_count(name)
        with self._writer_lock(name):
            meta = self._load_meta(name)
            meta.histograms = hists
            meta.histogram_rows = n_rows
            self._save_meta(meta)
        return hists

    def estimate_rows(self, name: str, column: str,
                      lo: float | None = None,
                      hi: float | None = None) -> int | None:
        """Selectivity estimate for ``lo <= column < hi`` from the
        persisted equi-depth histogram — each bucket holds rows/bins
        rows, partial buckets interpolate linearly (the textbook
        estimator every CBO runs). Returns None when no histogram was
        analyzed; estimates NEVER replace execution, they order join
        sides and size shuffles."""
        meta = self._load_meta(name)
        if column not in meta.histograms:
            return None
        bounds = meta.histograms[column]
        rows = int(meta.histogram_rows)
        bins = len(bounds) - 1
        if bins <= 0 or rows <= 0:
            return None
        per_bucket = rows / bins
        lo = bounds[0] if lo is None else lo
        hi = bounds[-1] if hi is None else hi
        total = 0.0
        for i in range(bins):
            b_lo, b_hi = bounds[i], bounds[i + 1]
            if b_hi <= lo or b_lo >= hi:
                continue
            if b_hi == b_lo:
                total += per_bucket  # zero-width (heavy value) bucket
                continue
            frac = ((min(hi, b_hi) - max(lo, b_lo)) / (b_hi - b_lo))
            total += per_bucket * max(0.0, min(1.0, frac))
        return int(round(total))


def _cheapest_column(schema: T.StructType) -> str:
    """The narrowest column to scan when a query needs row multiplicity
    only (COUNT(*)): fixed-width beats varlena, narrow beats wide —
    the reference's own rows-only reads walk skip lists instead, but a
    pruned 1-column read is the closest Spark-side analog."""
    width = {"boolean": 1, "short": 2, "integer": 4, "float": 4,
             "date": 4, "long": 8, "double": 8, "timestamp": 8}
    return min(schema.fields,
               key=lambda f_: width.get(f_.dataType.typeName(), 64)).name


def _data_files(path: str, fmt: str):
    suffix = f".{fmt}"
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) or (fmt == "orc" and fn.endswith(".orc")):
                yield os.path.join(root, fn)


def _footer_rows(paths: list[str], fmt: str) -> int:
    """Total row count of the data files ``paths`` from their footers
    alone, no data read: the parquet or ORC footer, or a cstore file's
    skip lists (the reference's row count walks them,
    cstore_reader.c:400-462)."""
    total = 0
    for path in paths:
        if fmt == "orc":
            from pyarrow import orc as pa_orc
            total += pa_orc.ORCFile(path).nrows
        elif fmt == "cstore":
            from cstore_fdw_spark.sources.cstore_format import (
                cstore_row_count)
            total += cstore_row_count(path)
        else:
            total += pq.ParquetFile(path).metadata.num_rows
    return total


def _has_data_files(path: str, fmt: str) -> bool:
    if not os.path.isdir(path):
        return False
    return next(iter(_data_files(path, fmt)), None) is not None


def _file_schema_names(path: str, fmt: str) -> list[str]:
    if fmt == "orc":
        from pyarrow import orc as pa_orc
        return pa_orc.ORCFile(path).schema.names
    return pq.read_schema(path).names


def _save_df(writer, fmt: str, path: str) -> None:
    """Format-dispatched write of a built-in format (parquet, orc); a
    cstore table stages through :func:`_stage_cstore`."""
    getattr(writer, fmt)(path)


def _stage_cstore(df: DataFrame, staged: str,
                  options: dict[str, str]) -> None:
    """Write ``df`` into the new directory ``staged`` as cstore files,
    one per non-empty partition, through one ``mapInArrow`` over the
    sink's per-partition writer (:func:`_cstore_stage_task`). The
    ``format("cstore")`` sink would start a data-source write worker
    and a commit worker on top, and its commit ignores which files the
    tasks wrote. Here each task returns its file, and every file in
    ``staged`` that no task reported (a failed or speculative
    attempt's) is deleted before any commit can move it."""
    os.makedirs(staged)
    task = _cstore_stage_task(df.schema, dict(options, path=staged))
    reported = {r.file for r in df.mapInArrow(task, "file string").collect()}
    for fn in os.listdir(staged):
        if fn.removesuffix(".footer") not in reported:
            os.remove(os.path.join(staged, fn))


def _cstore_stage_task(schema: T.StructType, options: dict[str, str]):
    """The ``mapInArrow`` function of :func:`_stage_cstore`: one
    partition's Arrow batches through :meth:`CStoreWriter.write`, then
    one row naming the file it wrote (no row for an empty
    partition)."""
    from cstore_fdw_spark.sources.cstore_datasource import CStoreWriter

    def write_part(batches):
        import pyarrow as pa

        done = CStoreWriter(schema, options, overwrite=False).write(batches)
        if done.file is not None:
            yield pa.RecordBatch.from_pydict({"file": [done.file]})

    return write_part


def _local_frame(spark: SparkSession, schema: T.StructType,
                 rows: Iterable[tuple] = ()) -> DataFrame:
    """A driver-built DataFrame of ``rows`` (tuples in ``schema``
    order), made from one Arrow table. Spark plans it as a local
    relation, so reading it runs no Python task, and with no rows it
    has no partitions; a frame over a Python list would ship its rows
    through a Python worker per partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow), schema)


def _load_df(reader, fmt: str, paths: list[str]) -> DataFrame:
    """Format-dispatched read of ``paths`` in one load, so one scan."""
    return reader.format(fmt).load(paths)


def _physical_columns(paths: list[str], data_path: str,
                      fmt: str) -> set[str]:
    """Union of column names physically present in the data files
    ``paths`` (plus the hive-style partition columns of their
    directories under ``data_path``)."""
    phys_names: set[str] = set()
    for path in paths:
        rel = os.path.relpath(os.path.dirname(path), data_path)
        phys_names.update(d.split("=", 1)[0]
                          for d in rel.split(os.sep) if "=" in d)
        phys_names.update(_file_schema_names(path, fmt))
    return phys_names


def _physical_schema(target: T.StructType, paths: list[str],
                     data_path: str, fmt: str) -> T.StructType:
    """Schema to hand the file reader of ``paths``: target columns that
    physically exist in those files (added-but-never-written columns
    must not be requested from the reader)."""
    if fmt == "cstore":
        # nameless format: physical columns are a PREFIX of the target
        # schema (columns are append-only on cstore tables — DROP COLUMN
        # is rejected); width = the widest file's stripe-footer column
        # count, so a column added then inserted reads from new files
        # and NULL-pads from old ones
        from cstore_fdw_spark.sources.cstore_format import (
            cstore_column_count)
        width = max(map(cstore_column_count, paths), default=0)
        return T.StructType(
            target.fields[:min(width, len(target.fields))])
    phys_names = _physical_columns(paths, data_path, fmt)
    fields = [f_ for f_ in target.fields if f_.name in phys_names]
    return T.StructType(fields)


def _uri_to_path(uri: str) -> str:
    """Local filesystem path from Spark's ``input_file_name()`` URI
    (``file:///...`` with percent-encoding)."""
    from urllib.parse import unquote, urlparse
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else unquote(uri)


def _parquet_minmax(path: str, column: str):
    """(min, max) of ``column`` across a parquet file's row groups,
    from FOOTER STATISTICS only — no data pages read; the zone-map
    lookup behind merge-key file pruning (the reference's analog is the
    per-block skip list, cstore_reader.c:400-462). None when the column
    or any row group's stats are absent (callers must treat the file as
    possibly-touched)."""
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    if column not in names:
        return None
    return _row_group_minmax(md, names.index(column))


def _row_group_minmax(md, ci: int):
    """(min, max) of leaf column ``ci`` folded over every row group's
    footer statistics in the parquet metadata ``md``; None when any row
    group lacks them (or there are none)."""
    mins, maxs = [], []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        mins.append(st.min)
        maxs.append(st.max)
    return (min(mins), max(maxs)) if mins else None


def _nan_last(v):
    """Sort key putting NaN above every number — Spark's min/max order,
    and the cstore writer's skip-node bounds order."""
    return (v != v, v)


def _stats_encode(v):
    """JSON-safe encoding of a parquet footer min/max value; ``None``
    when the type can't round-trip losslessly (bytes and exotic logical
    types) — those columns are simply omitted from the persisted zone
    map and their files stay unpruned candidates."""
    import datetime
    from decimal import Decimal
    if isinstance(v, bool) or type(v) in (int, float, str):
        return v
    if isinstance(v, datetime.datetime):
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["date", v.isoformat()]
    if isinstance(v, Decimal):
        return ["dec", str(v)]
    return None


def _stats_decode(v):
    """Inverse of :func:`_stats_encode` — returns the same Python type
    the raw footer statistic had, so pruning comparisons behave exactly
    like the legacy direct-footer path."""
    if isinstance(v, list) and len(v) == 2:
        import datetime
        from decimal import Decimal
        kind, s = v
        if kind == "date":
            return datetime.date.fromisoformat(s)
        if kind == "ts":
            return datetime.datetime.fromisoformat(s)
        if kind == "dec":
            return Decimal(s)
    return v


def _file_stats_from_cstore(path: str, schema: T.StructType) \
        -> dict[str, list]:
    """Per-column ``[min, max]`` of one cstore file from its skip lists
    only — the cstore twin of :func:`_file_stats_from_footer`. Text
    columns are omitted (their skip-node bounds are collation-ordered
    in foreign files; pruning against them could drop rows)."""
    from cstore_fdw_spark.sources.cstore_datasource import (
        spark_type_to_cstore)
    from cstore_fdw_spark.sources.cstore_format import cstore_file_minmax

    try:
        type_names = [spark_type_to_cstore(f.dataType)
                      for f in schema.fields]
        folds = cstore_file_minmax(path, type_names)
    except Exception:
        return {}
    out: dict[str, list] = {}
    for f, tn, mm in zip(schema.fields, type_names, folds):
        if mm is None or tn == "string":
            continue
        lo, hi = _stats_encode(mm[0]), _stats_encode(mm[1])
        if lo is not None and hi is not None:
            out[f.name] = [lo, hi]
    return out


def _file_stats_from_footer(path: str) -> dict[str, list]:
    """Per-column ``[min, max]`` of one parquet file from FOOTER
    statistics only (no data pages), encoded JSON-safe for the table
    metadata. Computed once per file at commit time; columns missing
    stats in any row group, nested leaves, and non-round-trippable
    types are omitted."""
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    out: dict[str, list] = {}
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    for ci, col in enumerate(names):
        if "." in col:  # nested leaf, not a prunable top-level column
            continue
        try:
            rng = _row_group_minmax(md, ci)
            if rng is None:
                continue
            lo, hi = _stats_encode(rng[0]), _stats_encode(rng[1])
        except Exception:  # unextractable/incomparable stats: omit column
            continue
        if lo is not None and hi is not None:
            out[col] = [lo, hi]
    return out


def _epoch_expr():
    """Column expression for a row's source-file write epoch: files
    stamped ``e{epoch:012d}-`` carry it in the name; unstamped
    (rewritten/legacy) files read as epoch 0."""
    raw = F.regexp_extract(F.input_file_name(), r"/e(\d{12})-[^/]*$", 1)
    return F.when(raw == "", F.lit(0)).otherwise(raw.cast("bigint"))


def _rows_per_file(options: dict[str, Any]) -> int:
    """Rows per written data file: ten stripes."""
    return int(options.get("stripe_row_count",
                           DEFAULT_STRIPE_ROW_COUNT)) * 10


def _layout(df: DataFrame, options: dict[str, Any], total: int) -> DataFrame:
    """The rewrite layout for ``df`` (``total`` rows) under ``options``:
    co-locate each partition's rows so the writer emits few files per
    partition directory; else cluster on the persisted Morton order
    (bits and scale); else repartition to stripe-sized files."""
    part = options.get("partition_by")
    if part:
        return df.repartition(*part.split(","))
    if not total:
        return df
    n_files = max(1, -(-total // _rows_per_file(options)))
    zspec = options.get("zorder_by")
    if zspec:
        from cstore_fdw_spark.sources import zorder
        return zorder.zorder_by(
            df, zspec.split(","), n_files,
            bits=int(options.get("zorder_bits", 16)),
            scale=str(options.get("zorder_scale", "minmax")))
    return df.repartition(n_files)


def _stamp(staged: str, epoch: int) -> None:
    """Bake the ``e{epoch:012d}-`` prefix into every staged file name
    and drop the writer's ``_SUCCESS``/``.crc`` side files — inside the
    staging directory, so nothing is visible yet."""
    prefix = f"e{epoch:012d}-"
    for root, _dirs, files in os.walk(staged):
        for fn in files:
            if fn.startswith(("_", ".")):
                os.remove(os.path.join(root, fn))
            else:
                os.rename(os.path.join(root, fn),
                          os.path.join(root, prefix + fn))


def _move_in(staged: str, data_path: str, epoch: int) -> None:
    """Stamp the staged files with ``epoch`` and move them into
    ``data_path``, partition subdirectories included. The batch lands
    whole or not at all: an in-process failure moves the files already
    moved back out. The caller's metadata save is the visibility
    commit."""
    _stamp(staged, epoch)
    moved: list[tuple[str, str]] = []
    try:
        for root, _dirs, files in os.walk(staged):
            dest = os.path.normpath(
                os.path.join(data_path, os.path.relpath(root, staged)))
            os.makedirs(dest, exist_ok=True)
            for fn in files:
                s_, d_ = os.path.join(root, fn), os.path.join(dest, fn)
                os.replace(s_, d_)
                moved.append((s_, d_))
    except BaseException:
        for s_, d_ in reversed(moved):
            with contextlib.suppress(OSError):
                os.replace(d_, s_)
        raise


def _swap_in(data_path: str, staged: str) -> None:
    """Replace the data directory with ``staged`` by two renames (data →
    ``data.compact.old``, stage → data); the second is the commit
    point. A crash between them leaves every old row in
    ``data.compact.old``, which ``_recover_compact`` rolls back."""
    old = data_path + _OLD
    if os.path.isdir(data_path):
        os.rename(data_path, old)
    os.rename(staged, data_path)
    shutil.rmtree(old, ignore_errors=True)


def _link_data_file(src: str, dest: str) -> None:
    """Hard-link a data file and its cstore ``.footer`` sidecar, if
    any, to ``dest`` (a real copy across devices)."""
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pairs = [(src, dest)]
    if os.path.exists(src + ".footer"):
        pairs.append((src + ".footer", dest + ".footer"))
    for s_, d_ in pairs:
        try:
            os.link(s_, d_)
        except OSError:  # cross-device: degrade to a real copy
            shutil.copy2(s_, d_)


def _unlink_data_file(path: str) -> None:
    """Remove a data file and its cstore ``.footer`` sidecar; a file
    already gone is fine (the GC is idempotent)."""
    for p in (path, path + ".footer"):
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)


def _refuse_if_moved(fresh: TableMeta, base_epoch: int,
                     staged: str) -> None:
    """The rewrite commits' conflict rule, checked under the writer
    lock: if another writer committed since ``base_epoch``, remove the
    stage and raise :class:`CStoreConcurrentWriteError`."""
    if fresh.write_epoch != base_epoch:
        shutil.rmtree(staged, ignore_errors=True)
        raise CStoreConcurrentWriteError(
            f'concurrent write to "{fresh.name}" (epoch {base_epoch} '
            f"→ {fresh.write_epoch}) invalidated this rewrite")


def _retry(what: str, attempt, *args):
    """Run an optimistic write up to three times: a
    :class:`CStoreConcurrentWriteError` means another writer committed
    first, and the next attempt starts from a fresh read. Losing three
    times in a row means sustained concurrent ingest — the caller
    should schedule the write differently."""
    for _ in range(3):
        try:
            return attempt(*args)
        except CStoreConcurrentWriteError:
            continue
    raise CStoreConcurrentWriteError(
        f"{what} lost the commit race 3 times to concurrent writers; "
        "retry when ingest quiesces")
