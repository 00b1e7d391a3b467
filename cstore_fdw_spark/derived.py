"""The one maintenance protocol behind every derived table: aggregate,
sketch and join views (``aggview``), projections (``projections``) and
their streaming maintainers (``streaming.aggview``,
``streaming.projections``).

A derived table is an ordinary managed table plus a JSON sidecar in its
directory holding the spec and, per source table, the watermark (the
source epoch it is current to) and the source's ``created_at``
identity. Each family keeps its files under its own names
(:class:`Family`); the protocol over them is this module's.

Refresh mode (:func:`refresh_mode`). ``noop`` when nothing committed
since the watermark; ``incremental`` when only appends did — only the
data files stamped after the watermark are read; ``full`` when a
rewrite (compact / DELETE / MERGE / vacuum / overwrite) raised a
source's ``history_floor`` past the watermark, or the source was
dropped and recreated under the same name (``created_at`` changed, its
epoch counter restarted). A rewrite cannot be told apart from a
destructive delete, so it always rebuilds: never silently-wrong rows.
Full rebuilds read the visible-file list captured at refresh start
(:class:`Snapshot`): a commit landing meanwhile stamps a newer epoch
and is picked up, exactly once, by the next refresh.

Crash atomicity (:func:`_commit`, :func:`_recover`). The derived
table's write and its watermark advance live in different files, so a
crash between them could re-apply the same delta and double-count. Every
write therefore runs a write-ahead pending record:

1. the record (the sidecar for a batch refresh, the stream ledger entry
   for a stream) gets ``pending`` holding ``view_epoch``, the epoch the
   write WILL stamp, plus what finishing it applies;
2. the write commits through the ordinary insert protocol;
3. the record applies the pending entry and clears it.

Recovery inspects a leftover pending entry against the derived table's
own epoch-stamped data files: a visible file stamped ``e{view_epoch}-``
proves step 2's visibility commit happened (finish it, no re-apply); no
such file proves it did not (drop the entry, redo against the intact old
table). The table's ``write_epoch`` alone is not evidence: an overwrite
saves the bumped epoch before it swaps the data directories. Refreshes
and stream batches serialize on a per-table flock, separate from the
catalog's writer lock that ``insert()`` takes inside it (flock is not
reentrant across file descriptors).

Streams (:func:`source_stream`, :func:`batch_sink`). A file-source
stream over the source's data directory delivers newly committed files
as micro-batches; ``foreachBatch`` alone replays batches after a
restart, so the sink runs the same write-ahead commit with a ledger
entry per checkpoint, and replayed or crash-recovered batches are
skipped or finished, never re-applied. A derived table has ONE
maintainer, its batch refresh or a stream: the ledger and the sidecar
watermark are independent bookkeeping, and both maintainers on one table
would apply the same rows twice. The file source re-delivers rewritten
rows as new files and a running stream cannot rebuild, so the ledger
records the source's floor and identity at the first batch and every
later batch fails loudly if they moved (:func:`_guard_source_stability`).
Demo caveat: the file source treats file arrival as the commit signal,
so a writer that crashed after staging but before its visibility commit
can stream rows the table never committed; a deployment would tail the
epoch metadata instead.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame

from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError, TableMeta
from cstore_fdw_spark.fsutil import (_file_epoch, flocked,
                                     read_json_or_empty, write_json_atomic)
# a module global of its own, so a test can fail the ledger write
from cstore_fdw_spark.fsutil import write_json_atomic as _save_ledger


@dataclass
class Family:
    """Where one family of derived tables keeps its bookkeeping, each a
    file inside the derived table's directory. The protocol saves specs
    through the instance's ``save_spec``, so a test can fail one
    family's sidecar writes."""
    sidecar: str  # spec and watermarks
    lock: str     # refresh mutex
    ledger: str   # stream ledger, one entry per checkpoint
    noun: str     # e.g. "an aggregate view", for errors

    def sidecar_path(self, catalog: CStoreCatalog, name: str) -> str:
        return os.path.join(catalog.table_path(name), self.sidecar)

    def load_spec(self, catalog: CStoreCatalog,
                  name: str) -> dict[str, Any]:
        try:
            with open(self.sidecar_path(catalog, name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise CStoreError(
                f'"{name}" is not {self.noun} (no {self.sidecar})') from None

    def save_spec(self, catalog: CStoreCatalog, name: str,
                  spec: dict[str, Any]) -> None:
        write_json_atomic(self.sidecar_path(catalog, name), spec)

    def refresh_lock(self, catalog: CStoreCatalog, name: str):
        return flocked(os.path.join(catalog.table_path(name), self.lock))


def _stem(field: str, metas: dict[str, TableMeta]) -> str:
    """Infix of the spec keys tracking the source named by spec field
    ``field``: a table with one source keeps ``last_epoch``, one with
    several keeps ``last_{field}_epoch`` per source. The source's
    identity is always ``{field}_created_at``."""
    return "" if len(metas) == 1 else f"{field}_"


def refresh_mode(spec: dict[str, Any],
                 metas: dict[str, TableMeta]) -> str:
    """``noop``, ``incremental`` or ``full`` for a derived table whose
    sources (spec field -> current metadata) are ``metas``."""
    lasts = {f: int(spec[f"last_{_stem(f, metas)}epoch"]) for f in metas}
    if any(spec.get(f"{f}_created_at") != m.created_at
           or m.history_floor > lasts[f] for f, m in metas.items()):
        return "full"
    if all(m.write_epoch == lasts[f] for f, m in metas.items()):
        return "noop"
    return "incremental"


def _watermarks(metas: dict[str, TableMeta],
                current: bool) -> dict[str, Any]:
    """The spec fields a refresh advances: every source's watermark (0
    for a new table, else the source's current epoch), then every
    source's identity."""
    marks = {f"last_{_stem(f, metas)}epoch": m.write_epoch if current else 0
             for f, m in metas.items()}
    marks.update({f"{f}_created_at": m.created_at
                  for f, m in metas.items()})
    return marks


def create(catalog: CStoreCatalog, family: Family, name: str, schema,
           spec: dict[str, Any], metas: dict[str, TableMeta],
           version: int, **options: Any) -> None:
    """Create derived table ``name`` (``schema``, table ``options``)
    and its sidecar: ``spec`` followed by watermark 0 over the sources
    ``metas`` (spec field -> metadata) and no pending record. The first
    refresh populates it."""
    catalog.create_table(name, schema, **options)
    family.save_spec(catalog, name, {
        **spec, **_watermarks(metas, current=False),
        "pending": None, "version": version})


class Snapshot(NamedTuple):
    """One source of a refresh, pinned to its metadata and visible files
    at refresh start."""
    catalog: CStoreCatalog
    meta: TableMeta
    last: int          # the derived table's watermark over this source
    files: list[str]

    def read(self, part: str = "all") -> DataFrame:
        """Rows of ``all`` visible files, of the ``new`` ones stamped
        after the watermark, or of the ``old`` ones at or below it."""
        files = [p for p in self.files if part == "all"
                 or (_file_epoch(p) > self.last) == (part == "new")]
        return self.catalog._scan(self.meta, files)


def refresh(catalog: CStoreCatalog, family: Family, name: str,
            sources: tuple[str, ...],
            build: Callable[[dict, dict, bool], tuple[DataFrame, bool]],
            check: Callable[[dict], None] = lambda spec: None
            ) -> dict[str, Any]:
    """Bring ``name`` up to its sources' current epochs; ``sources``
    are the spec fields naming its source tables. ``build(spec,
    snapshots, full)`` returns the DataFrame to write and whether it
    overwrites: ``snapshots`` maps each source field to its
    :class:`Snapshot`, ``full`` says the table rebuilds. ``check(spec)``
    may refuse the spec before anything else runs. Returns ``{"mode",
    "from_epoch", "to_epoch"}``, or with several sources ``from_/to_``
    ``{field}_epoch`` per source."""
    with family.refresh_lock(catalog, name):
        spec = family.load_spec(catalog, name)
        check(spec)

        def save() -> None:
            family.save_spec(catalog, name, spec)

        def finish(pending: dict) -> None:
            spec.update(pending["finalize"])

        _recover(catalog, name, spec, save, finish)
        metas = {f: catalog._load_meta(spec[f]) for f in sources}
        mode = refresh_mode(spec, metas)
        result, snaps = {"mode": mode}, {}
        for f, m in metas.items():
            stem = _stem(f, metas)
            last = int(spec[f"last_{stem}epoch"])
            result.update({f"from_{stem}epoch": last,
                           f"to_{stem}epoch": m.write_epoch})
            if mode != "noop":
                snaps[f] = Snapshot(catalog, m, last,
                                    catalog._visible_files(m))
        if mode == "noop":
            return result
        df, overwrite = build(spec, snaps, mode == "full")
        finalize = _watermarks(metas, current=True)
        _commit(catalog, name, spec, save, finish,
                lambda view_epoch: {"view_epoch": view_epoch,
                                    "finalize": finalize},
                df, overwrite)
        return result


def _recover(catalog: CStoreCatalog, name: str, record: dict[str, Any],
             save: Callable[[], None],
             finish: Callable[[dict], None]) -> None:
    """Resolve ``record``'s leftover pending entry, if any: ``finish``
    it when a visible data file of ``name`` carries its ``view_epoch``
    stamp, drop it otherwise; then ``save`` the record."""
    pending = record.get("pending")
    if not pending:
        return
    if catalog._epoch_committed(name, int(pending["view_epoch"])):
        finish(pending)
    record["pending"] = None
    save()


def _commit(catalog: CStoreCatalog, name: str, record: dict[str, Any],
            save: Callable[[], None], finish: Callable[[dict], None],
            pending: Callable[[int], dict], df: DataFrame,
            overwrite: bool) -> None:
    """The write-ahead commit: ``record`` gets ``pending(view_epoch)``
    (the epoch the insert below will stamp) and is saved, ``df`` is
    inserted into ``name``, then the entry is ``finish``ed, cleared and
    saved again."""
    record["pending"] = pending(catalog._load_meta(name).write_epoch + 1)
    save()
    catalog.insert(name, df, overwrite=overwrite)
    finish(record["pending"])
    record["pending"] = None
    save()


def source_stream(catalog: CStoreCatalog, family: Family, name: str,
                  source: str) -> DataFrame:
    """File-source stream over the data directory of the source table
    named by spec field ``source``: each committed insert's files arrive
    as micro-batches. Dispatches on the source's storage_format like the
    batch readers (parquet and orc are both valid table options)."""
    spec = family.load_spec(catalog, name)
    smeta = catalog._load_meta(spec[source])
    reader = (catalog.spark.readStream
              .schema(smeta.schema())
              .option("maxFilesPerTrigger", "1"))
    if catalog._format(smeta) == "orc":
        return reader.orc(catalog._data_path(smeta))
    return reader.parquet(catalog._data_path(smeta))


def _guard_source_stability(catalog: CStoreCatalog, entry: dict,
                            source: str, what: str) -> None:
    """Record the source's ``history_floor`` and ``created_at`` in the
    ledger ``entry`` at the first batch; fail loudly once either moved.
    A compact/DELETE/MERGE/OVERWRITE (which moves the floor) or a
    drop-and-recreate rewrites rows into new files the file stream
    would re-deliver and re-apply, with deleted rows never retracted. A
    batch refresh rebuilds on the same signal; a stream cannot.
    Recovery: stop the stream, rebuild the table with a batch refresh,
    restart with a fresh checkpoint and ledger."""
    smeta = catalog._load_meta(source)
    rec_floor = entry.get("source_floor")
    rec_created = entry.get("source_created_at")
    if rec_floor is None:
        entry["source_floor"] = smeta.history_floor
        entry["source_created_at"] = smeta.created_at
        return
    if (smeta.created_at != rec_created
            or smeta.history_floor > rec_floor):
        raise CStoreError(
            f'source table "{source}" of {what} was '
            f"rewritten under a running stream (history_floor "
            f"{rec_floor} -> {smeta.history_floor}, identity "
            f"{'changed' if smeta.created_at != rec_created else 'kept'}): "
            "the file stream would re-deliver rewritten rows and "
            "double-merge them. Stop the stream, fully rebuild the "
            "target, and restart with a fresh checkpoint.")


def batch_sink(catalog: CStoreCatalog, family: Family, name: str,
               checkpoint: str, source: str,
               build: Callable[[dict, DataFrame], tuple[DataFrame, bool]]):
    """The exactly-once ``foreachBatch`` sink maintaining ``name`` from
    a stream over the source named by spec field ``source``.
    ``build(spec, batch_df)`` returns the DataFrame to write and whether
    it overwrites."""
    ledger_key = os.path.abspath(checkpoint)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spec = family.load_spec(catalog, name)
        with family.refresh_lock(catalog, name):
            path = os.path.join(catalog.table_path(name), family.ledger)
            ledger = read_json_or_empty(path)
            entry = ledger.setdefault(ledger_key, {"last_batch": -1,
                                                   "pending": None})
            _guard_source_stability(catalog, entry, spec[source],
                                    f'{family.noun} "{name}"')

            def save() -> None:
                _save_ledger(path, ledger)

            def finish(pending: dict) -> None:
                entry["last_batch"] = int(pending["batch_id"])

            save()  # persist the first batch's floor and identity
            _recover(catalog, name, entry, save, finish)
            if batch_id <= entry["last_batch"]:
                return  # replay of an already-applied batch
            df, overwrite = build(spec, batch_df)
            _commit(catalog, name, entry, save, finish,
                    lambda view_epoch: {"batch_id": batch_id,
                                        "view_epoch": view_epoch},
                    df, overwrite)

    return apply_batch
