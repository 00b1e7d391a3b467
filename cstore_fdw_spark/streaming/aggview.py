"""Streaming twin of the incremental aggregate view: materialized-view
maintenance driven by Structured Streaming micro-batches.

The batch path (``cstore_fdw_spark.aggview.refresh_agg_view``) pulls:
each refresh scans the epochs committed since its watermark. This twin
pushes: a file-source stream over the source table's data directory
delivers newly committed stripe files as micro-batches, and
``foreachBatch`` merges each batch's partial aggregate into the stored
state through the SAME ``_merge_exprs`` — proving the mergeable-state
operator is identical under both drivers (the equality test in
``tests/test_streaming.py`` runs both to completion and compares state
bit-for-bit).

Exactly-once: ``foreachBatch`` alone replays batches after a restart.
The sink reuses the batch refresh's write-ahead-pending discipline
rather than the weaker at-least-once ledger of ``streaming.ingest``: a
pending record {batch_id, view_epoch} lands in the stream ledger BEFORE
the state commit, and recovery decides which side of the commit the
crash fell on from the view's own epoch-stamped data files (a visible
file stamped ``e{view_epoch}-`` proves the overwrite-insert's
visibility commit happened). Replayed or crash-recovered batches are
then skipped or finalized — never re-merged.

A view is maintained by ONE driver: either batch ``refresh_agg_view``
or this stream. The stream ledger and the refresh watermark are
independent bookkeeping; interleaving both against the same view would
double-merge (the equality test maintains two views, one per driver).

Demo caveat, documented not hidden: the file source treats file arrival
in the data directory as the commit signal, while batch readers filter
on the committed epoch. A writer that crashed after staging but before
its visibility commit can therefore stream a batch the table never
committed — on a real deployment the stream would tail the commit log
(epoch metadata) instead of the directory. The append path's recovery
GC makes this window rare; the exactly-once ledger above is unaffected.

Source REWRITES (compact/DELETE/MERGE/OVERWRITE, or drop-and-recreate)
are incompatible with a running stream: the file source would re-deliver
rewritten rows as fresh batches and double-merge them. The ledger
records the source's ``history_floor``/``created_at`` at first batch and
every subsequent batch fails loudly if they moved
(``_guard_source_stability``) — mirroring the batch refresh's floor
discipline, where the same signal forces a full recompute instead.

Scale: state size is |groups|, micro-batch work is one partial
aggregate over the new files plus a |groups|-sized merge — the same
O(delta + state) per step as the batch refresh, now amortized
continuously instead of paid nightly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark.aggview import (
    _aggregate, _load_spec, _merge_exprs, _refresh_lock)
from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError
# a module global of its own, so a test can fail the ledger write
from cstore_fdw_spark.fsutil import write_json_atomic as _save_ledger
from cstore_fdw_spark.streaming.ingest import _load_ledger

STREAM_LEDGER = "_cstore_aggview_stream.json"


def _ledger_path(catalog: CStoreCatalog, view: str) -> str:
    return os.path.join(catalog.table_path(view), STREAM_LEDGER)


def source_stream(catalog: CStoreCatalog, view: str,
                  source_key: str = "source") -> DataFrame:
    """File-source stream over the view's source table data directory:
    each committed insert's stripe files arrive as micro-batches.
    Dispatches on the source's storage_format like the batch readers
    (parquet and orc are both valid table options)."""
    spec = _load_spec(catalog, view)
    smeta = catalog._load_meta(spec[source_key])
    reader = (catalog.spark.readStream
              .schema(smeta.schema())
              .option("maxFilesPerTrigger", "1"))
    fmt = catalog._format(smeta)
    if fmt == "orc":
        return reader.orc(catalog._data_path(smeta))
    return reader.parquet(catalog._data_path(smeta))


def _guard_source_stability(catalog: CStoreCatalog, entry: dict,
                            source: str, what: str) -> None:
    """Streaming twin of the batch refresh's floor discipline: the file
    source replays FILES, not epochs, so a compact/DELETE/MERGE/
    OVERWRITE on the source (which moves ``history_floor``) or a
    drop-and-recreate (new ``created_at``) rewrites rows into new files
    the stream would re-deliver and re-merge — silent double-counting,
    with deleted rows never retracted. The batch refreshers detect this
    via the spec's recorded floor/identity and force a full recompute;
    a running stream cannot (its state merge is incremental by
    construction), so it records both values in the stream ledger at
    first batch and FAILS LOUDLY when they move. Recovery: stop the
    stream, rebuild the view (batch full refresh), restart with a fresh
    checkpoint + ledger. Source rewrites are incompatible with a
    running stream — documented, now enforced."""
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
            f'source table "{source}" of streaming-maintained {what} was '
            f"rewritten under a running stream (history_floor "
            f"{rec_floor} -> {smeta.history_floor}, identity "
            f"{'changed' if smeta.created_at != rec_created else 'kept'}): "
            "the file stream would re-deliver rewritten rows and "
            "double-merge them. Stop the stream, fully rebuild the "
            "target, and restart with a fresh checkpoint.")


def view_maintainer(catalog: CStoreCatalog, view: str, checkpoint: str,
                    partial_of=None, source_key: str = "source"):
    """The exactly-once ``foreachBatch`` sink maintaining ``view``.
    ``partial_of(batch_df, spec)`` builds the micro-batch's partial
    aggregate (default: the single-table groupBy — the join twin plugs
    in its stream-static enrichment here). ``source_key`` names the
    spec field holding the STREAMED table (the floor guard watches that
    table; the join twin's static dim side is reconciled by the batch
    refresher instead, see maintain_join_agg_view_stream)."""
    ledger_key = os.path.abspath(checkpoint)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spec = _load_spec(catalog, view)
        keys, measures = spec["keys"], spec["measures"]
        with _refresh_lock(catalog, view):
            path = _ledger_path(catalog, view)
            ledger = _load_ledger(path)
            entry = ledger.get(ledger_key, {"last_batch": -1,
                                            "pending": None})
            _guard_source_stability(catalog, entry, spec[source_key],
                                    f'aggregate view "{view}"')
            ledger[ledger_key] = entry  # persist first-batch recording
            _save_ledger(path, ledger)
            pending = entry.get("pending")
            if pending:
                # same commit-marker evidence as aggview._recover_pending:
                # the stamped file proves the state insert became visible
                if catalog._epoch_committed(view,
                                            int(pending["view_epoch"])):
                    entry["last_batch"] = int(pending["batch_id"])
                entry["pending"] = None
                ledger[ledger_key] = entry
                _save_ledger(path, ledger)
            if batch_id <= entry["last_batch"]:
                return  # replay of an already-merged batch
            partial = (_aggregate(batch_df, keys, measures)
                       if partial_of is None
                       else partial_of(batch_df, spec))
            state = (catalog.read(view).unionByName(partial)
                     .groupBy(*keys).agg(*_merge_exprs(measures)))
            vmeta = catalog._load_meta(view)
            entry["pending"] = {"batch_id": batch_id,
                                "view_epoch": vmeta.write_epoch + 1}
            ledger[ledger_key] = entry
            _save_ledger(path, ledger)
            catalog.insert(view, state, overwrite=True)
            entry["last_batch"] = batch_id
            entry["pending"] = None
            ledger[ledger_key] = entry
            _save_ledger(path, ledger)

    return apply_batch


def maintain_agg_view_stream(catalog: CStoreCatalog, view: str,
                             checkpoint: str,
                             available_now: bool = True) -> StreamingQuery:
    """Continuously maintain an aggregate view from its source's file
    stream. ``available_now=True`` drains the current source content and
    stops (tests/backfills); the default False runs continuously."""
    writer = (source_stream(catalog, view).writeStream
              .foreachBatch(view_maintainer(catalog, view, checkpoint))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def maintain_join_agg_view_stream(catalog: CStoreCatalog, view: str,
                                  checkpoint: str,
                                  available_now: bool = True
                                  ) -> StreamingQuery:
    """Streaming twin for JOIN aggregate views: the FACT side streams,
    each micro-batch enriches against the dimension read AT BATCH TIME
    (classic stream-static join), aggregates, and merges through the
    same exactly-once ledger as the single-table twin.

    Honest contract — the stream maintains only the ΔF ⋈ D term of the
    delta algebra: a dim row that arrives AFTER a fact batch was
    processed does not retroactively join that batch (stream-static
    semantics). Deployments with appending dims run the batch
    ``refresh_join_agg_view`` (which carries the F_old ⋈ ΔD term) as
    the reconciler; with a static dim the stream alone is provably
    equal to the batch refresh (``tests/test_streaming.py``)."""
    def join_partial(batch_df: DataFrame, spec: dict) -> DataFrame:
        dim = catalog.read(spec["dim"])
        keys, measures = spec["keys"], spec["measures"]
        return _aggregate(batch_df.join(dim, spec["on"]), keys, measures)

    writer = (source_stream(catalog, view, source_key="fact").writeStream
              .foreachBatch(view_maintainer(catalog, view, checkpoint,
                                            partial_of=join_partial,
                                            source_key="fact"))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
