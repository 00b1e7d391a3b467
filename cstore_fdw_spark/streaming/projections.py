"""Streaming maintenance for C-Store-style projections: the sorted
redundant copy stays in sync by appending each micro-batch of the
base's file stream, range-sorted, through the same exactly-once ledger
discipline as the aggview streaming twin — completing the pattern that
every incremental-maintenance surface in this engine (aggregate view,
join view, projection) has both a batch refresher and a streaming twin.

Append semantics make the exactly-once story simpler than the view
twins: there is no merge to re-run, so a replayed batch is purely
skip-or-finalize — the pending record's epoch stamp decides whether the
append's visibility commit happened (same evidence as
``projections._recover_pending``). Sorting is per-batch: each appended
batch's files cover disjoint sort-key ranges (``repartitionByRange``),
so zone maps prune within every batch; periodic ``catalog.compact`` on
the projection re-sorts across batches exactly as it does for the
batch-refreshed path.

The same demo caveat as ``streaming.aggview`` applies: the file source
treats file arrival as the commit signal; a production deployment tails
the epoch metadata instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark.catalog import CStoreCatalog
from cstore_fdw_spark.fsutil import write_json_atomic
from cstore_fdw_spark.projections import _load_spec, _refresh_lock
from cstore_fdw_spark.streaming.aggview import _guard_source_stability
from cstore_fdw_spark.streaming.ingest import _load_ledger

STREAM_LEDGER = "_cstore_projection_stream.json"


def _ledger_path(catalog: CStoreCatalog, name: str) -> str:
    return os.path.join(catalog.table_path(name), STREAM_LEDGER)


def maintain_projection_stream(catalog: CStoreCatalog, name: str,
                               checkpoint: str,
                               available_now: bool = True
                               ) -> StreamingQuery:
    """Continuously append the base table's file stream into the
    projection, sorted. One maintainer per projection: either this
    stream or batch ``refresh_projection``, not both (independent
    bookkeeping would double-append)."""
    spec = _load_spec(catalog, name)
    bmeta = catalog._load_meta(spec["base"])
    reader = (catalog.spark.readStream
              .schema(bmeta.schema())
              .option("maxFilesPerTrigger", "1"))
    # dispatch on the base's storage_format like the batch readers
    if catalog._format(bmeta) == "orc":
        stream = reader.orc(catalog._data_path(bmeta))
    else:
        stream = reader.parquet(catalog._data_path(bmeta))
    ledger_key = os.path.abspath(checkpoint)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spec = _load_spec(catalog, name)
        sort_by = spec["sort_by"]
        with _refresh_lock(catalog, name):
            path = _ledger_path(catalog, name)
            ledger = _load_ledger(path)
            entry = ledger.get(ledger_key, {"last_batch": -1,
                                            "pending": None})
            # same floor/identity guard as the aggview stream: a base
            # rewrite re-delivers rewritten rows as "new" files and
            # would double-append them into the projection
            _guard_source_stability(catalog, entry, spec["base"],
                                    f'projection "{name}"')
            ledger[ledger_key] = entry
            write_json_atomic(path, ledger)
            pending = entry.get("pending")
            if pending:
                if catalog._epoch_committed(name,
                                            int(pending["view_epoch"])):
                    entry["last_batch"] = int(pending["batch_id"])
                entry["pending"] = None
                ledger[ledger_key] = entry
                write_json_atomic(path, ledger)
            if batch_id <= entry["last_batch"]:
                return  # replay of an already-appended batch
            pmeta = catalog._load_meta(name)
            entry["pending"] = {"batch_id": batch_id,
                                "view_epoch": pmeta.write_epoch + 1}
            ledger[ledger_key] = entry
            write_json_atomic(path, ledger)
            catalog.insert(name, batch_df.repartitionByRange(*sort_by))
            entry["last_batch"] = batch_id
            entry["pending"] = None
            ledger[ledger_key] = entry
            write_json_atomic(path, ledger)

    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
