"""Streaming ingestion into managed columnar tables.

The reference's only ingestion paths are batch COPY / INSERT-SELECT
(SURVEY §1.4); this extension continuously appends micro-batches into a
catalog table via ``foreachBatch`` → :meth:`CStoreCatalog.insert`. Each
micro-batch lands as new Parquet files (new 'stripes'), preserving the
reference's append-only stripe model.

Delivery semantics: ``foreachBatch`` alone is at-least-once (a crash
between a completed append and the checkpoint commit replays the batch).
:func:`stream_into_table` upgrades that to effectively-once by recording
the last committed ``batch_id`` per (checkpoint, table) in a ledger file
next to the table and skipping replayed ids — the standard idempotent-
sink recipe from the Structured Streaming docs. The ledger is keyed by
checkpoint so independent streams into the same table don't suppress
each other's batch 0, 1, ….
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark.catalog import CStoreCatalog
from cstore_fdw_spark.fsutil import (flocked, read_json_or_empty,
                                     write_json_atomic)
from cstore_fdw_spark.streaming.runner import start_foreach_batch

_LEDGER_FILE = "_cstore_stream_batches.json"


def _ledger_path(catalog: CStoreCatalog, table: str) -> str:
    return os.path.join(catalog.table_path(table), _LEDGER_FILE)


def batch_writer(catalog: CStoreCatalog, table: str, checkpoint: str):
    """The idempotent ``foreachBatch`` sink: appends a micro-batch unless
    its ``batch_id`` was already committed for this checkpoint (replay
    after restart), then advances the ledger atomically (tmp + replace)."""
    ledger_key = os.path.abspath(checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        path = _ledger_path(catalog, table)
        # Serialize the read-modify-write under an exclusive file lock:
        # two concurrent streams into the same table each hold their own
        # ledger key, and an unlocked load→insert→replace could drop the
        # other stream's entry, re-enabling duplicate appends on replay.
        with flocked(path + ".lock"):
            ledger = read_json_or_empty(path)
            if ledger.get(ledger_key, -1) >= batch_id:
                return  # replay of an already-appended batch
            catalog.insert(table, batch_df)
            ledger[ledger_key] = batch_id
            write_json_atomic(path, ledger)

    return write_batch


def stream_into_table(catalog: CStoreCatalog, table: str, stream: DataFrame,
                      checkpoint: str,
                      trigger_available_now: bool = False) -> StreamingQuery:
    """Continuously append a streaming DataFrame into a managed table.

    Replayed micro-batches (same ``batch_id`` after a restart) are
    skipped via the table-side batch ledger, so a crash-restart cycle
    does not duplicate stripes as long as the append completed; a crash
    *mid-append* can still leave a partial batch that the replay then
    re-appends — exactly-once would need a transactional commit of data
    files + ledger together, which plain Parquet directories don't offer
    (the reference has the same window: its footer rename commits a
    stripe, cstore_writer.c:344-357).

    ``trigger_available_now=True`` drains the current source content and
    stops (used by tests and backfills); the default runs continuously.
    """
    return start_foreach_batch(stream,
                               batch_writer(catalog, table, checkpoint),
                               checkpoint, trigger_available_now)
