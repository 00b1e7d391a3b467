"""Streaming maintenance for C-Store-style projections: the sorted
redundant copy stays in sync by appending each micro-batch of the
base's file stream through the same range-sorted write as the batch
``refresh_projection`` (``projections._sorted``).

The stream source, the source-rewrite guard, the exactly-once ledger
and its crash recovery are the derived-table protocol of
``cstore_fdw_spark.derived``; for an append, a replayed batch is purely
skip-or-finish. Sorting is per batch: each appended batch's files cover
disjoint sort-key ranges, so zone maps prune within every batch;
periodic ``catalog.compact`` on the projection re-sorts across batches
exactly as it does for the batch-refreshed path.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark import derived
from cstore_fdw_spark.catalog import CStoreCatalog
from cstore_fdw_spark.projections import _PROJECTIONS, _sorted
from cstore_fdw_spark.streaming.runner import start_foreach_batch

STREAM_LEDGER = _PROJECTIONS.ledger


def maintain_projection_stream(catalog: CStoreCatalog, name: str,
                               checkpoint: str,
                               available_now: bool = True
                               ) -> StreamingQuery:
    """Continuously append the base table's file stream into the
    projection, sorted. One maintainer per projection: either this
    stream or batch ``refresh_projection``, not both (independent
    bookkeeping would double-append)."""
    return start_foreach_batch(
        derived.source_stream(catalog, _PROJECTIONS, name, "base"),
        derived.batch_sink(catalog, _PROJECTIONS, name, checkpoint, "base",
                           _sorted),
        checkpoint, available_now)
