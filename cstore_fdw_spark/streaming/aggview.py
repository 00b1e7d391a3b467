"""Aggregate-view maintenance driven by Structured Streaming
micro-batches.

The batch refresh (``cstore_fdw_spark.aggview.refresh_agg_view``) pulls:
each refresh scans the epochs committed since its watermark. A stream
pushes: a file-source stream over the source table's data directory
delivers newly committed files as micro-batches, and the
``foreachBatch`` sink merges each batch's partial aggregate into the
stored state through the view kind's own ``(partial aggregate, merge)``
pair — the one the batch refresh uses, so measures, HLL, Bloom and
quantile views land the same state under either maintainer (the equality
tests in ``tests/test_streaming.py`` run both to completion and compare
state bit-for-bit).

The stream source, the source-rewrite guard, the exactly-once ledger
and its crash recovery are the derived-table protocol of
``cstore_fdw_spark.derived``. A view has ONE maintainer:
either the batch refresh or a stream, never both.

Scale: state size is |groups|, micro-batch work is one partial
aggregate over the new files plus a |groups|-sized merge — the same
O(delta + state) per step as the batch refresh, now amortized
continuously instead of paid nightly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark import derived
from cstore_fdw_spark.aggview import _VIEWS, _kind, _require, _state
from cstore_fdw_spark.catalog import CStoreCatalog
from cstore_fdw_spark.streaming.runner import start_foreach_batch

STREAM_LEDGER = _VIEWS.ledger


def source_stream(catalog: CStoreCatalog, view: str,
                  source_key: str = "source") -> DataFrame:
    """File-source stream over the view's source table data directory
    (the spec field ``source_key`` names it): each committed insert's
    files arrive as micro-batches."""
    return derived.source_stream(catalog, _VIEWS, view, source_key)


def view_maintainer(catalog: CStoreCatalog, view: str, checkpoint: str,
                    partial_of=None, source_key: str = "source"):
    """The exactly-once ``foreachBatch`` sink maintaining ``view``.
    ``partial_of(batch_df, spec)`` builds the micro-batch's partial
    aggregate (default: the view kind's own — the join entry point
    plugs in its stream-static enrichment here). ``source_key`` names
    the spec field holding the STREAMED table (the rewrite guard watches
    that table; a join view's static dim side is reconciled by the
    batch refresher instead, see maintain_join_agg_view_stream)."""
    def build(spec: dict, batch_df: DataFrame):
        partial = (_kind(spec).partial(batch_df) if partial_of is None
                   else partial_of(batch_df, spec))
        return _state(catalog, view, spec, partial)

    return derived.batch_sink(catalog, _VIEWS, view, checkpoint,
                              source_key, build)


def maintain_agg_view_stream(catalog: CStoreCatalog, view: str,
                             checkpoint: str,
                             available_now: bool = True) -> StreamingQuery:
    """Continuously maintain a single-table aggregate or sketch view
    from its source's file stream. ``available_now=True`` drains the
    current source content and stops (tests/backfills); False runs
    continuously."""
    _require(_VIEWS.load_spec(catalog, view), view, False,
             "maintain_join_agg_view_stream")
    return start_foreach_batch(source_stream(catalog, view),
                               view_maintainer(catalog, view, checkpoint),
                               checkpoint, available_now)


def maintain_join_agg_view_stream(catalog: CStoreCatalog, view: str,
                                  checkpoint: str,
                                  available_now: bool = True
                                  ) -> StreamingQuery:
    """Stream maintenance for JOIN aggregate views: the FACT side
    streams, each micro-batch enriches against the dimension read AT
    BATCH TIME (classic stream-static join), aggregates, and merges
    through the same exactly-once sink as single-table views.

    Honest contract — the stream maintains only the ΔF ⋈ D term of the
    delta algebra: a dim row that arrives AFTER a fact batch was
    processed does not retroactively join that batch (stream-static
    semantics). Deployments with appending dims run the batch
    ``refresh_join_agg_view`` (which carries the F_old ⋈ ΔD term) as
    the reconciler; with a static dim the stream alone is provably
    equal to the batch refresh (``tests/test_streaming.py``)."""
    _require(_VIEWS.load_spec(catalog, view), view, True,
             "maintain_agg_view_stream")

    def join_partial(batch_df: DataFrame, spec: dict) -> DataFrame:
        dim = catalog.read(spec["dim"])
        return _kind(spec).partial(batch_df.join(dim, spec["on"]))

    return start_foreach_batch(
        source_stream(catalog, view, source_key="fact"),
        view_maintainer(catalog, view, checkpoint,
                        partial_of=join_partial, source_key="fact"),
        checkpoint, available_now)
