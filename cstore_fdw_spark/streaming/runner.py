"""The one fixture reader, the one availableNow drain, the one twin
runner and the one ``foreachBatch`` start behind every stream:
``fixture_stream`` turns a fixture parquet into a file-source stream,
``drain`` runs a streaming DataFrame to completion into a memory sink
and hands back the result as a batch DataFrame, ``run_twin`` builds the
streaming twin a registered query declares, and ``start_foreach_batch``
starts a stream into a catalog sink."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark.operators import events_ts_micros, parquet_schema

#: seconds a drain may run before it is stopped and reported as failed
DRAIN_TIMEOUT_S = 180


def fixture_stream(spark: SparkSession, sf_dir: str,
                   table: str) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet`` (one
    micro-batch per file in tests; Kafka/files on a real deployment),
    with the same column types as the batch ``operators.table``: the
    schema is the one that loader declares, so a table it has read
    streams without a schema-inference job."""
    # stream-rewrite-guard: exempt — this streams the READ-ONLY fixture
    # parquet directly, not a catalog table: there is no
    # history_floor/created_at that could move under the stream, and no
    # derived state is maintained from it (equality-twin harness only).
    # Streams over CATALOG tables must use the guarded reader
    # (derived.source_stream) — pinned by tests/test_streaming.py::
    # test_every_readstream_guarded_or_exempt.
    # File-source streams need a directory: stream the sf dir with a glob
    # pinned to the table's file.
    stream = (spark.readStream.schema(
        parquet_schema(spark, f"{sf_dir}/{table}.parquet"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir))
    return events_ts_micros(stream) if table == "events" else stream


def drain(df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame with Trigger.AvailableNow into the
    memory sink ``query_name`` and return that table. A query still
    running after ``DRAIN_TIMEOUT_S`` is stopped and ``TimeoutError``
    raised, so a caller never reads a partial sink.

    ``output_mode``: 'complete' for aggregations (append mode would
    withhold windows the final watermark never passes), 'append' for
    row-wise operators like dedup."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (df.writeStream.format("memory").queryName(query_name)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not drain within "
                f"{DRAIN_TIMEOUT_S} s")
    return df.sparkSession.table(query_name)


def run_twin(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """The streaming twin of the registered ``query``, drained with
    Trigger.AvailableNow: its declared states
    (``QuerySpec.twin = (source, states, finisher)``) over one stream of
    the source fixture, each drained in complete mode, then the
    finisher the batch query ends in. Every state is a mergeable rollup
    (a SUM, MAX or COUNT per key), so the drained state equals the batch
    state and the result equals the batch query's."""
    from cstore_fdw_spark.operators import load_all

    source, states, finisher = load_all()[query].twin
    stream = fixture_stream(spark, sf_dir, source)
    drained = []
    for i, state in enumerate(states):
        t = drain(state(stream), f"{query}_twin{i}", "complete")
        # rebind the drained state as a local relation: finishers join
        # the state with frames derived from itself, and Spark's
        # self-join disambiguation breaks on memory-sink views
        # (INTERNAL_ERROR: conflicting references) where a parquet scan
        # re-keys per read. Every state is model-sized by contract
        # (bounded by its keys x buckets or hours), so this collect is
        # the vocabulary-bounded tier, not a corpus collect.
        drained.append(spark.createDataFrame(t.collect(), t.schema))
    return finisher(*drained)


def start_foreach_batch(stream: DataFrame, sink, checkpoint: str,
                        available_now: bool) -> StreamingQuery:
    """Start ``stream`` into the ``foreachBatch`` function ``sink``,
    checkpointed at ``checkpoint``. ``available_now`` drains the current
    source content and stops; otherwise the query runs continuously."""
    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
