"""The one fixture reader and the one availableNow drain behind every
streaming twin: ``fixture_stream`` turns a fixture parquet into a
file-source stream, ``drain`` runs a streaming DataFrame to completion
into a memory sink and hands back the result as a batch DataFrame."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cstore_fdw_spark.operators import events_ts_micros

#: seconds a drain may run before it is stopped and reported as failed
DRAIN_TIMEOUT_S = 180


def fixture_stream(spark: SparkSession, sf_dir: str,
                   table: str) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet`` (one
    micro-batch per file in tests; Kafka/files on a real deployment),
    with the same column types as the batch ``operators.table``."""
    # stream-rewrite-guard: exempt — this streams the READ-ONLY fixture
    # parquet directly, not a catalog table: there is no
    # history_floor/created_at that could move under the stream, and no
    # derived state is maintained from it (equality-twin harness only).
    # Streams over CATALOG tables must use the guarded readers
    # (streaming/aggview.source_stream, streaming/projections) — pinned
    # by tests/test_streaming.py::test_every_readstream_guarded_or_exempt.
    # File-source streams need a directory: stream the sf dir with a glob
    # pinned to the table's file.
    stream = (spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/{table}.parquet").schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir))
    return events_ts_micros(stream) if table == "events" else stream


def await_drained(q: StreamingQuery) -> None:
    """Wait for an availableNow query to finish; stop it and raise
    ``TimeoutError`` if it is still running after ``DRAIN_TIMEOUT_S``,
    so a caller never reads a partial sink."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{DRAIN_TIMEOUT_S} s")


def drain(df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame with Trigger.AvailableNow into the
    memory sink ``query_name`` and return that table.

    ``output_mode``: 'complete' for aggregations (append mode would
    withhold windows the final watermark never passes), 'append' for
    row-wise operators like dedup."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (df.writeStream.format("memory").queryName(query_name)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_drained(q)
    return df.sparkSession.table(query_name)
