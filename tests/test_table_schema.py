"""The operators' table loader declares each table's schema once:
``operators.table`` infers a parquet file's schema on the first read and
serves it from a process-wide cache afterwards, so a later read runs no
Spark job. These tests pin when the cache must miss (a rewritten file,
a different inference setting) and that a hit changes nothing a reader
sees."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from cstore_fdw_spark.operators import clear_caches, table
from cstore_fdw_spark.session import conf_override


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` launches, counted through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rewritten_file_reads_with_its_new_schema(spark, tmp_path):
    """A file rewritten at the same path with another column type, and
    its mtime put back, is re-inferred: the key is the footer, not the
    file's timestamps."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int32())}), path)
    stamp = os.stat(path)
    assert table(spark, str(tmp_path), "t").schema["x"].dataType \
        == T.IntegerType()
    pq.write_table(pa.table({"x": pa.array(["a", "b", "c"])}), path)
    os.utime(path, ns=(stamp.st_atime_ns, stamp.st_mtime_ns))
    df = table(spark, str(tmp_path), "t")
    assert df.schema["x"].dataType == T.StringType()
    assert sorted(r.x for r in df.collect()) == ["a", "b", "c"]


def test_other_nanos_setting_infers_again(spark, tmp_path):
    """The inference settings are part of the key: with nanosAsLong off,
    a TIMESTAMP(NANOS) file is inferred again (and Spark rejects it),
    instead of being served the long schema cached with it on."""
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
                   tmp_path / "n.parquet")
    assert table(spark, str(tmp_path), "n").schema["ts"].dataType \
        == T.LongType()
    assert _jobs(spark, "schema-nanos-hit",
                 lambda: table(spark, str(tmp_path), "n")) == 0
    with conf_override(spark,
                       {"spark.sql.legacy.parquet.nanosAsLong": "false"}):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            table(spark, str(tmp_path), "n")


def test_nanos_events_come_out_as_micros_on_a_hit(spark, tmp_path):
    """``events`` stored as TIMESTAMP(NANOS) reads as a micros timestamp,
    truncated, on a cache hit as on the first read."""
    nanos = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64()),
                             "ts": pa.array([nanos], pa.timestamp("ns"))}),
                   tmp_path / "events.parquet")
    first = table(spark, str(tmp_path), "events")
    hit = []
    assert _jobs(spark, "schema-events-hit",
                 lambda: hit.append(table(spark, str(tmp_path),
                                          "events"))) == 0
    for df in (first, hit[0]):
        assert df.schema["ts"].dataType == T.TimestampType()
        (micros,) = df.selectExpr("unix_micros(ts)").first()
        assert micros == nanos // 1000


def test_read_after_clear_caches_runs_no_job(spark, sf_dir):
    """The cache outlives ``clear_caches``, which every harness calls
    before each query: the second read of a table launches 0 jobs."""
    table(spark, sf_dir, "orders")
    clear_caches(spark)
    assert _jobs(spark, "schema-after-clear",
                 lambda: table(spark, sf_dir, "orders")) == 0
