"""Streaming twin of the HDR quantile sketch: the sketch is a SUM of
per-bucket counters, so a complete-mode streaming aggregation maintains
the IDENTICAL histogram the batch query computes — mergeability across
micro-batches is the same property that merges it across partitions and
epochs (stats_hdr_quantile_sketch's scale contract, made live)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cstore_fdw_spark.operators.analytics import hdr_bucket_idx
from cstore_fdw_spark.streaming.runner import drain, fixture_stream


def hdr_sketch_stream(lineitem: DataFrame) -> DataFrame:
    """Maintain the per-return-flag HDR histogram over the stream: one
    stateful aggregation whose state is the sketch itself — bounded by
    the bucket geometry (~64*128 counters per group), NOT by rows seen,
    which is what makes an unbounded stream affordable."""
    return (lineitem
            .select(F.col("l_returnflag").alias("g"), hdr_bucket_idx())
            .groupBy("g", "idx")
            .agg(F.count(F.lit(1)).alias("cnt")))


def run_sketch_available_now(spark: SparkSession, sf_dir: str,
                             query_name: str = "hdr_sketch") -> DataFrame:
    """Execute the streamed sketch with Trigger.AvailableNow into a
    memory sink; returns the final histogram as a batch DataFrame."""
    out = hdr_sketch_stream(fixture_stream(spark, sf_dir, "lineitem"))
    return drain(out, query_name, "complete")


# ------------------------------------------------ CUSUM changepoint twin

def hourly_cents_stream(events: DataFrame) -> DataFrame:
    """Maintain the per-(type, hour) cents rollup over the stream: the
    CUSUM statistic's ONLY state is this mergeable SUM — bounded by
    |event_type| × hours seen (wall time, not rows), which is what
    makes the changepoint monitor affordable on an unbounded stream."""
    return (events
            .select("event_type",
                    F.date_trunc("hour", "ts").alias("h"),
                    F.expr("CAST(ROUND(value * 100) AS BIGINT)")
                    .alias("cents"))
            .groupBy("event_type", "h")
            .agg(F.sum("cents").alias("x")))


def run_cusum_available_now(spark: SparkSession, sf_dir: str,
                            query_name: str = "cusum_hourly") -> DataFrame:
    """Drain the streamed hourly rollup with Trigger.AvailableNow into a
    memory sink, then run the SAME cusum_changepoints finisher the
    batch query uses — bit-identical localization by construction."""
    from cstore_fdw_spark.operators.events import cusum_changepoints

    out = hourly_cents_stream(fixture_stream(spark, sf_dir, "events"))
    return cusum_changepoints(drain(out, query_name, "complete"))


# ------------------------------------------- seasonal-decompose twin

def run_seasonal_available_now(spark: SparkSession, sf_dir: str,
                               query_name: str = "seasonal_hourly"
                               ) -> DataFrame:
    """Streaming twin of ``timeseries_seasonal_decompose``: maintain
    the per-(type, hour) cents rollup over the stream (the SAME
    ``hourly_cents_stream`` state the CUSUM monitor uses — one
    mergeable SUM bounded by |event_type| x wall-time hours), drain
    with Trigger.AvailableNow, then run the LITERALLY shared
    ``seasonal_decompose_from_hourly`` finisher — peak hour-of-day and
    worst residual anomaly identical to batch by construction."""
    from cstore_fdw_spark.operators.events import (
        seasonal_decompose_from_hourly)

    out = hourly_cents_stream(fixture_stream(spark, sf_dir, "events"))
    t = drain(out, query_name, "complete")
    # rebind the drained rollup as a local relation: the finisher
    # self-joins its input (seasonal profile back onto the hours), and
    # Spark's self-join disambiguation breaks on memory-sink Views
    # (INTERNAL_ERROR: conflicting references) where a parquet-backed
    # frame re-keys per scan. The rollup is MODEL-sized by contract
    # (|event_type| x wall-time hours), so the bounded collect is the
    # vocabulary-bounded tier, not a corpus collect.
    hourly = spark.createDataFrame(t.collect(), t.schema)
    return seasonal_decompose_from_hourly(hourly)


# --------------------------------------------------- HyperLogLog twin

def run_hll_available_now(spark: SparkSession, sf_dir: str,
                          query_name: str = "hll_registers") -> DataFrame:
    """Streaming twin of ``sketch_hyperloglog_distinct``: HLL registers
    are a per-(group, register) MAX — mergeable across micro-batches by
    the exact property that merges them across partitions — so a
    complete-mode streaming aggregation maintains the IDENTICAL sketch
    the batch query computes (state bounded by |groups| x 1024, never
    by rows seen: the sketch's 100 TB contract, live on a stream).
    Drain with Trigger.AvailableNow, then run the literally shared
    ``hll_estimate_from_registers`` finisher."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60
    from cstore_fdw_spark.operators.analytics import (
        HLL_M, HLL_RANK_BITS, _hll_rho_sql, hll_estimate_from_registers)

    li = fixture_stream(spark, sf_dir, "lineitem")
    h = spark_h60("cast(l_orderkey as string)")
    rho = _hll_rho_sql(f"(h div {HLL_M}) % {1 << HLL_RANK_BITS}")
    regs = (li.select(F.col("l_returnflag").alias("grp"),
                      F.expr(h).alias("h"))
            .select("grp", (F.col("h") % HLL_M).alias("reg"),
                    F.expr(rho).alias("rho"))
            .groupBy("grp", "reg").agg(F.max("rho").alias("m_rho")))
    t = drain(regs, query_name, "complete")
    # rebind the drained registers as a local relation (the finisher
    # left-joins the register frame against a grid derived from itself,
    # and memory-sink views break on self-join disambiguation — the
    # same rationale as the seasonal twin; the frame is sketch-sized by
    # construction, <= |groups| x 1024 rows)
    regs_local = spark.createDataFrame(t.collect(), t.schema)
    # same lineitem-owned output alias as the batch operator (the
    # finisher itself is table-agnostic and returns ``grp``)
    return (hll_estimate_from_registers(regs_local)
            .select(F.col("grp").alias("l_returnflag"),
                    "zero_registers", "denom", "raw_estimate",
                    "distinct_estimate"))


# --------------------------------------------- MAD anomaly-screen twin

def run_mad_anomaly_available_now(spark: SparkSession, sf_dir: str,
                                  query_name: str = "mad_hourly"
                                  ) -> DataFrame:
    """Streaming twin of ``timeseries_anomaly_mad``: the screen's only
    state is the per-(type, hour) event COUNT — a mergeable SUM bounded
    by |event_type| x wall-time hours, the same rollup contract as the
    CUSUM/seasonal twins — maintained in complete mode, drained with
    Trigger.AvailableNow, then run through the literally shared
    ``mad_anomalies_from_hourly`` finisher (exact rank medians over the
    drained model table)."""
    from cstore_fdw_spark.operators.events import mad_anomalies_from_hourly

    ev = fixture_stream(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    t = drain(hourly, query_name, "complete")
    # model-sized rebind (|type| x hours): the finisher joins the rollup
    # against frames derived from itself — same memory-sink self-join
    # rationale as the seasonal and HLL twins
    hourly_local = spark.createDataFrame(t.collect(), t.schema)
    return mad_anomalies_from_hourly(hourly_local)


# ------------------------------------------------- Benford-screen twin

def run_benford_available_now(spark: SparkSession, sf_dir: str,
                              query_name: str = "benford_digits"
                              ) -> DataFrame:
    """Streaming twin of ``stats_benford_first_digit``: the screen's
    only state is NINE digit counters — the smallest streaming state in
    the repo — maintained in complete mode over the lineitem stream and
    finished by the literally shared ``benford_from_digit_counts``
    (drift monitoring on a live ingest feed is exactly where a Benford
    screen earns its keep)."""
    from cstore_fdw_spark.operators.analytics import (
        benford_from_digit_counts)

    li = fixture_stream(spark, sf_dir, "lineitem")
    digits = li.select(
        F.expr("CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100) AS "
               "BIGINT) AS STRING), 1, 1) AS BIGINT)").alias("digit"))
    counts = (digits.groupBy("digit")
              .agg(F.count(F.lit(1)).cast("long").alias("obs")))
    t = drain(counts, query_name, "complete")
    counts_local = spark.createDataFrame(t.collect(), t.schema)
    return benford_from_digit_counts(counts_local)


# --------------------------------------------- quantile-sketch twin

def run_quantile_available_now(spark: SparkSession, sf_dir: str,
                               query_name: str = "qh_buckets"
                               ) -> DataFrame:
    """Streaming twin of ``sketch_quantile_histogram``: the histogram
    state is a per-(group, bucket) COUNT — sum-mergeable across
    micro-batches by the property that merges it across partitions —
    so a complete-mode aggregation maintains the IDENTICAL bucket table
    the batch query computes (state bounded by |groups| x nbuckets,
    never rows seen). Drain with Trigger.AvailableNow, then run the
    literally shared ``quantile_estimate_from_buckets`` finisher."""
    from cstore_fdw_spark.operators.analytics import (
        quantile_buckets, quantile_estimate_from_buckets)

    li = fixture_stream(spark, sf_dir, "lineitem")
    counts = quantile_buckets(
        li.select(F.col("l_returnflag").alias("grp"), "l_extendedprice"),
        ["grp"], "l_extendedprice")
    t = drain(counts, query_name, "complete")
    # sketch-sized rebind (|groups| x nbuckets): the finisher windows
    # and joins the bucket table against frames derived from itself —
    # same memory-sink self-join rationale as the HLL/CM twins
    counts_local = spark.createDataFrame(t.collect(), t.schema)
    est = quantile_estimate_from_buckets(counts_local)
    # same lineitem-owned output alias as the batch operator (the
    # finisher itself is table-agnostic and returns ``grp``)
    return est.select(F.col("grp").alias("l_returnflag"),
                      "q", "n", "rnk", "bucket", "q_lo", "q_hi")


# ------------------------------------------------- Count-Min twin

def run_countmin_available_now(spark: SparkSession, sf_dir: str,
                               query_name: str = "cm_sketch"
                               ) -> DataFrame:
    """Streaming twin of ``sketch_countmin_user_counts``: the CM sketch
    is a per-(row, bucket) SUM — mergeable across micro-batches by the
    property that merges it across partitions — so complete-mode
    aggregations maintain the IDENTICAL 4x512 counter table the batch
    query computes (state bounded by d x w, never rows seen), plus the
    probe set's exact counts (bounded by the probe key domain). Drain
    both with Trigger.AvailableNow, then run the literally shared
    ``countmin_estimates`` serving finisher."""
    from cstore_fdw_spark.operators.analytics import (
        countmin_estimates, countmin_probe_counts, countmin_rollup)

    ev = fixture_stream(spark, sf_dir, "events")
    cm_t = drain(countmin_rollup(ev), query_name + "_cm", "complete")
    pr_t = drain(countmin_probe_counts(ev), query_name + "_probes",
                 "complete")
    # sketch-sized rebinds (d x w and |probes| rows): the finisher joins
    # the two drained frames — same memory-sink self-join rationale as
    # the HLL/seasonal twins
    cm = spark.createDataFrame(cm_t.collect(), cm_t.schema)
    probes = spark.createDataFrame(pr_t.collect(), pr_t.schema)
    return countmin_estimates(cm, probes)


# ---------------------------------------------------- Bloom filter twin

def run_bloom_available_now(spark: SparkSession, sf_dir: str,
                            query_name: str = "bloom_bits"
                            ) -> DataFrame:
    """Streaming twin of ``sketch_bloom_order_membership``'s filter
    build: the set-bit table is OR-mergeable (a bit set by any
    micro-batch stays set), which complete mode expresses as a
    groupBy(bit) whose state is bounded by m regardless of keys
    streamed — the same property that merges filters across partitions
    and epoch deltas (aggview's ``bloom`` kind). Returns the drained
    DISTINCT set-bit frame, row-equal to the batch
    ``analytics.bloom_bits`` over the same keys."""
    from cstore_fdw_spark.operators.analytics import BLOOM_K, BLOOM_M
    from cstore_fdw_spark.functions.portable_hash import spark_w32

    ordr = fixture_stream(spark, sf_dir, "orders")
    key = "cast(o_custkey as string)"
    arr = F.array(*[(F.expr(spark_w32(key, i)) % BLOOM_M)
                    for i in range(BLOOM_K)])
    bits = (ordr.filter(F.col("o_orderstatus") == "P")
            .select(F.explode(arr).alias("bit"))
            .groupBy("bit").agg(F.count(F.lit(1)).alias("n")))
    return drain(bits, query_name, "complete").select("bit").distinct()
