"""Structured Streaming over the events table: windowed aggregation with
watermarks, exactly-once dedup, and sessionization — the streaming twins
of :mod:`cstore_fdw_spark.operators.events`.

Each builder takes a *streaming* DataFrame and returns a streaming
DataFrame; ``streaming.runner.drain`` executes one over
``streaming.runner.fixture_stream(spark, sf_dir, "events")`` with the
availableNow trigger (processes everything then stops — deterministic for
tests).

Scale notes: watermarks bound state (late events beyond 1 hour are
dropped); dedup state is keyed by event_id and expires with the watermark;
file-source ingestion uses maxFilesPerTrigger for backpressure on a real
deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type (late data beyond
    the watermark dropped — bounded state)."""
    return (events.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("hour_start"), "event_type", "n"))


def dedup_events(events: DataFrame) -> DataFrame:
    """Exactly-once repair: dropDuplicates keyed on event_id with
    watermark-bounded state."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id"])


def sessionize(events: DataFrame) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap."""
    return (events.withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: every micro-batch hash-joins against the static
    customer dimension (broadcast — no state, the dimension is re-resolved
    per batch so slowly-changing dims pick up updates), then a watermarked
    windowed aggregation per segment. The streaming twin of
    ``events_enrich_segment``."""
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_mktsegment")
    return (events.withWatermark("ts", WATERMARK)
            .join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("hour_start"), "segment", "n"))


def click_purchase_interval_join(clicks: DataFrame,
                                 purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join (the canonical Structured Streaming
    two-stream operator): clicks ⋈ purchases on user within a 30-minute
    event-time interval. BOTH sides carry watermarks and the join
    condition bounds event time in both directions, so the engine can
    expire buffered rows — without the interval bound, stream-stream join
    state grows forever. The streaming twin of the batch
    ``events_click_purchase_interval_join`` (proven equal in
    tests/test_streaming.py)."""
    c = (clicks.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.col("ts").alias("click_ts"))
         .withWatermark("click_ts", WATERMARK))
    p = (purchases.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"))
         .withWatermark("purchase_ts", WATERMARK))
    return (c.join(p, (F.col("p_user") == F.col("user_id"))
                   & (F.col("purchase_ts") > F.col("click_ts"))
                   & (F.col("purchase_ts") <= F.col("click_ts")
                      + F.expr("INTERVAL 30 MINUTE")))
            .select("click_id", "purchase_id", "user_id",
                    (F.unix_micros("purchase_ts")
                     - F.unix_micros("click_ts")).alias("micros_between")))
