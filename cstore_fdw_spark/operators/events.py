"""Event-stream analytics over the ``events`` table — batch twins of the
Structured Streaming operators in :mod:`cstore_fdw_spark.streaming`.

The reference is batch-append only (no streaming); these operators are the
extension surface (SURVEY §2.B streaming row): tumbling/sliding windows,
sessionization, and a funnel — each expressible in ANSI SQL, so every one
carries a DuckDB oracle. The streaming module runs the same logic over
``readStream`` with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from cstore_fdw_spark.operators import register, table
from cstore_fdw_spark.operators.relational import _dbl, dsum, to_dbl

SESSION_GAP_MIN = 30


@register(
    "events_tumbling_hourly",
    category="events",
    bench=True,
    oracle=f"""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type, COUNT(*) AS n,
           {_dbl("SUM(CAST(value AS DECIMAL(12,2)))")} AS total_value
    FROM events GROUP BY 1, 2
    """)
def events_tumbling_hourly(spark, sf_dir):
    """Tumbling 1-hour windows per event type (batch twin of the streaming
    windowed aggregation; F.window.start == date_trunc('hour') for
    hour-aligned tumbling windows)."""
    e = table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 to_dbl(dsum("value")).alias("total_value"))
            .select(F.col("w.start").alias("hour_start"), "event_type",
                    "n", "total_value"))


@register(
    "events_sliding_window",
    category="events",
    oracle="""
    WITH starts AS (
      SELECT event_id, value,
             UNNEST([CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP),
                     CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP)
                       - INTERVAL 1 HOUR]) AS window_start
      FROM events)
    SELECT window_start, COUNT(*) AS n
    FROM starts GROUP BY window_start
    """)
def events_sliding_window(spark, sf_dir):
    """Sliding windows (2h length, 1h slide): every event lands in two
    windows. Spark's F.window handles the window assignment natively; the
    oracle materializes the same two starts per event."""
    e = table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n"))


@register(
    "events_sessionize", bench=True,
    category="events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """)
def events_sessionize(spark, sf_dir):
    """Sessionization with a 30-minute inactivity gap — gaps-and-islands
    via one window pass (the batch twin of streaming session_window; same
    output as F.session_window's start/count, verified in tests)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # compare exact microseconds: long-casting a timestamp floors to whole
    # seconds, so a 1800.4s gap would floor to 1800 and (unlike the
    # oracle's exact INTERVAL comparison) fail to split the session
    new_session = (prev_ts.isNull()
                   | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
                      > SESSION_GAP_MIN * 60 * 1_000_000)).cast("int")
    return (e.select("user_id", "ts", new_session.alias("ns"))
            .withColumn("session_no", F.sum("ns").over(wrun))
            .groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("last_event"),
                 F.count(F.lit(1)).alias("n_events"))
            .drop("session_no"))


@register(
    "events_funnel_signup_purchase",
    category="events",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS signup_ts
               FROM events WHERE event_type = 'signup' GROUP BY user_id),
         p AS (SELECT e.user_id, COUNT(*) AS purchases_after
               FROM events e JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
               GROUP BY e.user_id)
    SELECT s.user_id, s.signup_ts, COALESCE(p.purchases_after, 0)
             AS purchases_after
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    """)
def events_funnel_signup_purchase(spark, sf_dir):
    """Conversion funnel: first signup per user, purchases after it
    (aggregate-then-join; both sides pre-shrunk before the join)."""
    e = table(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(s, "user_id")
         .filter(F.col("ts") > F.col("signup_ts"))
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("purchases_after")))
    return (s.join(p, "user_id", "left")
            .select("user_id", "signup_ts",
                    F.coalesce("purchases_after", F.lit(0))
                    .alias("purchases_after")))


@register(
    "events_dedup_exact",
    category="events",
    oracle="""
    WITH dup AS (SELECT * FROM events UNION ALL
                 SELECT * FROM events WHERE event_id % 3 = 0)
    SELECT event_id, COUNT(*) AS copies FROM dup
    GROUP BY event_id HAVING COUNT(*) > 1
    """)
def events_dedup_exact(spark, sf_dir):
    """Exactly-once repair: find replayed event_ids in an at-least-once
    delivery simulation (batch twin of streaming dropDuplicates state)."""
    e = table(spark, sf_dir, "events")
    dup = e.unionByName(e.filter(F.col("event_id") % 3 == 0))
    return (dup.groupBy("event_id")
            .agg(F.count(F.lit(1)).alias("copies"))
            .filter(F.col("copies") > 1))


@register(
    "events_enrich_segment",
    category="events",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n,
           {_dbl("SUM(CAST(e.value AS DECIMAL(12,2)))")} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """)
def events_enrich_segment(spark, sf_dir):
    """Event enrichment against a dimension (batch twin of the streaming
    stream-static join): attach the customer's market segment to each
    event, then aggregate. The dimension side is explicitly broadcast —
    at 100 TB the event stream never shuffles for this join; only the
    (segment × event_type) aggregate rows move."""
    e = table(spark, sf_dir, "events")
    c = (table(spark, sf_dir, "customer")
         .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    return (e.join(F.broadcast(c), "user_id")
            .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 to_dbl(dsum("value")).alias("total_value")))


@register(
    "events_click_purchase_interval_join",
    category="events",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS micros_between
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """)
def events_click_purchase_interval_join(spark, sf_dir):
    """Interval (event-time range) join: each click joined to the same
    user's purchases within the following 30 minutes — the batch twin of
    the canonical Structured Streaming stream-stream join (both sides
    watermarked, join condition = equi-key + event-time interval;
    `streaming.events.click_purchase_interval_join` runs the identical
    logic on two streams, proven equal in tests/test_streaming.py).
    The equi-key keeps it a hash/sort-merge join with the interval as a
    residual — never a cross product. Time delta in exact microseconds
    (unix_micros on both engines)."""
    e = table(spark, sf_dir, "events")
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.col("ts").alias("click_ts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts")))
    return (c.join(p, (F.col("p_user") == F.col("user_id"))
                   & (F.col("purchase_ts") > F.col("click_ts"))
                   & (F.col("purchase_ts") <= F.col("click_ts")
                      + F.expr("INTERVAL 30 MINUTE")))
            .select("click_id", "purchase_id", "user_id",
                    (F.unix_micros("purchase_ts")
                     - F.unix_micros("click_ts")).alias("micros_between")))


@register(
    "events_gapfill_interpolate",
    category="events",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             COUNT(*) AS n,
             {_dbl("SUM(CAST(value AS DECIMAL(12,2)))")} AS spend
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    spine AS (
      SELECT UNNEST(generate_series((SELECT MIN(h) FROM hourly),
                                    (SELECT MAX(h) FROM hourly),
                                    INTERVAL 1 HOUR)) AS h),
    joined AS (
      SELECT s.h, COALESCE(y.n, 0) AS n, y.spend
      FROM spine s LEFT JOIN hourly y ON y.h = s.h),
    ctx AS (
      SELECT h, n, spend,
        last_value(spend IGNORE NULLS) OVER
          (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS prev_s,
        last_value(CASE WHEN spend IS NOT NULL THEN h END IGNORE NULLS)
          OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS prev_h,
        first_value(spend IGNORE NULLS) OVER
          (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS next_s,
        first_value(CASE WHEN spend IS NOT NULL THEN h END IGNORE NULLS)
          OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS next_h
      FROM joined)
    SELECT h AS hour_start, n, (spend IS NULL) AS interpolated,
      CASE
        WHEN spend IS NOT NULL THEN spend
        WHEN prev_s IS NULL THEN next_s
        WHEN next_s IS NULL THEN prev_s
        ELSE prev_s + (next_s - prev_s)
             * (CAST(epoch_us(h) - epoch_us(prev_h) AS DOUBLE)
                / CAST(epoch_us(next_h) - epoch_us(prev_h) AS DOUBLE))
      END AS spend_filled
    FROM ctx
    """)
def events_gapfill_interpolate(spark, sf_dir):
    """Time-series gap filling: a dense hourly spine
    (sequence/generate_series between the observed bounds), zero-filled
    counts, and LINEAR INTERPOLATION of hourly purchase spend across
    missing hours (prev/next non-null neighbors via IGNORE NULLS window
    frames; edges clamp to the known side). Spend aggregates as exact
    DECIMAL then converts once (to_dbl), and the interpolation fraction
    is exact integer microseconds → one double division — the identical
    expression shape in DuckDB, so interpolated values hash-match.
    The spine here is one series (a global window over #hours rows —
    tiny); the per-key variant partitions every window by the series key,
    which is the 100 TB shape."""
    e = table(spark, sf_dir, "events")
    hourly = (e.filter(F.col("event_type") == "purchase")
              .groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count(F.lit(1)).alias("n"),
                   to_dbl(dsum("value")).alias("spend")))
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = (bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")))
    joined = (spine.join(hourly, "h", "left")
              .select("h", F.coalesce("n", F.lit(0)).alias("n"), "spend"))
    w_prev = (Window.orderBy("h")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_next = (Window.orderBy("h")
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    h_if = F.when(F.col("spend").isNotNull(), F.col("h"))
    ctx = joined.select(
        "h", "n", "spend",
        F.last("spend", ignorenulls=True).over(w_prev).alias("prev_s"),
        F.last(h_if, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("spend", ignorenulls=True).over(w_next).alias("next_s"),
        F.first(h_if, ignorenulls=True).over(w_next).alias("next_h"))
    frac = ((F.unix_micros("h") - F.unix_micros("prev_h")).cast("double")
            / (F.unix_micros("next_h")
               - F.unix_micros("prev_h")).cast("double"))
    filled = (F.when(F.col("spend").isNotNull(), F.col("spend"))
              .when(F.col("prev_s").isNull(), F.col("next_s"))
              .when(F.col("next_s").isNull(), F.col("prev_s"))
              .otherwise(F.col("prev_s")
                         + (F.col("next_s") - F.col("prev_s")) * frac))
    return ctx.select(F.col("h").alias("hour_start"), "n",
                      F.col("spend").isNull().alias("interpolated"),
                      filled.alias("spend_filled"))


@register(
    "events_retention_cohorts",
    category="events",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS active_week
      FROM events e),
    joined AS (
      SELECT f.cohort_week,
             CAST((epoch_us(a.active_week) - epoch_us(f.cohort_week))
                  / (CAST(7 AS BIGINT) * 86400 * 1000000) AS BIGINT)
               AS week_no,
             a.user_id
      FROM firsts f JOIN activity a ON a.user_id = f.user_id),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts
              GROUP BY cohort_week)
    SELECT j.cohort_week, j.week_no,
           COUNT(DISTINCT j.user_id) AS active_users,
           s.cohort_size,
           CAST(COUNT(DISTINCT j.user_id) AS DOUBLE)
             / CAST(s.cohort_size AS DOUBLE) AS retention
    FROM joined j JOIN sizes s ON s.cohort_week = j.cohort_week
    GROUP BY j.cohort_week, j.week_no, s.cohort_size
    """)
def events_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: users grouped by first-seen week,
    fraction active in each subsequent week — the canonical product-
    analytics rollup. Two aggregate-then-join stages, both map-side
    combined; week_no from exact microsecond arithmetic so the matrix
    hash-matches. At 100 TB the first-seen table is the only state that
    persists between incremental refreshes."""
    e = table(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    activity = (e.select("user_id",
                         F.date_trunc("week", "ts").alias("active_week"))
                .distinct())
    week_us = 7 * 86400 * 1_000_000
    joined = (firsts.join(activity, "user_id")
              .select("cohort_week", "user_id",
                      ((F.unix_micros("active_week")
                        - F.unix_micros("cohort_week")) / F.lit(week_us))
                      .cast("bigint").alias("week_no")))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (joined.groupBy("cohort_week", "week_no")
            .agg(F.count_distinct("user_id").alias("active_users"))
            .join(sizes, "cohort_week")
            .select("cohort_week", "week_no", "active_users", "cohort_size",
                    (F.col("active_users").cast("double")
                     / F.col("cohort_size").cast("double"))
                    .alias("retention")))


@register(
    "events_hourly_anomaly_zscore",
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             COUNT(*) AS n
      FROM events GROUP BY 1),
    ctx AS (
      SELECT h, n,
        CAST(SUM(n) OVER w AS BIGINT) AS s1,
        CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
        CAST(COUNT(*) OVER w AS BIGINT) AS k
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT h AS hour_start, n, k AS baseline_hours,
      CASE WHEN k >= 12 AND (CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) > 0
        THEN (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
             / SQRT((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
      END AS zscore
    FROM ctx
    """)
def events_hourly_anomaly_zscore(spark, sf_dir):
    """Trailing-window anomaly score: each hour's event count vs the mean
    and population stddev of the PRECEDING 24 hours (rows frame 24
    preceding .. 1 preceding — the current hour never contaminates its
    own baseline; warm-up hours with <12 baselines emit NULL). Moments
    accumulate as exact integer window sums; the z formula is one
    identical double expression on both engines (×, ÷, sqrt are
    IEEE-exact), so scores hash-match. Partition by a stream key for the
    per-series variant at scale."""
    e = table(spark, sf_dir, "events")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("h").rowsBetween(-24, -1)
    ctx = hourly.select(
        "h", "n",
        F.sum("n").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("bigint").alias("s2"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("k"))
    kd = F.col("k").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var_num = kd * s2d - s1d * s1d
    z = ((F.col("n").cast("double") - s1d / kd)
         / F.sqrt(var_num / (kd * kd)))
    return ctx.select(
        F.col("h").alias("hour_start"), "n",
        F.col("k").alias("baseline_hours"),
        F.when((F.col("k") >= 12) & (var_num > 0), z).alias("zscore"))


@register(
    "events_markov_transitions",
    category="events",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM c
    """)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the standard user-journey /
    clickstream model. One window (lead over user timelines, tie-broken
    on event_id) → counted pairs → row-normalized. The raw events only
    shuffle once, keyed by user_id (uniform); transition counts are a
    5×5-ish table, so the normalizing window is trivially small. The
    count→double division is exact-int IEEE division — identical in both
    engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events")
    s = e.select("event_type",
                 F.lead("event_type").over(w).alias("next_type"))
    c = (s.filter(F.col("next_type").isNotNull())
         .groupBy(F.col("event_type").alias("from_type"),
                  F.col("next_type").alias("to_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    wp = Window.partitionBy("from_type")
    return c.select("from_type", "to_type", "n",
                    (F.col("n").cast("double")
                     / F.sum("n").over(wp)).alias("p"))


@register(
    "timeseries_trending_ratio",
    category="events",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    c AS (
      SELECT event_type,
             SUM(CASE WHEN ts > (SELECT m - INTERVAL 24 HOUR FROM mx)
                      THEN 1 ELSE 0 END) AS n_recent,
             SUM(CASE WHEN ts <= (SELECT m - INTERVAL 24 HOUR FROM mx)
                       AND ts > (SELECT m - INTERVAL 48 HOUR FROM mx)
                      THEN 1 ELSE 0 END) AS n_prior
      FROM events GROUP BY event_type)
    SELECT event_type, CAST(n_recent AS BIGINT) AS n_recent,
           CAST(n_prior AS BIGINT) AS n_prior,
           (n_recent * 1000) // GREATEST(n_prior, 1) AS trend_permille
    FROM c ORDER BY trend_permille DESC, event_type
    """)
def timeseries_trending_ratio(spark, sf_dir):
    """Trending detection — the "what is accelerating" primitive of any
    stream-monitoring stack: per event type, activity in the most
    recent 24 h of the corpus vs the 24 h before it, as the exact
    integer ratio n_recent·1000 // max(n_prior, 1) (permille; floor
    division keeps both engines bit-equal, and the max(_,1) floor makes
    newly-appearing types read as n_recent·1000 rather than dividing by
    zero). Windows anchor at MAX(ts), so the query is deterministic on
    any snapshot.

    Scale: ONE corpus scan — the anchor is a 1-row broadcast and both
    window memberships fold into conditional aggregates of the same
    groupBy(event_type) (map-side combined), so the shuffle carries
    |event_type| rows. The streaming shape of the same question is two
    watermarked tumbling windows joined on type (events_tumbling_hourly
    twins)."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("m"))
    return (e.crossJoin(F.broadcast(mx))
            .groupBy("event_type")
            .agg(F.sum(F.when(
                F.expr("ts > m - INTERVAL 24 HOURS"), 1).otherwise(0))
                .alias("n_recent"),
                F.sum(F.when(
                    F.expr("ts <= m - INTERVAL 24 HOURS and "
                           "ts > m - INTERVAL 48 HOURS"), 1).otherwise(0))
                .alias("n_prior"))
            .select("event_type",
                    F.col("n_recent").cast("long").alias("n_recent"),
                    F.col("n_prior").cast("long").alias("n_prior"),
                    F.expr("(n_recent * 1000) div greatest(n_prior, 1)")
                    .alias("trend_permille"))
            .orderBy(F.col("trend_permille").desc(), "event_type"))


def hourly_cents(events: DataFrame) -> DataFrame:
    """The per-(event_type, hour) cents rollup ``(event_type, h, x)``,
    ``x`` the hour's summed ``ROUND(value * 100)``: the one input of the
    time-series operators below, batch or stream. It is a mergeable SUM
    bounded by |event_type| x wall-time hours, never by rows, so a
    complete-mode stream maintains the same state across micro-batches
    that the batch query builds in one map-side-combined shuffle."""
    return (events.select("event_type",
                          F.date_trunc("hour", "ts").alias("h"),
                          F.expr("CAST(ROUND(value * 100) AS BIGINT)")
                          .alias("cents"))
            .groupBy("event_type", "h")
            .agg(F.sum("cents").alias("x")))


def hourly_counts(events: DataFrame) -> DataFrame:
    """The per-(event_type, hour) event count ``(event_type, h, cnt)``:
    the MAD screen's one input, batch or stream, with the same mergeable
    bound as :func:`hourly_cents`."""
    return (events.groupBy("event_type",
                           F.date_trunc("hour", "ts").alias("h"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


#: Holt smoothing horizon: hourly buckets folded per event type (the
#: recursion depth of the oracle, NOT a corpus bound)
HOLT_HOURS = 48


def holt_tdiv(a: int, n: int) -> int:
    """Truncate-toward-zero integer division — python's ``//`` FLOORS,
    while Spark ``div`` / DuckDB ``//`` truncate; the fold's negative
    intermediates (cooling series) make the difference observable."""
    q = abs(a) // n
    return q if a >= 0 else -q


def holt_step(level: int, trend: int, x: int) -> tuple[int, int]:
    """ONE Holt update in exact integer cents (alpha=0.3, beta=0.1):
    the step :func:`holt_from_hourly` folds, the finisher the batch
    query and its streaming twin (``streaming.runner.run_twin``) both
    end in."""
    prev = level
    level = holt_tdiv(3 * x + 7 * (level + trend), 10)
    trend = holt_tdiv((level - prev) + 9 * trend, 10)
    return level, trend


def _holt_oracle() -> str:
    return f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type AS s, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT s, x,
             ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn
      FROM hourly),
    deltas AS (SELECT s, x, rn FROM ranked WHERE rn <= {HOLT_HOURS}),
    rec(s, rn, l, b) AS (
      SELECT s, 1, x, CAST(0 AS BIGINT) FROM deltas WHERE rn = 1
      UNION ALL
      SELECT r.s, r.rn + 1,
             (3 * d.x + 7 * (r.l + r.b)) // 10,
             ((((3 * d.x + 7 * (r.l + r.b)) // 10) - r.l)
              + 9 * r.b) // 10
      FROM rec r JOIN deltas d ON d.s = r.s AND d.rn = r.rn + 1),
    last AS (SELECT s, MAX(rn) AS mr FROM rec GROUP BY s)
    SELECT rec.s AS event_type, CAST(last.mr AS BIGINT) AS n_hours,
           CAST(rec.l AS BIGINT) AS level_fx,
           CAST(rec.b AS BIGINT) AS trend_fx,
           CAST(rec.l + 3 * rec.b AS BIGINT) AS forecast3_fx
    FROM rec JOIN last ON rec.s = last.s AND rec.rn = last.mr
    ORDER BY event_type
    """


def holt_from_hourly(hourly):
    """The Holt finisher over a (event_type, h, x) hourly rollup — the
    twin finisher ``timeseries_holt_smoothing`` declares, so the batch
    query below and its streaming twin (``streaming.runner.run_twin``)
    both end in it: the rollup is a mergeable SUM, so a complete-mode
    stream maintains the identical hourly state and this SAME fold
    lands on the identical level and trend.

    Each type's first ``HOLT_HOURS`` hours fold through
    :func:`holt_step` in an ``applyInPandas`` call: the regroup moves
    |event_type| keys × ≤48 rows (the Arrow transfer is model-sized,
    never corpus-sized), and the recurrence runs in python ints (no
    float drift, no int64 surprise before ~2^59 hourly cents)."""
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = (hourly.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= HOLT_HOURS)
              .select("event_type", "rn", "x"))

    schema = ("event_type string, n_hours long, level_fx long, "
              "trend_fx long, forecast3_fx long")

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("rn")
        xs = [int(v) for v in pdf["x"]]
        level, trend = xs[0], 0
        for x in xs[1:]:
            level, trend = holt_step(level, trend, x)
        return pd.DataFrame(
            [[pdf["event_type"].iloc[0], len(xs), level, trend,
              level + 3 * trend]],
            columns=["event_type", "n_hours", "level_fx", "trend_fx",
                     "forecast3_fx"])

    return (ranked.groupBy("event_type").applyInPandas(fold, schema)
            .orderBy("event_type"))


@register(
    "timeseries_holt_smoothing",
    twin=("events", (hourly_cents,), holt_from_hourly),
    category="events",
    oracle=_holt_oracle())
def timeseries_holt_smoothing(spark, sf_dir):
    """Holt double-exponential smoothing per event type (Holt '57, the
    classic level+trend forecaster): hourly value totals fold through
      l_t = (3·x_t + 7·(l_t-1 + b_t-1)) div 10     (alpha = 0.3)
      b_t = ((l_t − l_t-1) + 9·b_t-1) div 10       (beta  = 0.1)
    in exact integer cents (div truncates toward zero in BOTH engines —
    verified; l−l_prev and b go negative on cooling series, so floor
    semantics would diverge), initialized l_1 = x_1, b_1 = 0. Output
    per type: hours folded, final level/trend, and the 3-hour-ahead
    forecast l + 3·b. The recurrence is non-linear in the sense that
    matters for SQL: each step divides (rounds) BEFORE the next step
    consumes it, so no window/prefix-sum formulation exists and the
    DuckDB oracle must step the same automaton via WITH RECURSIVE (the
    recursive_clamped_balance / ADPCM discipline).

    Spark side: this is the applyInPandas tier of the custom-operator
    ladder — a genuinely stateful per-key fold the built-in operators
    can't express. The hourly rollup (:func:`hourly_cents`) is ONE
    corpus shuffle, then :func:`holt_from_hourly` folds it. The state
    a stream keeps is that rollup, bounded by |event_type| × wall-time
    hours like the other hourly twins; the fold's steps are
    time-bounded, and a 1000-executor cluster folds every key in
    parallel."""


def cusum_changepoints(hourly):
    """The CUSUM finisher over a (event_type, h, x) hourly rollup —
    the twin finisher ``timeseries_cusum_changepoint`` declares, so the
    batch query below and its streaming twin
    (``streaming.runner.run_twin``) both end in it: the rollup is a
    mergeable SUM, so a complete-mode stream maintains the identical
    hourly state and this SAME window pass localizes the identical
    changepoints."""
    word = Window.partitionBy("event_type").orderBy("h")
    wcum = word.rowsBetween(Window.unboundedPreceding,
                            Window.currentRow)
    wall = Window.partitionBy("event_type")
    seq = (hourly
           .withColumn("rn", F.row_number().over(word))
           .withColumn("s_i", F.sum("x").over(wcum))
           .withColumn("s_n", F.sum("x").over(wall))
           .withColumn("n", F.count(F.lit(1)).over(wall)))
    dev = (seq.filter(F.col("rn") < F.col("n"))
           .withColumn("d", F.abs(F.col("n") * F.col("s_i")
                                  - F.col("rn") * F.col("s_n"))))
    wpick = Window.partitionBy("event_type").orderBy(F.col("d").desc(),
                                                     "rn")
    return (dev.withColumn("pk", F.row_number().over(wpick))
            .filter(F.col("pk") == 1)
            .select("event_type", F.col("h").alias("cp_hour"),
                    F.col("rn").cast("long").alias("cp_rn"),
                    F.col("n").cast("long").alias("n_hours"),
                    F.col("d").cast("long").alias("d_max"))
            .orderBy("event_type"))


@register(
    "timeseries_cusum_changepoint",
    twin=("events", (hourly_cents,), cusum_changepoints),
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, h, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn,
             SUM(x) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS s_i,
             SUM(x) OVER (PARTITION BY event_type) AS s_n,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly),
    dev AS (
      SELECT event_type, h, rn, n,
             ABS(n * s_i - rn * s_n) AS d
      FROM seq WHERE rn < n),
    pick AS (
      SELECT event_type, h AS cp_hour, CAST(rn AS BIGINT) AS cp_rn,
             CAST(n AS BIGINT) AS n_hours, CAST(d AS BIGINT) AS d_max,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d DESC, rn) AS pk
      FROM dev)
    SELECT event_type, cp_hour, cp_rn, n_hours, d_max
    FROM pick WHERE pk = 1 ORDER BY event_type
    """)
def timeseries_cusum_changepoint(spark, sf_dir):
    """Offline CUSUM changepoint localization per event type (Page '54
    cumulative sums; the max-deviation estimator of the classic
    at-most-one-changepoint formulation): over the hourly value series,
    the changepoint estimate is argmax_i |n·S_i − i·S_n| — the point
    where the prefix mean diverges most from the global mean, with the
    comparison CROSS-MULTIPLIED (n·S_i vs i·S_n) so the statistic is
    exact int64 arithmetic instead of mean differences in floats; ties
    break to the earliest hour, and the trivial i = n endpoint (always
    deviation 0) is excluded. Output per type: the changepoint hour,
    its 1-based index, the series length, and the deviation statistic.

    Scale: one map-side-combined shuffle builds the hourly rollup; the
    prefix sums are per-key ordered windows over time-BOUNDED series
    (hours per type grows with wall time, not corpus size — the same
    argument as timeseries_holt_smoothing), and the argmax is a second
    window over those same rows, no extra shuffle of the corpus. All
    integers, so the oracle hash-matches bit for bit."""


@register(
    "timeseries_retention_cohorts",
    category="events",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(DATE_TRUNC('week', ts) AS DATE) AS w
      FROM events),
    cohorts AS (
      SELECT user_id, MIN(w) AS cohort FROM uw GROUP BY user_id)
    SELECT cohort AS cohort_week,
           CAST(DATE_DIFF('day', cohort, w) // 7 AS BIGINT)
             AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM uw JOIN cohorts USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """)
def timeseries_retention_cohorts(spark, sf_dir):
    """Weekly retention cohort table — the product-analytics staple:
    users grouped by their FIRST active ISO week (both engines truncate
    weeks to Monday), then for every later week the count of cohort
    members still active. weeks_since is the exact day difference
    floor-divided by 7 (non-negative by construction, so truncating
    and flooring division agree); per-user-per-week activity is
    DISTINCT'd first, so each (cohort, weeks_since) cell counts one
    row per retained user — plain COUNT(*), no countDistinct shuffle.

    Scale: ONE user_id-keyed shuffle serves both the per-user distinct
    week set and the MIN-week cohort assignment (the join re-uses the
    clustering); the final rollup is cohorts × weeks — calendar-
    bounded, not row-bounded. The cohort table is the input to every
    retention curve/triangle; downstream ratios are one more
    broadcast-join against the weeks_since = 0 column."""
    e = table(spark, sf_dir, "events")
    uw = (e.select("user_id",
                   F.date_trunc("week", "ts").cast("date").alias("w"))
          .distinct())
    cohorts = uw.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (uw.join(cohorts, "user_id")
            .select(F.col("cohort").alias("cohort_week"),
                    F.expr("datediff(w, cohort) DIV 7").cast("long")
                    .alias("weeks_since"))
            .groupBy("cohort_week", "weeks_since")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .orderBy("cohort_week", "weeks_since"))


@register(
    "timeseries_autocorr_lag1",
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    centered AS (
      SELECT event_type, h,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             COUNT(*) OVER (PARTITION BY event_type) * x
               - SUM(x) OVER (PARTITION BY event_type) AS c
      FROM hourly),
    paired AS (
      SELECT event_type, n, c,
             LEAD(c) OVER (PARTITION BY event_type ORDER BY h) AS cn
      FROM centered)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN cn IS NOT NULL THEN c * cn ELSE 0 END)
                * 1000 // SUM(c * c) AS BIGINT) AS autocorr_permille
    FROM paired GROUP BY event_type
    HAVING SUM(c * c) > 0 ORDER BY event_type
    """)
def timeseries_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation of the hourly value series per event type —
    the smoothness/seasonality screen (is load persistent hour over
    hour, or white noise?). The estimator is the standard
    Σ(x_t−μ)(x_t+1−μ) / Σ(x_t−μ)² with every term CROSS-MULTIPLIED by
    n (c_t = n·x_t − S is integer-exact; the μ division never happens),
    emitted as integer permille — negative values allowed, and both
    engines' integer division truncates toward zero (the Holt
    discipline), so the oracle hash-matches bit for bit. Constant
    series (denominator 0) drop out via HAVING.

    Scale: one map-side-combined rollup shuffle, then per-key windows
    over time-BOUNDED hourly series (the CUSUM/Holt argument) and a
    keyed final aggregate. Overflow headroom: Σc² needs
    n³·x̄² < 2^63 — beyond ~10^5 hours × 10^5-cent means, promote the
    products to DECIMAL(38,0); the plan shape is unchanged."""
    hourly = hourly_cents(table(spark, sf_dir, "events"))
    wall = Window.partitionBy("event_type")
    word = Window.partitionBy("event_type").orderBy("h")
    centered = (hourly
                .withColumn("n", F.count(F.lit(1)).over(wall))
                .withColumn("c", F.col("n") * F.col("x")
                            - F.sum("x").over(wall)))
    paired = centered.withColumn("cn", F.lead("c").over(word))
    return (paired.groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n_hours"),
                 F.sum(F.when(F.col("cn").isNotNull(),
                              F.col("c") * F.col("cn"))
                       .otherwise(F.lit(0))).alias("num"),
                 F.sum(F.col("c") * F.col("c")).alias("den"))
            .filter(F.col("den") > 0)
            .select("event_type", "n_hours",
                    F.expr("num * 1000 DIV den").cast("long")
                    .alias("autocorr_permille"))
            .orderBy("event_type"))


@register(
    "timeseries_mannkendall_trend",
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND a.h < b.h),
    n AS (SELECT event_type, COUNT(*) AS n_hours FROM hourly GROUP BY 1)
    SELECT n.event_type, CAST(n.n_hours AS BIGINT) AS n_hours,
           CAST(SUM(p.sg) AS BIGINT) AS s_stat,
           CAST(SUM(CASE WHEN p.sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(SUM(CASE WHEN p.sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(SUM(CASE WHEN p.sg = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties
    FROM pairs p JOIN n ON p.event_type = n.event_type
    GROUP BY n.event_type, n.n_hours ORDER BY n.event_type
    """)
def timeseries_mannkendall_trend(spark, sf_dir):
    """Mann-Kendall monotonic-trend test per event type (Mann '45,
    Kendall's tau family): S = Σ_{i<j} sign(x_j − x_i) over the hourly
    value series — the standard nonparametric "is load trending?"
    statistic, robust to outliers and distribution-free. S, the
    concordant/discordant/tie counts, and n are all exact integers; the
    variance/z normalization is a constant-time driver-side formula and
    is left to the caller (keeping every emitted column engine-exact).

    Scale: ONE map-side-combined corpus shuffle (the hourly rollup);
    the pair stage self-joins the |type| × hours model table — bounded
    by wall time (30 d → 720 hours → ≤ 259 k pairs/key), never by
    corpus rows, and each key's pairs stay in one partition of an
    equi-join on event_type. At 10× the retention window the pair stage
    is still ~26 M rows/key: if that ever dominates, the O(n log n)
    inversion-count form (merge-sort fold per key) drops in without
    changing this operator's contract."""
    hourly = hourly_cents(table(spark, sf_dir, "events"))
    a, b = hourly.alias("a"), hourly.alias("b")
    sg = (F.when(F.col("b.x") > F.col("a.x"), 1)
          .when(F.col("b.x") < F.col("a.x"), -1).otherwise(0))
    pairs = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                    & (F.col("a.h") < F.col("b.h")))
             .select(F.col("a.event_type").alias("event_type"),
                     sg.alias("sg")))
    n = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"))
    return (pairs.groupBy("event_type")
            .agg(F.sum("sg").cast("long").alias("s_stat"),
                 F.sum(F.when(F.col("sg") == 1, 1).otherwise(0))
                 .cast("long").alias("concordant"),
                 F.sum(F.when(F.col("sg") == -1, 1).otherwise(0))
                 .cast("long").alias("discordant"),
                 F.sum(F.when(F.col("sg") == 0, 1).otherwise(0))
                 .cast("long").alias("ties"))
            .join(n, "event_type")
            .select("event_type", F.col("n_hours").cast("long")
                    .alias("n_hours"),
                    "s_stat", "concordant", "discordant", "ties")
            .orderBy("event_type"))


def seasonal_decompose_from_hourly(hourly):
    """The seasonal-decompose finisher over a (event_type, h, x) hourly
    frame — the twin finisher ``timeseries_seasonal_decompose``
    declares, shared LITERALLY by the batch query below and its
    streaming twin (``streaming.runner.run_twin``), the CUSUM
    shared-finisher discipline: the hourly rollup is the
    operator's ONLY state (a mergeable SUM, |type| x wall-time hours),
    so the streamed and batch decompositions agree by construction."""
    seas = (hourly.withColumn("hod", F.hour("h").cast("long"))
            .groupBy("event_type", "hod")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("m"))
            .withColumn("fx", F.expr("(s * 10000) DIV m"))
            .select("event_type", "hod", "fx"))
    wpeak = Window.partitionBy("event_type").orderBy(
        F.col("fx").desc(), "hod")
    peak = (seas.withColumn("pk", F.row_number().over(wpeak))
            .filter("pk = 1")
            .select("event_type", F.col("hod").alias("peak_hod"),
                    F.col("fx").alias("peak_seasonal_fx")))
    dev = (hourly.withColumn("hod", F.hour("h").cast("long"))
           .join(F.broadcast(seas), ["event_type", "hod"])
           .select("event_type", "h",
                   (F.col("x") * 10000 - F.col("fx")).alias("dev_fx")))
    wanom = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dev_fx")).desc(), "h")
    anom = (dev.withColumn("pk", F.row_number().over(wanom))
            .filter("pk = 1")
            # renamed join key: peak and anom descend from the SAME
            # leaf (one hourly frame), and over a memory-sink view the
            # two branches carry identical exprIds — a bare
            # join("event_type") is then ambiguous (the batch parquet
            # path re-keys per scan and hides this)
            .select(F.col("event_type").alias("et_anom"),
                    F.col("h").alias("anomaly_hour"), "dev_fx"))
    return (peak.join(anom, peak["event_type"] == anom["et_anom"])
            .drop("et_anom")
            .select("event_type",
                    F.col("peak_hod").cast("long").alias("peak_hod"),
                    F.col("peak_seasonal_fx").cast("long")
                    .alias("peak_seasonal_fx"),
                    "anomaly_hour",
                    F.col("dev_fx").cast("long")
                    .alias("anomaly_dev_fx"))
            .orderBy("event_type"))


@register(
    "timeseries_seasonal_decompose",
    twin=("events", (hourly_cents,), seasonal_decompose_from_hourly),
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    seas AS (
      SELECT event_type, EXTRACT(HOUR FROM h) AS hod,
             SUM(x) AS s, COUNT(*) AS m
      FROM hourly GROUP BY 1, 2),
    seas_fx AS (
      SELECT event_type, hod, (s * 10000) // m AS fx FROM seas),
    peak AS (
      SELECT event_type, hod AS peak_hod, fx AS peak_seasonal_fx,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY fx DESC, hod) AS pk
      FROM seas_fx),
    dev AS (
      SELECT hourly.event_type, hourly.h,
             hourly.x * 10000 - seas_fx.fx AS dev_fx
      FROM hourly JOIN seas_fx
        ON hourly.event_type = seas_fx.event_type
       AND EXTRACT(HOUR FROM hourly.h) = seas_fx.hod),
    anom AS (
      SELECT event_type, h AS anomaly_hour, dev_fx AS anomaly_dev_fx,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(dev_fx) DESC, h) AS pk
      FROM dev)
    SELECT peak.event_type, CAST(peak.peak_hod AS BIGINT) AS peak_hod,
           CAST(peak.peak_seasonal_fx AS BIGINT) AS peak_seasonal_fx,
           anom.anomaly_hour,
           CAST(anom.anomaly_dev_fx AS BIGINT) AS anomaly_dev_fx
    FROM peak JOIN anom ON peak.event_type = anom.event_type
    WHERE peak.pk = 1 AND anom.pk = 1 ORDER BY peak.event_type
    """)
def timeseries_seasonal_decompose(spark, sf_dir):
    """Hour-of-day seasonal decomposition per event type — the
    seasonal-naive baseline every ops dashboard runs: the seasonal
    component is the mean hourly total per hour-of-day (emitted in
    exact fixed point: (Σx·10⁴) div m — both engines' integer division
    truncates, the Holt discipline), the reported anomaly is the hour
    whose residual against its own hour-of-day baseline is largest in
    absolute value (dev = x·10⁴ − seasonal_fx, integer-exact; ties
    break to the earliest hour). Output per type: the peak
    hour-of-day with its seasonal level, and the worst anomaly hour
    with its signed deviation.

    Scale: ONE map-side-combined corpus shuffle (the hourly rollup);
    everything after runs on the |type| × hours model table — the
    hod profile is |type| × 24 and joins back broadcast-sized, the two
    argmax windows partition by event_type over wall-time-bounded
    series. No corpus-sized exchange after the rollup."""


#: LTTB output size per key: first + last point + one point per
#: interior bucket
LTTB_POINTS = 24
_LTTB_B = LTTB_POINTS - 2  # interior buckets


def _lttb_oracle() -> str:
    return f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, h, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly),
    pts AS (SELECT * FROM ser WHERE n >= {LTTB_POINTS}),
    buck AS (
      SELECT event_type, rn, x, n,
             ((rn - 2) * {_LTTB_B}) // (n - 2) AS b
      FROM pts WHERE rn >= 2 AND rn <= n - 1),
    bsum AS (
      SELECT event_type, b, SUM(rn) AS sx, SUM(x) AS sy,
             COUNT(*) AS m
      FROM buck GROUP BY 1, 2),
    lastp AS (SELECT event_type, rn AS lrn, x AS lx
              FROM pts WHERE rn = n),
    anchor AS (
      SELECT d.event_type, d.b,
             COALESCE(s.sx, l.lrn) AS ax, COALESCE(s.sy, l.lx) AS ay,
             COALESCE(s.m, 1) AS m
      FROM (SELECT DISTINCT event_type, b FROM buck) d
      LEFT JOIN bsum s ON s.event_type = d.event_type
                      AND s.b = d.b + 1
      JOIN lastp l ON l.event_type = d.event_type),
    prevp AS (
      SELECT event_type, 0 AS b, rn AS prev_rn, x AS px
      FROM pts WHERE rn = 1
      UNION ALL
      SELECT event_type, b + 1 AS b, rn AS prev_rn, x AS px
      FROM buck),
    scored AS (
      SELECT c.event_type, c.b, p.prev_rn, c.rn AS cand_rn,
             ABS((p.prev_rn * a.m - a.ax) * (c.x - p.px)
                 - (p.prev_rn - c.rn) * (a.ay - p.px * a.m)) AS s
      FROM buck c
      JOIN prevp p ON p.event_type = c.event_type AND p.b = c.b
      JOIN anchor a ON a.event_type = c.event_type AND a.b = c.b),
    best AS (
      SELECT event_type, b, prev_rn, cand_rn,
             ROW_NUMBER() OVER (PARTITION BY event_type, b, prev_rn
                                ORDER BY s DESC, cand_rn) AS rk
      FROM scored),
    walk AS (
      SELECT event_type, 1 AS step, CAST(1 AS BIGINT) AS sel_rn
      FROM (SELECT DISTINCT event_type FROM pts)
      UNION ALL
      SELECT w.event_type, w.step + 1, CAST(b.cand_rn AS BIGINT)
      FROM walk w
      JOIN best b ON b.event_type = w.event_type
                 AND b.b = w.step - 1
                 AND b.prev_rn = w.sel_rn AND b.rk = 1),
    sel AS (
      SELECT event_type, step AS sel_idx, sel_rn FROM walk
      UNION ALL
      SELECT event_type, {LTTB_POINTS} AS sel_idx, lrn FROM lastp)
    SELECT s.event_type, CAST(s.sel_idx AS BIGINT) AS sel_idx,
           CAST(s.sel_rn AS BIGINT) AS rn, p.h, p.x AS x_cents
    FROM sel s JOIN pts p ON p.event_type = s.event_type
                         AND p.rn = s.sel_rn
    ORDER BY s.event_type, s.sel_idx
    """


@register(
    "timeseries_downsample_lttb",
    category="events",
    bench=True,  # the stateful-fold tier's representative in the headline set
    oracle=_lttb_oracle())
def timeseries_downsample_lttb(spark, sf_dir):
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson '13 —
    the de-facto time-series plotting reducer in Grafana/Influx): the
    hourly value series per event type is reduced to {LTTB_POINTS}
    visually-dominant points — first and last always kept, and per
    interior bucket the point forming the LARGEST triangle with the
    previously selected point and the NEXT bucket's mean. All
    arithmetic is exact: the time axis is the hour's rank, and the
    triangle-area comparison is cross-multiplied by the next bucket's
    count m (area·2·m = |(pₓ·m − ΣX)(cy − pᵧ) − (pₓ − cx)(ΣY − pᵧ·m)|)
    so the bucket MEAN is never divided — ties break to the earliest
    hour, and the DuckDB oracle walks the identical chain with a
    recursive CTE over a pre-ranked (bucket, prev, cand) best table
    (windows in plain CTEs, pure joins in the recursive term).

    Spark side: the selection is a sequential fold — each bucket's
    winner depends on the previous winner — so no window/prefix form
    exists and this sits on the justified applyInPandas stateful tier
    (the Holt discipline): ONE map-side-combined corpus shuffle for
    the hourly rollup, then per-key folds over wall-time-bounded
    series (≤ ~720 points/key here), O(points) state, python-int
    exact. Keys shorter than {LTTB_POINTS} hours are passed through
    untouched by real deployments; here they are excluded (both
    engines) to keep the contract total."""
    hourly = hourly_cents(table(spark, sf_dir, "events"))

    schema = ("event_type string, sel_idx long, rn long, h timestamp, "
              "x_cents long")

    # rn (the hour's rank), n, and the n >= LTTB_POINTS gate are
    # computed INSIDE the per-key fold: the fold already receives the
    # key's whole series and sorts it, so the former row_number/count
    # window pass (an extra Sort + two window functions between the
    # rollup exchange and the applyInPandas exchange) derived nothing
    # the fold can't read off its own sorted frame — rn = position in
    # hour order, n = len, short keys return an empty frame (identical
    # rows: hours are unique per key, so rank-by-h == position)

    def fold(pdf):
        import pandas as pd

        n = len(pdf)
        if n < LTTB_POINTS:
            return pd.DataFrame(
                [], columns=["event_type", "sel_idx", "rn", "h",
                             "x_cents"])
        pdf = pdf.sort_values("h")
        rns = list(range(1, n + 1))
        xs = [int(v) for v in pdf["x"]]
        hs = list(pdf["h"])
        nb = _LTTB_B
        buckets: dict[int, list[int]] = {}
        for i in range(n):
            if 2 <= rns[i] <= n - 1:
                buckets.setdefault(((rns[i] - 2) * nb) // (n - 2),
                                   []).append(i)
        sel = [0]                       # indices into the series
        prev = 0
        for b in range(nb):
            cands = buckets.get(b)
            if not cands:
                continue  # unreachable when n >= LTTB_POINTS
            nxt = buckets.get(b + 1)
            if b + 1 < nb and nxt:
                ax = sum(rns[i] for i in nxt)
                ay = sum(xs[i] for i in nxt)
                m = len(nxt)
            else:
                ax, ay, m = rns[n - 1], xs[n - 1], 1
            p_rn, p_x = rns[prev], xs[prev]
            best_i, best_s = None, -1
            for i in cands:
                s = abs((p_rn * m - ax) * (xs[i] - p_x)
                        - (p_rn - rns[i]) * (ay - p_x * m))
                if s > best_s:
                    best_i, best_s = i, s
            sel.append(best_i)
            prev = best_i
        sel.append(n - 1)
        et = pdf["event_type"].iloc[0]
        return pd.DataFrame(
            [[et, k + 1, rns[i], hs[i], xs[i]]
             for k, i in enumerate(sel)],
            columns=["event_type", "sel_idx", "rn", "h", "x_cents"])

    return (hourly.groupBy("event_type").applyInPandas(fold, schema)
            .orderBy("event_type", "sel_idx"))


@register(
    "timeseries_funnel_threestep",
    category="events",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id),
    j AS (
      SELECT s.user_id, s.t1, c.t2, p.t3
      FROM s LEFT JOIN c ON c.user_id = s.user_id
             LEFT JOIN p ON p.user_id = s.user_id)
    SELECT COUNT(*) AS stage1_users,
           COUNT(t2) AS stage2_users,
           COUNT(t3) AS stage3_users,
           COUNT(t3) * 1000 // COUNT(*) AS conversion_permille,
           CAST(COALESCE(SUM(CASE WHEN t3 IS NOT NULL THEN
                 (EPOCH_US(t3) - EPOCH_US(t1)) // 1000000 END), 0)
                AS BIGINT) AS total_convert_seconds
    FROM j
    """)
def timeseries_funnel_threestep(spark, sf_dir):
    """Three-step strict-order funnel (signup -> later click -> later
    purchase), the canonical product-analytics measurement: per user
    the EARLIEST signup anchors the funnel, the earliest click strictly
    after it reaches stage 2, the earliest purchase strictly after THAT
    reaches stage 3. Emits per-stage user counts, the end-to-end
    conversion rate in exact integer permille, and total
    time-to-convert in whole seconds (epoch-microsecond difference,
    integer division — both engines truncate).

    Scale: stage anchors are aggregate-then-join — each stage filters
    the corpus to ONE event type before grouping, so the three
    user-keyed shuffles carry stage-sized frames (monotonically
    shrinking down the funnel), never the raw corpus twice; all three
    joins share the user_id key, so co-partitioning is reused. The
    final rollup is a 1-row fold. (The streaming CEP twin of the
    2-step prefix lives in streaming/stateful.py.)"""
    e = table(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click")
         .join(s, "user_id")
         .filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    j = (s.join(c.select("user_id", "t2"), "user_id", "left")
         .join(p.select("user_id", "t3"), "user_id", "left"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("stage1_users"),
        F.count("t2").cast("long").alias("stage2_users"),
        F.count("t3").cast("long").alias("stage3_users"),
        F.expr("count(t3) * 1000 DIV count(*)").cast("long")
        .alias("conversion_permille"),
        F.coalesce(F.sum(F.when(F.col("t3").isNotNull(),
                                F.expr("(unix_micros(t3) - unix_micros(t1))"
                                       " DIV 1000000"))),
                   F.lit(0)).cast("long").alias("total_convert_seconds"))


@register(
    "timeseries_theilsen_slope",
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn
      FROM hourly),
    slopes AS (
      SELECT a.event_type,
             (b.x - a.x) * 1000 // (b.rn - a.rn) AS s_permille
      FROM seq a JOIN seq b
        ON a.event_type = b.event_type AND a.rn < b.rn),
    ranked AS (
      SELECT event_type, s_permille,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s_permille) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM slopes)
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           CAST(s_permille AS BIGINT) AS theilsen_slope_permille
    FROM ranked WHERE rk = (np + 1) // 2 ORDER BY event_type
    """)
def timeseries_theilsen_slope(spark, sf_dir):
    """Theil-Sen slope per event type — the robust trend ESTIMATOR
    completing the Mann-Kendall DETECTOR (the canonical nonparametric
    pair: MK says whether load trends, Theil-Sen says how fast,
    unaffected by up to ~29% outliers): the median of all pairwise
    slopes (x_j − x_i)/(j − i) over the hourly cents series. Each
    slope is fixed to exact integer permille BEFORE the median
    (truncating division — identical in both engines, the Holt
    discipline) and the median is the LOWER median (rank ⌈n/2⌉), so
    every emitted value is engine-exact with no rational-midpoint
    averaging.

    Scale: identical shape to timeseries_mannkendall_trend — one
    map-side-combined corpus rollup, then the pair stage self-joins
    only the |type| x hours model table (wall-time-bounded, ≤ 259 k
    pairs/key at 30 days) and one per-key rank window picks the
    median. The O(n log n) Theil-Sen variants exist if retention ever
    grows 100x; at any realistic monitoring window the model table is
    the whole cost."""
    hourly = hourly_cents(table(spark, sf_dir, "events"))
    word = Window.partitionBy("event_type").orderBy("h")
    seq = hourly.withColumn("rn", F.row_number().over(word)) \
        .select("event_type", "rn", "x")
    a, b = seq.alias("a"), seq.alias("b")
    slopes = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                     & (F.col("a.rn") < F.col("b.rn")))
              .select(F.col("a.event_type").alias("event_type"),
                      F.expr("(b.x - a.x) * 1000 DIV (b.rn - a.rn)")
                      .alias("s_permille")))
    wrank = Window.partitionBy("event_type").orderBy("s_permille")
    wall = Window.partitionBy("event_type")
    return (slopes.withColumn("rk", F.row_number().over(wrank))
            .withColumn("np", F.count(F.lit(1)).over(wall))
            .filter(F.col("rk") == F.expr("(np + 1) DIV 2"))
            .select("event_type", F.col("np").cast("long")
                    .alias("n_pairs"),
                    F.col("s_permille").cast("long")
                    .alias("theilsen_slope_permille"))
            .orderBy("event_type"))


#: stationary-distribution fixed-point scale and unrolled iterations
MARKOV_SCALE = 10 ** 12
MARKOV_ITERS = 3


def _markov_stationary_oracle() -> str:
    it = """it{k} AS (
      SELECT c.to_type AS event_type,
             SUM((m.mass * c.n) // c.r) AS mass
      FROM it{p} m JOIN c ON c.from_type = m.event_type
      GROUP BY 1)"""
    its = ",\n    ".join(it.format(k=k, p=k - 1)
                         for k in range(1, MARKOV_ITERS + 1))
    return f"""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
      FROM events),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
    c AS (
      SELECT from_type, to_type, n,
             SUM(n) OVER (PARTITION BY from_type) AS r
      FROM cnt),
    it0 AS (
      SELECT from_type AS event_type,
             {MARKOV_SCALE} // (SELECT COUNT(DISTINCT from_type)
                                FROM cnt) AS mass
      FROM cnt GROUP BY from_type),
    {its}
    SELECT event_type, CAST(mass AS BIGINT) AS stationary_mass_fx
    FROM it{MARKOV_ITERS} ORDER BY event_type
    """


@register(
    "stats_markov_stationary",
    category="events",
    oracle=_markov_stationary_oracle())
def stats_markov_stationary(spark, sf_dir):
    """Stationary distribution of the user-journey Markov chain
    (events_markov_transitions' matrix) by fixed-point power iteration
    — where does a long random session SPEND its time, the
    steady-state companion to the one-step transition view. Three
    unrolled iterations of pi' = pi P in BIGINT fixed point
    (mass x 10^12), every contribution floored per (from, to) term
    ((mass_i * n_ij) div R_i — the pagerank_bipartite_3iter
    discipline), so the DuckDB oracle's unrolled CTE chain
    hash-matches bit for bit.

    Scale: the corpus shuffles ONCE (the user-keyed lead window that
    events_markov_transitions already pays); everything after runs on
    the |types|^2 count matrix — each iteration joins a |types|-row
    mass frame to it. At 100 TB the matrix is still 25 rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events")
    s = e.select("event_type",
                 F.lead("event_type").over(w).alias("next_type"))
    cnt = (s.filter(F.col("next_type").isNotNull())
           .groupBy(F.col("event_type").alias("from_type"),
                    F.col("next_type").alias("to_type"))
           .agg(F.count(F.lit(1)).alias("n")))
    wr = Window.partitionBy("from_type")
    c = cnt.withColumn("r", F.sum("n").over(wr))
    n_types = cnt.select("from_type").distinct().count()  # model-sized
    mass = (c.select("from_type").distinct()
            .select(F.col("from_type").alias("event_type"),
                    F.lit(MARKOV_SCALE // n_types).alias("mass")))
    for _ in range(MARKOV_ITERS):
        mass = (mass.join(F.broadcast(c),
                          mass["event_type"] == c["from_type"])
                .select(F.col("to_type").alias("event_type"),
                        F.expr("(mass * n) DIV r").alias("contrib"))
                .groupBy("event_type")
                .agg(F.sum("contrib").alias("mass")))
    return (mass.select("event_type",
                        F.col("mass").cast("long")
                        .alias("stationary_mass_fx"))
            .orderBy("event_type"))


#: SMA crossover windows (hours): fast and slow moving averages
SMA_FAST = 6
SMA_SLOW = 24


@register(
    "timeseries_sma_crossover",
    category="events",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, h,
             SUM(x) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN {SMA_FAST - 1} PRECEDING
                          AND CURRENT ROW) AS sf,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN {SMA_FAST - 1} PRECEDING
                            AND CURRENT ROW) AS nf,
             SUM(x) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN {SMA_SLOW - 1} PRECEDING
                          AND CURRENT ROW) AS ss,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN {SMA_SLOW - 1} PRECEDING
                            AND CURRENT ROW) AS ns,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn
      FROM hourly),
    sgn AS (
      SELECT event_type, h, rn,
             CASE WHEN sf * ns > ss * nf THEN 1
                  WHEN sf * ns < ss * nf THEN -1 ELSE 0 END AS s
      FROM win WHERE rn >= {SMA_SLOW}),
    cx AS (
      SELECT event_type, h, s,
             LAG(s) OVER (PARTITION BY event_type ORDER BY h) AS ps
      FROM sgn)
    SELECT event_type, h AS cross_hour,
           CAST(s AS BIGINT) AS direction
    FROM cx WHERE ps IS NOT NULL AND s <> 0 AND ps <> 0 AND s <> ps
    ORDER BY event_type, cross_hour
    """)
def timeseries_sma_crossover(spark, sf_dir):
    """Moving-average crossover detection per event type — the classic
    momentum signal (golden/death cross): hours where the fast
    {SMA_FAST}-hour mean crosses the slow {SMA_SLOW}-hour mean. Means
    are never divided: the comparison is CROSS-MULTIPLIED
    (sum_fast·n_slow vs sum_slow·n_fast — exact int64, the
    autocorrelation discipline), signs lag by one hour, and a
    crossover is a strict sign flip (zero-sign hours break runs, so
    touching the mean without crossing emits nothing). Warm-up rows
    (fewer than {SMA_SLOW} hours of history) are excluded on both
    engines.

    Scale: one map-side-combined corpus rollup, then per-key windows
    over the wall-time-bounded hourly series — the CUSUM/Holt shape;
    output is event-sized (crossovers), not series-sized."""
    hourly = hourly_cents(table(spark, sf_dir, "events"))
    word = Window.partitionBy("event_type").orderBy("h")
    wf = word.rowsBetween(-(SMA_FAST - 1), 0)
    ws = word.rowsBetween(-(SMA_SLOW - 1), 0)
    win = (hourly
           .withColumn("sf", F.sum("x").over(wf))
           .withColumn("nf", F.count(F.lit(1)).over(wf))
           .withColumn("ss", F.sum("x").over(ws))
           .withColumn("ns", F.count(F.lit(1)).over(ws))
           .withColumn("rn", F.row_number().over(word))
           .filter(F.col("rn") >= SMA_SLOW))
    sgn = win.withColumn(
        "s", F.when(F.col("sf") * F.col("ns") > F.col("ss") * F.col("nf"),
                    1)
        .when(F.col("sf") * F.col("ns") < F.col("ss") * F.col("nf"), -1)
        .otherwise(0))
    cx = sgn.withColumn("ps", F.lag("s").over(word))
    return (cx.filter(F.col("ps").isNotNull() & (F.col("s") != 0)
                      & (F.col("ps") != 0) & (F.col("s") != F.col("ps")))
            .select("event_type", F.col("h").alias("cross_hour"),
                    F.col("s").cast("long").alias("direction"))
            .orderBy("event_type", "cross_hour"))


def mad_anomalies_from_hourly(hourly) -> DataFrame:
    """Finisher: (event_type, h, cnt) hourly rollup -> anomalous hours
    (the twin finisher ``timeseries_anomaly_mad`` declares, shared
    verbatim by the batch query and its streaming twin — the rollup, a
    mergeable COUNT bounded by |event_type| x wall-time hours, is the
    operator's only state)."""
    wrk = Window.partitionBy("event_type").orderBy("cnt", "h")
    wn = Window.partitionBy("event_type")
    rc = (hourly.withColumn("rk", F.row_number().over(wrk))
          .withColumn("n", F.count(F.lit(1)).over(wn)))
    med = (rc.groupBy("event_type")
           .agg((F.max(F.when(F.col("rk") == F.expr("(n + 1) DIV 2"),
                              F.col("cnt")))
                 + F.max(F.when(F.col("rk") == F.expr("(n + 2) DIV 2"),
                                F.col("cnt")))).alias("med2")))
    dev = (rc.join(F.broadcast(med), "event_type")
           .select("event_type", "h", "cnt",
                   F.abs(2 * F.col("cnt") - F.col("med2")).alias("d2")))
    wdev = Window.partitionBy("event_type").orderBy("d2", "h")
    devr = (dev.withColumn("rk", F.row_number().over(wdev))
            .withColumn("n", F.count(F.lit(1)).over(wn)))
    mad = (devr.groupBy("event_type")
           .agg((F.max(F.when(F.col("rk") == F.expr("(n + 1) DIV 2"),
                              F.col("d2")))
                 + F.max(F.when(F.col("rk") == F.expr("(n + 2) DIV 2"),
                                F.col("d2")))).alias("mad4")))
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(2 * F.col("d2") > 3 * F.col("mad4"))
            .select("event_type", F.col("h").alias("hour_start"), "cnt",
                    F.col("d2").cast("long").alias("dev2"),
                    F.col("mad4").cast("long").alias("mad4"))
            .orderBy("event_type", "hour_start"))


@register(
    "timeseries_anomaly_mad",
    twin=("events", (hourly_counts,), mad_anomalies_from_hourly),
    category="events",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, h),
    rc AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY cnt, h) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly),
    med AS (
      SELECT event_type,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN cnt END)
             + MAX(CASE WHEN rk = (n + 2) // 2 THEN cnt END) AS med2
      FROM rc GROUP BY event_type),
    dev AS (
      SELECT rc.event_type, rc.h, rc.cnt,
             ABS(2 * rc.cnt - m.med2) AS d2,
             ROW_NUMBER() OVER (PARTITION BY rc.event_type
                                ORDER BY ABS(2 * rc.cnt - m.med2), rc.h)
               AS rk,
             COUNT(*) OVER (PARTITION BY rc.event_type) AS n
      FROM rc JOIN med m ON m.event_type = rc.event_type),
    mad AS (
      SELECT event_type,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN d2 END)
             + MAX(CASE WHEN rk = (n + 2) // 2 THEN d2 END) AS mad4
      FROM dev GROUP BY event_type)
    SELECT d.event_type, d.h AS hour_start, d.cnt,
           CAST(d.d2 AS BIGINT) AS dev2, CAST(a.mad4 AS BIGINT) AS mad4
    FROM dev d JOIN mad a ON a.event_type = d.event_type
    WHERE 2 * d.d2 > 3 * a.mad4
    ORDER BY d.event_type, d.h
    """)
def timeseries_anomaly_mad(spark, sf_dir):
    """Robust anomaly screening on the hourly event-count series:
    flag hours whose count deviates from the per-type MEDIAN by more
    than 3 MADs (median absolute deviation) — the robust twin of the
    Tukey-fence screen (stats_iqr_outliers) and the alerting primitive
    monitoring stacks run on counter series, immune to the very
    anomalies it hunts (unlike z-scores, whose mean/stddev the outlier
    itself drags). All statistics are EXACT rank medians in doubled
    units so nothing fractional ever materializes: med2 = lower+upper
    middle of counts (2x median), d2 = |2*cnt - med2| (2x deviation),
    mad4 = lower+upper middle of d2 (4x MAD), and the 3-MAD fence is
    the cross-multiplied integer test 2*d2 > 3*mad4. Both engines step
    the identical rank convention, so the match is value-exact.

    Scale: the series is the |event_type| x hours MODEL table (bounded
    by wall time, not corpus rows) — the corpus is touched once by the
    hourly aggregate; both rank windows and both join-backs run on the
    model table only, the same shape as the Mann-Kendall and Theil-Sen
    stages."""
