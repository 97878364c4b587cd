"""Event-time windowing over the `events` table (SURVEY.md §2.10).

The reference is batch-only (@monthly Airflow trigger, dag-knlp.py:293);
the extended engine adds the streaming operator family. Spark's window
functions evaluate identically in batch and streaming, so these run as
batch queries for the DuckDB oracle while `streaming.stream` wires the
same aggregations behind `readStream` with watermarks (tested via the
file source).

100 TB notes: event-time windows aggregate partially map-side like any
groupBy; the shuffle key is (window, type) whose cardinality is bounded
by time-range/width × types, not by row count. Session windows shuffle
once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)                   AS window_start,
           CAST(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*)                 AS n_events,
           ROUND(SUM(value), 2)     AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type
    (`F.window` — identical semantics in batch and streaming)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, ts, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS w, ts, value
      FROM events
    )
    SELECT CAST(w AS TIMESTAMP)                      AS window_start,
           CAST(w + INTERVAL '1 hour' AS TIMESTAMP)  AS window_end,
           COUNT(*)                                  AS n_events,
           ROUND(SUM(value), 2)                      AS total_value
    FROM starts
    GROUP BY 1, 2
    """,
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour width, 30-minute slide — every event
    lands in exactly 2 windows (the oracle materializes both starts
    explicitly; Spark's `window()` does the same expansion internally)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP)                          AS session_start,
           CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP)  AS session_end,
           COUNT(*)                                            AS n_events,
           ROUND(SUM(value), 2)                                AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user
    (`F.session_window`; the oracle is the classic gaps-and-islands
    formulation — session_end = last event + gap, matching Spark)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type,
                                time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id, event_type, ts FROM ranked WHERE rn = 1
    """,
)
def dedup_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of `dropDuplicatesWithinWatermark`: keep the
    first event per (user, type) within each 1-hour bucket. The true
    streaming form (state-store dedup bounded by the watermark) is
    exercised in tests via a memory-source stream."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", "event_type", F.window("ts", "1 hour")
    ).orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "stream_topk_trending",
    oracle="""
    WITH counts AS (
      SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rk FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type) AS rk
      FROM counts
    ) WHERE rk <= 3
    """,
)
def topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items pattern: per 1-hour window, the top-3 event
    types by count — run as a REAL micro-batch streaming job
    (file-source stream → windowed count in complete mode → memory
    sink), with the per-window rank applied to the converged sink
    table. Splitting rank out of the streaming graph is the
    production shape: windowed counts are an incrementally-updatable
    streaming aggregate, while top-k is a cheap batch pass over the
    (bounded: windows × types) sink — keeping rank out of the
    streaming state store. Deterministic tiebreak on event_type."""
    import tempfile
    import uuid

    from ..catalog import load_events_stream

    counts = (
        load_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    sink = f"topk_trending_{uuid.uuid4().hex[:12]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="etl_knlp_ckpt_"))
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        spark.table(sink)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


@query(
    "rollup_hierarchical_time",
    oracle="""
    WITH hourly AS (
      SELECT user_id,
             date_trunc('hour', ts)   AS h,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(value)               AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', h) AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(SUM(n_events) AS BIGINT)    AS n_events,
           ROUND(SUM(sum_value), 2)         AS sum_value,
           TRUE                             AS matches_direct
    FROM hourly
    GROUP BY 1
    """,
)
def rollup_hierarchical_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup (the continuous-
    aggregate pattern): the DAILY aggregate derives from the HOURLY
    aggregate's partials, never re-scanning raw events — at 100 TB the
    hourly materialization is the only pass over the fact table, and
    every coarser granularity (day/week/month) reduces rows that are
    already windows×keys small. Only algebraic aggregates compose this
    way (sum-of-sums, count-of-counts); COUNT DISTINCT does NOT
    (distinct users per day ≠ sum of hourly distincts), so
    active_users re-aggregates the (user, hour) grain, which the
    hourly table preserves — exactly why continuous aggregates keep
    their grouping keys. `matches_direct` pins rollup-from-partials ==
    direct-from-raw per day; the oracle fixes it TRUE."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    daily_from_hourly = hourly.groupBy(
        F.to_date(F.date_trunc("day", "h")).alias("day")
    ).agg(
        F.countDistinct("user_id").alias("active_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.round(F.sum("sum_value"), 2).alias("sum_value"),
    )
    daily_direct = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("d_n"),
        F.round(F.sum("value"), 2).alias("d_sum"),
    )
    return (
        daily_from_hourly.join(daily_direct, "day")
        .select(
            "day",
            "active_users",
            "n_events",
            "sum_value",
            (
                (F.col("n_events") == F.col("d_n"))
                & (F.abs(F.col("sum_value") - F.col("d_sum")) < 0.02)
            ).alias("matches_direct"),
        )
    )


@query(
    "stream_ohlc",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             date_trunc('hour', ts) AS window_start,
             value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, window_start,
           MAX(CASE WHEN rn_open = 1 THEN value END)  AS open,
           MAX(value)                                  AS high,
           MIN(value)                                  AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END)  AS close,
           CAST(COUNT(*) AS BIGINT)                    AS n_events
    FROM ranked GROUP BY event_type, window_start
    """,
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ohlc_hourly` as a REAL micro-batch stream — the streaming form
    of order-dependent bar aggregation. The trick that makes open and
    close STREAMABLE: they're expressed as min/max over a
    (ts, event_id, value) struct — true commutative-associative
    aggregates whose result is independent of arrival order across
    micro-batches, so no state-store sequence tracking and no
    event-time sorting is needed; the struct's lexicographic order IS
    the (ts, event_id) total order both engines pin. File-source
    stream → windowed struct-min/max in complete mode → memory sink;
    the converged sink equals the batch bars, which is plain SQL —
    the stream_stateful_totals pattern giving the state-store path a
    full value oracle."""
    import tempfile
    import uuid

    from ..catalog import load_events_stream

    ord_struct = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    bars = (
        load_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(ord_struct).alias("o"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(ord_struct).alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    sink = f"stream_ohlc_{uuid.uuid4().hex[:12]}"
    q = (
        bars.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="etl_knlp_ckpt_"))
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "event_type",
        F.col("w.start").alias("window_start"),
        F.col("o.value").alias("open"),
        "high",
        "low",
        F.col("c.value").alias("close"),
        "n_events",
    )


@query(
    "stream_distinct_breadth",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def stream_distinct_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user engagement breadth: the exact number of
    distinct event types each user has ever emitted, maintained
    continuously — the streaming twin of `running_distinct`'s final
    row. The running (per-event) trajectory is order-DEPENDENT and
    so not streamable without event-time sequencing, but the
    converged set size is order-independent: size(collect_set) is a
    commutative-associative aggregate, one stateful operator in
    complete mode, no watermark needed because the state is the
    DISTINCT KEY SET — bounded by |users| × |types| (the key domain),
    not by stream length. That domain-boundedness is the licensing
    argument for unwatermarked streaming state here, the same way
    windowed ops lean on watermark eviction. File-source stream →
    memory sink, availableNow; the converged sink hash-matches plain
    batch COUNT(DISTINCT)."""
    import tempfile
    import uuid

    from ..catalog import load_events_stream

    breadth = (
        load_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"))
    )
    sink = f"stream_breadth_{uuid.uuid4().hex[:12]}"
    q = (
        breadth.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="etl_knlp_ckpt_"))
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select("user_id", "n_types")
