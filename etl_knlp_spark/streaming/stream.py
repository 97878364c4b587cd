"""Structured Streaming wiring (SURVEY.md §2.10).

`windows.py` holds the window semantics (batch-checkable); this module
binds the same aggregations to real streams: watermark policy,
stateful dedup, a stream-static join, and an idempotent foreachBatch
JSON sink standing in for the reference's chunked S3 staging
(dag-knlp.py:139-145). Tested with the file source — no external
broker in this environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(events: DataFrame, window: str = "10 minutes", watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts: late data beyond the
    watermark is dropped and window state is evicted — bounded state at
    any scale (the non-negotiable property for 100 TB streams)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on event_id, state bounded by the
    watermark (`dropDuplicatesWithinWatermark`)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def write_stream_foreach_batch(df: DataFrame, path: str, checkpoint: str):
    """Exactly-once-style sink via foreachBatch: each micro-batch
    writes to a batchId-keyed subdirectory with overwrite, so a
    replayed batch (failure → restart from checkpoint) lands
    idempotently instead of duplicating. This is the pattern for sinks
    without native transactional support."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").json(f"{path}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "left") -> DataFrame:
    """Stream-static join: every micro-batch joins the (slowly-changing)
    static dimension. The dim is broadcast — the stream side never
    shuffles, so enrichment adds no stateful operator and no watermark
    requirement. At 100 TB-scale ingest this is the standard pattern
    for attaching reference data (user → cohort, type → category)."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, how)
