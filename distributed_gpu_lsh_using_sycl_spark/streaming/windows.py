"""Watermarked event-time windowed aggregation — the late-data-correct
streaming rollup next to ingest (stateless incremental signatures) and
stateful (incremental bucket join).

The reference has no streaming surface at all (SURVEY §2.8); this is new
capability for the continuous-arrival regime: per-window per-type event
counts/sums with a bounded-state guarantee. The watermark is the state
eviction contract — windows older than (max event time − delay) are
finalized and dropped from the state store, so state is O(active
windows × keys), not O(stream length). In append mode a window emits
exactly once, when the watermark passes its end: late rows inside the
delay still count; rows later than the delay are dropped — the
documented, bounded trade every 100-TB streaming rollup makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), False),
    T.StructField("user_id", T.LongType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("value", T.DoubleType(), False),
])


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark_delay: str = "2 hours") -> DataFrame:
    """(window_start, window_end, event_type, n_events, sum_value) —
    works identically on a batch OR streaming events DataFrame (the same
    logical plan; only the sink mode differs), which is what makes the
    batch query below the streaming result's oracle."""
    return (events
            .withWatermark("ts", watermark_delay)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def windowed_stream(spark: SparkSession, input_dir: str, out_dir: str,
                    checkpoint_dir: str, window: str = "1 hour",
                    watermark_delay: str = "2 hours"):
    """readStream(parquet dir) -> watermarked windowed agg -> append sink,
    drained with an availableNow trigger (current files, then stop); a
    scheduler re-runs the drain as files land."""
    stream = (spark.readStream
              .schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .parquet(input_dir))
    return (windowed_event_counts(stream, window, watermark_delay)
            .writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
