"""Structured Streaming surface.

The reference's AWS stage fan-out (README.md:14-33) is batch, but its
shape — rows arriving as keyed messages, per-row docs emitted — maps
to Structured Streaming: a file source → the same declarative
transformations → a sink. Everything here reuses the batch
expressions; only the source/sink wiring differs, which is the point
of building the batch plans declaratively.

The streaming queries use the file source + memory sink with
``processAllAvailable()`` so a bounded parquet directory drives the
stream to completion synchronously; watermarks bound state for late
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, normalizing ``ts`` to
    a microsecond TIMESTAMP. The stream schema must be declared up
    front, so sniff the parquet footer via a batch read (handles both
    the legacy TIMESTAMP(NANOS)-as-long encoding and plain
    timestamp[us] — same as the batch loader)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_is_long = isinstance(
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType, LongType
    )
    ts_decl = "bigint" if ts_is_long else "timestamp_ntz"
    schema = (
        "event_id bigint, ts %s, user_id bigint, event_type string, value double, props string"
        % ts_decl
    )
    # The file source requires a directory: point at sf_dir and select
    # the events file with a glob filter.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of
    plans/events_queries.q41 (same grouping keys and aggregates)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a bounded stream to completion through the memory sink and
    return the final result as a batch DataFrame."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.table(query_name)


def streaming_dedup_within_watermark(
    events: DataFrame, key_cols: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Exact in-flight dedup with BOUNDED state: duplicates of a key
    are dropped while it stays inside the event-time watermark, and
    the key's state is evicted once the watermark passes it.

    Plain dropDuplicates would hold every key ever seen (state grows
    with the corpus); dropDuplicatesWithinWatermark holds only the
    tail of the stream, which is the right contract when duplicates
    arrive close together (retries, at-least-once sources, replayed
    batches).
    Requires an event-time column already named ``ts``.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_stream_left_outer_join(
    events: DataFrame, window: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, attributed
    to purchases by the same user within the following ``window`` —
    and clicks with NO such purchase still emit (null purchase side)
    once the watermark passes ``click_ts + window`` and the state
    store can prove no match can ever arrive.

    The outer side is exactly the inner interval join plus
    watermark-certified non-matches: Structured Streaming buffers an
    unmatched click until the global watermark (min across inputs of
    max event time − delay) exceeds its join-window end, then emits it
    null-extended in a no-data micro-batch. State is bounded by
    window + watermark on both sides.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {window}")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )
