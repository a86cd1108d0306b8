"""Event-time windowing over the events stream table — batch and
Structured Streaming forms of the same logical query.

The reference has no streaming at all (SURVEY.md §1.1: its only iteration
is the per-pattern barrier loop), so this module is engine-tier
functionality for the pipeline use-case: event tables at 100 TB arrive
continuously, and the SAME windowed aggregation must run both as a batch
backfill and as an incremental stream. We therefore express each query
once over a DataFrame (works for both batch and streaming inputs) and add
the watermark only on the streaming path:

* ``tumbling_agg``   — fixed windows (F.window), counts + value sums.
* ``sliding_agg``    — overlapping windows (window + slide).
* ``session_agg``    — gap-based sessions; batch form uses the lag/cumsum
  idiom (deterministic, oracle-checkable in SQL); the streaming form uses
  F.session_window (state store managed).
* ``stream_from_parquet`` — readStream wrapper with explicit schema +
  watermark; drive with trigger(availableNow=True) for deterministic tests.

Scale notes: tumbling/sliding aggs are single-shuffle groupBys with
map-side partial aggregation (hot keys absorbed before the shuffle);
session windows shuffle by user — a mega-user's events all land in one
task, so the batch form bounds sessions per task only by user activity
(the standard caveat; salting cannot apply because sessionization is a
per-key scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def tumbling_agg(events: DataFrame, size: str = "1 hour") -> DataFrame:
    """(window_start, event_type, n_events, total_value) — fixed windows.
    Works unchanged on a batch or streaming DataFrame."""
    return (
        events.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """(window_start, n_events) — overlapping windows; each event lands in
    size/slide windows."""
    return (
        events.groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """(user_id, session_start, session_end, n_events) — gap-based sessions,
    batch form: per-user lag -> new-session flag -> running sum = session id.
    Deterministic given distinct (user_id, ts, event_id) ordering."""
    gap_s = F.expr(f"INTERVAL {gap}")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("ts") > F.lag("ts").over(w) + gap_s, F.lit(1)
        ).otherwise(F.lit(0)).alias("new_session"),
    ).withColumn("session_id", F.sum("new_session").over(w))
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_id")
    )


def session_agg_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming form of session_agg via F.session_window (state-store
    sessions with the same gap semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_from_parquet(
    spark: SparkSession,
    path: str,
    watermark: str = "1 day",
) -> DataFrame:
    """readStream over a parquet directory of events with the explicit
    ``EVENTS_SCHEMA`` + watermark (late rows beyond the watermark are
    dropped from stateful aggs)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(path)
        .withWatermark("ts", watermark)
    )


def run_stream_to_memory(streaming_df: DataFrame, query_name: str):
    """Drive a streaming aggregation to completion with availableNow (all
    currently-visible input, then stop) into an in-memory sink, waiting up
    to 120 s; returns the finished query. Deterministic harness for
    tests/backfills."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q
