"""Custom stateful streaming operators via applyInPandasWithState.

The windows module covers what Structured Streaming's built-in stateful
aggregations express (tumbling/sliding/session); this module is the
escape hatch for operators the built-ins can't: per-key custom state with
Arrow-batched (never per-row) Python transition functions.

First citizen: **streaming exact dedup** — the streaming form of
``text.dedup.exact_dedup`` for a continuously-arriving document feed (the
100 TB training-pipeline shape: dedup against everything already
ingested, not just the current batch). State per content-key is a single
"seen + smallest id" record; each micro-batch emits only keys seen for
the first time. State is partitioned by the grouping key across
executors — the state store scales horizontally the same way the shuffle
does; a production deployment would bound state with a TTL
(GroupStateTimeout) or an external dedup index once key cardinality
outgrows the store.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUT_SCHEMA = "key string, keep_id long"
DEDUP_STATE_SCHEMA = "keep_id long"


def _dedup_fn(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit (key, min id) the first time a key appears; nothing after."""
    if state.exists:
        # already emitted in an earlier batch — drain input, emit nothing
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        if len(pdf):
            m = int(pdf["id"].min())
            best = m if best is None else min(best, m)
    if best is not None:
        state.update((best,))
        yield pd.DataFrame({"key": [key[0]], "keep_id": [best]})


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """First-seen exact dedup over a streaming document feed.

    ``docs`` is a streaming DataFrame; returns a streaming (key, keep_id)
    frame in append mode — one row per distinct ``content_hash`` value
    across the whole stream, carrying the smallest ``doc_id`` of its first
    batch.
    Batch-parity: running the same input through ``exact_dedup`` (batch)
    yields the same key set (keep_id may differ only when a key recurs in
    a LATER batch with a smaller id — first-seen semantics are the
    streaming contract).
    """
    keyed = docs.select(
        F.col("content_hash").cast("string").alias("key"),
        F.col("doc_id").cast("long").alias("id"),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- first-seen event dedup (key = user_id x event_type) ----------------------

FIRST_SEEN_OUT_SCHEMA = (
    "user_id long, event_type string, first_event_id long, first_ts_us long"
)
FIRST_SEEN_STATE_SCHEMA = "first_ts_us long, first_event_id long"


def first_seen_events(events: DataFrame) -> DataFrame:
    """BATCH first-seen dedup of an event feed: one row per (user_id,
    event_type) carrying the earliest event by (ts, event_id) — the exact
    batch-equivalent of :func:`streaming_first_seen_events` (pinned equal
    in tests/test_streaming.py when micro-batches arrive in event-time
    order, the production log-ingest shape).

    One shuffle: a window partitioned by the (high-cardinality) key — never
    a global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            # cast: parquet event times are TIMESTAMP_NTZ; session TZ is UTC
            F.unix_micros(F.col("ts").cast("timestamp")).alias("first_ts_us"),
        )
    )


def _first_seen_fn(
    key: Tuple[int, str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit the (ts, event_id)-min event of the key's FIRST batch; nothing
    after (first-seen semantics — equals the global minimum when batches
    arrive in event-time order)."""
    if state.exists:
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        if len(pdf):
            row = pdf.sort_values(["ts_us", "event_id"]).iloc[0]
            cand = (int(row["ts_us"]), int(row["event_id"]))
            if best is None or cand < best:
                best = cand
    if best is not None:
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "first_event_id": [best[1]],
                "first_ts_us": [best[0]],
            }
        )


def streaming_first_seen_events(events: DataFrame) -> DataFrame:
    """Streaming first-seen event dedup (append mode): one output row per
    (user_id, event_type) across the whole stream — the stateful-streaming
    form of :func:`first_seen_events`, same applyInPandasWithState shape as
    :func:`streaming_exact_dedup` (key-partitioned state, Arrow-batched
    transition, never per-row Python)."""
    keyed = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_OUT_SCHEMA,
        stateStructType=FIRST_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
