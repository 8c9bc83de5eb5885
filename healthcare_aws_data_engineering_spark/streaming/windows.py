"""Watermarked event-time aggregation over an events stream.

EXTENSION, not reference parity (the reference is batch-only — SURVEY
§2.9 flags any streaming op beyond availableNow ingest as an extension).
Demonstrates the Structured Streaming surface a large-scale pipeline
needs: event-time tumbling and session windows, late-data handling via
watermark, and a watermarked stream-stream join.

All functions take a streaming OR batch DataFrame with the events schema
(``ts timestamp, user_id long, event_type string, value double``) — the
same code path runs in both modes (Spark's unified API), which is how the
tests pin streaming results to their batch twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type.

    Watermark bounds state: windows older than (max event time − watermark)
    are finalized and dropped from the state store — late rows beyond that
    are discarded, the documented trade-off for bounded state at scale."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Per-user session aggregation via the native ``session_window``
    operator: a session closes after ``gap`` of inactivity.

    This is the streaming twin of the batch lag→flag→cumsum sessionizer
    (``plans/pipeline_queries.py::sessionize``) — two independent
    algorithms for the same semantics; the test suite pins them to each
    other. State per (user, open session) is fixed-width and the
    watermark closes sessions, so state is bounded at scale."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def correlated_events_join(
    first: DataFrame,
    second: DataFrame,
    max_gap_minutes: int = 30,
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each ``second`` event
    with ``first`` events of the same user that happened in the
    preceding ``max_gap_minutes`` (the attribution / funnel-edge join —
    e.g. purchase within 30 min of a view).

    Both sides carry watermarks and the join predicate brackets event
    time on BOTH ends, so Spark can bound the buffered state per side
    (an open-ended predicate would force unbounded buffering — the
    classic stream-join pitfall). The identical code path runs in batch
    for the parity tests."""
    a = first.select(
        F.col("event_id").alias("first_id"),
        F.col("user_id"),
        F.col("ts").alias("first_ts"),
    )
    b = second.select(
        F.col("event_id").alias("second_id"),
        F.col("user_id").alias("user_id_b"),
        F.col("ts").alias("second_ts"),
    )
    if streaming:
        a = a.withWatermark("first_ts", watermark)
        b = b.withWatermark("second_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("first_ts") <= F.col("second_ts"))
        & (
            F.col("second_ts")
            <= F.col("first_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        )
    )
    return a.join(b, cond).select(
        "user_id", "first_id", "second_id", "first_ts", "second_ts"
    )


def run_available_now_to_memory(
    df: DataFrame, name: str, checkpoint_path: str, output_mode: str = "append"
):
    """Drain a bounded stream into an in-memory table (test/debug sink)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
