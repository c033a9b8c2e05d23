"""Event-time windowed aggregation with watermark — the Structured
Streaming surface for stream tables (events).

The reference has no event-time concept (§2.9: its --streaming is
incremental batching), but a stream-processing engine at 100 TB needs
late-data-tolerant windowed aggregation; this is the standard
watermark + tumbling-window form with append-mode finalized windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "2 hours"   # late events beyond this drop from a stream
SESSION_GAP = "30 minutes"


def hourly_event_counts(events_stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type; windows finalize once
    the watermark passes (late events beyond ``WATERMARK`` drop).

    Works on batch DataFrames too (watermark is a no-op there), so the
    same code path is testable batch-vs-stream — and the batch form is
    the ``events_hourly_window`` driver query.
    """
    # watermarks require TIMESTAMP (with timezone); the events table
    # stores TIMESTAMP_NTZ — window on TIMESTAMP, then return ``hour``
    # as TIMESTAMP_NTZ so it equals the oracle's date_trunc('hour', ts)
    df = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", WATERMARK)
    return (df
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 (F.sum(F.round(F.col("value") * 10000, 0).cast("long"))
                  / 10000.0).alias("sum_value"))
            .select(F.col("w.start").cast("timestamp_ntz").alias("hour"),
                    "event_type", "n", "sum_value"))


def session_event_counts(events_stream: DataFrame) -> DataFrame:
    """NATIVE session windows per user (F.session_window): a session
    closes after ``SESSION_GAP`` of silence; with a stream input the state
    finalizes once the watermark passes the session end. Batch
    DataFrames take the same path (watermark no-op), so streamed ==
    batch is directly testable — and the batch form is the
    ``events_session_window`` driver query's shape."""
    df = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", WATERMARK)
    # session math runs on TIMESTAMP (watermark requirement); outputs
    # return to TIMESTAMP_NTZ — the events table's storage type — so
    # batch, stream, driver query and the DuckDB oracle all agree on
    # naive wall-clock values
    w = F.session_window("ts", SESSION_GAP).alias("w")
    return (df.groupBy("user_id", w)
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.start").cast("timestamp_ntz")
                    .alias("session_start"),
                    F.col("w.end").cast("timestamp_ntz")
                    .alias("session_end"), "n_events"))
