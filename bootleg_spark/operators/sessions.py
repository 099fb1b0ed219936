"""Event sessionization (engine extension — the reference is batch-only
file processing with no event-time semantics, SURVEY §2.11).

Gap-based sessions over the `events` stream table: a new session starts
when a user's inter-event gap exceeds the threshold. Classic window-
function dataflow — one shuffle on user_id, everything else windowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame) -> DataFrame:
    """(user_id, session_id, n_events, start_epoch, end_epoch, total_value).

    session_id is the per-user running count of boundaries where the
    gap to the user's previous event exceeds 1800 s
    (1-based). Deterministic ordering: (ts, event_id) breaks timestamp
    ties.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    prev = F.lag(epoch).over(w)
    is_new = F.when(prev.isNull() | ((epoch - prev) > 1800), 1).otherwise(0)
    with_session = events.withColumn(
        "session_id", F.sum(is_new).over(w).cast("long")
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(epoch).cast("long").alias("start_epoch"),
        F.max(epoch).cast("long").alias("end_epoch"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def sessionize_windows(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Sessionization via Spark's native ``session_window`` — the form
    that runs UNCHANGED as a Structured Streaming query: with
    ``watermark`` set and a streaming source, state for sessions older
    than the watermark is evicted and late events beyond it are dropped
    (the engine-managed alternative to :func:`sessionize`'s
    lag/running-sum plan, which needs a full per-user sort).

    Output (user_id, start_epoch, end_epoch, n_events, total_value);
    ``end_epoch`` is the session_window end = last event + the
    30-minute gap (Spark's session_window semantics — differs from
    sessionize's last-event timestamp by exactly the gap).
    """
    src = events
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    win = F.session_window(F.col("ts"), "30 minutes")
    return (
        src.groupBy(win, F.col("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).cast("long").alias("start_epoch"),
            F.unix_timestamp(F.col("session_window.end")).cast("long").alias("end_epoch"),
            "n_events",
            "total_value",
        )
    )
