"""Streaming windowed aggregations — event-time windows + watermark.

The reference's only windowing is a 60 s processing-time telemetry interval
(op #13, ``src/deduplication.ts:80-95``); the engine provides the full
event-time family: tumbling counts (the op #13 analog on event time) and
session windows (gap-based activity grouping). Late data beyond the
watermark is dropped — the documented Spark rendering of the reference's
"TTL plays the watermark role" (SURVEY.md §2.3 late/out-of-order row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .source import events_message_stream, run_bounded


def windowed_counts(
    messages: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time counts per topic — reference op #13 generalized
    from a global processing-time counter to per-key event-time windows."""
    return (
        messages.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "topic")
        .agg(F.count(F.lit(1)).alias("n_messages"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "topic",
            "n_messages",
        )
    )


def session_activity(
    messages: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows: bursts of messages per topic separated by ≥ gap of
    silence — the dynamic-window member of the streaming-window family."""
    return (
        messages.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("w"), "topic")
        .agg(F.count(F.lit(1)).alias("n_messages"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "topic",
            "n_messages",
        )
    )


def run_session_activity_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Bounded session-window run for the harness (drained → memory sink;
    append emits sessions the watermark has closed)."""
    messages = events_message_stream(spark, source_dir, glob_filter=glob_filter)
    return run_bounded(session_activity(messages), "sess_act")


def run_windowed_counts_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Bounded run for the harness (drained → memory sink, append mode
    emits only watermark-finalized windows)."""
    messages = events_message_stream(spark, source_dir, glob_filter=glob_filter)
    return run_bounded(windowed_counts(messages), "win_counts")


#: DuckDB oracles for the BOUNDED window harnesses. Valid because the
#: bounded drained run is deterministic: one source file → one data
#: micro-batch, after which the watermark is max(event_ts) − 2 h; the drain
#: waits out the no-data batch that watermark schedules, so append mode
#: has emitted exactly the windows/sessions whose END is at or below that
#: watermark. The SQL recomputes the same aggregates and applies the
#: same cutoff. (Session semantics: an event extends a session while it
#: falls strictly inside [start, last + gap); a gap ≥ 30 min starts a new
#: one; session_end = last event + gap — Spark's session_window contract.)
ORACLES: dict[str, str] = {
    "stream_windowed_counts": """
        WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
        SELECT date_trunc('hour', ts) AS w_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
               'persistent://events/' || event_type AS topic,
               count(*) AS n_messages
        FROM events, wm
        GROUP BY date_trunc('hour', ts), topic, wm.w
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    """,
    "stream_session_activity": """
        WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
        e AS (SELECT 'persistent://events/' || event_type AS topic, ts
              FROM events),
        g AS (SELECT topic, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY topic ORDER BY ts)
                               IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY topic ORDER BY ts)
                               >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM e),
        s AS (SELECT topic, ts,
                     sum(brk) OVER (PARTITION BY topic ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM g),
        agg AS (SELECT topic, min(ts) AS session_start,
                       max(ts) + INTERVAL 30 MINUTE AS session_end,
                       count(*) AS n_messages
                FROM s GROUP BY topic, sid)
        SELECT session_start, session_end, topic, n_messages
        FROM agg, wm WHERE session_end <= wm.w
    """,
}
