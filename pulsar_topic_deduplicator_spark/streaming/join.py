"""Stream-stream join — two live streams joined on key + event-time range.

The missing member of the streaming join story: ``attribution.py`` joins a
stream against a STATIC window table; here BOTH sides are streams (the
canonical ad-attribution shape: a purchase stream joined to the same
user's click/view stream within the attribution window). Structured
Streaming requires exactly what this plan provides — an equality key, a
time-range join condition, and watermarks on both sides — and uses them
to bound the join state: a buffered event can be evicted once the
watermark passes ``ts + window``, so state is O(in-flight window), not
O(stream history), at any scale.

The bounded drained run processes everything in one micro-batch, so
the inner join emits exactly the predicate's matches — deterministically —
which is why this harness has an EXACT SQL oracle (the half-open
range-join SQL shared in spirit with the batch `interval_join`, here with
the stream-stream condition's bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import ATTRIB_WINDOW_US
from .source import events_raw_stream, run_bounded


#: tolerated event LATENESS on each stream, in minutes. Independent of the
#: 30-min ATTRIB_WINDOW_US join window: the join condition decides which
#: (purchase, event) pairs match; the watermark delay decides how long a
#: row may arrive AFTER rows with newer timestamps and still be buffered —
#: in an unbounded run, any row later than this bound is evicted and its
#: matches silently lost even if it falls inside the attribution window
#: (ADVICE r5 item 2). State cost per side is O(delay + window) of
#: in-flight rows, so the bound is a latency/completeness knob, not a
#: correctness-window one. The bounded single-batch harness never evicts
#: (one batch ⇒ watermark moves only at its end), so the oracle is exact
#: regardless of this value.
LATENESS_MINUTES = 10


def run_stream_stream_attribution_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Purchases stream ⋈ events stream per user within [p.ts, p.ts+30min)
    — both sides live, LATENESS_MINUTES watermarks, inner join, append
    mode. See LATENESS_MINUTES for the lateness-vs-window distinction."""
    purchases = (
        events_raw_stream(spark, source_dir, glob_filter=glob_filter)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("window_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{LATENESS_MINUTES} minutes")
    )
    events = (
        events_raw_stream(spark, source_dir, glob_filter=glob_filter)
        .select("event_id", "user_id", "ts", "event_type")
        .withWatermark("ts", f"{LATENESS_MINUTES} minutes")
    )
    joined = events.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("ts") >= F.col("p_ts"))
        & (
            F.unix_micros("ts")
            < F.unix_micros("p_ts") + F.lit(ATTRIB_WINDOW_US)
        ),
    ).select(
        "event_id", "user_id", "ts", "event_type", "window_id",
        F.col("p_ts").alias("w_start"),
    )
    return run_bounded(joined, "ss_attrib")


#: exact oracle: single-batch inner stream-stream join = the batch range
#: join (same SQL as the attribution twins — the condition is identical)
from ..operators.asof import ORACLES as _ASOF_ORACLES

ORACLES: dict[str, str] = {
    "stream_stream_attribution": _ASOF_ORACLES["purchase_attribution_events"],
}
