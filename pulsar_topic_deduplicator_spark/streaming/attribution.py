"""Streaming range join — live events attributed to static time windows.

The streaming rendering of ``operators/asof.py::interval_join``: the
window table (purchases + their 30-minute attribution windows, derived
from the batch bootstrap scan the way op #11 derives the warm-up set) is
the STATIC side, exploded once to its covered time buckets and broadcast
into every micro-batch; each live event hashes to exactly one bucket, so
the range predicate rides a stream-static broadcast equi-join — the
stream never shuffles, no state store is needed (inner join, append
mode), and the plan is watermark-free and exactly deterministic, which is
why this harness has an EXACT SQL oracle (same text as the batch twin:
a bounded single-batch run sees every event exactly once).

At scale the static side is purchase-window-sized × ≤2 bucket rows; when
it outgrows a broadcast the same composition runs as a shuffled
stream-static join without code changes (drop the ``F.broadcast`` hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import ORACLES as ASOF_ORACLES
from ..operators.asof import interval_join, purchase_windows
from .source import events_raw_stream, run_bounded


def attribute_stream(points: DataFrame, windows: DataFrame) -> DataFrame:
    """Stream-static bucketized interval join: one output row per
    (live event, containing window) pair for the same user."""
    joined = interval_join(
        points.select("event_id", "user_id", "ts", "event_type"),
        F.broadcast(windows),
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        keys=(("user_id", "w_user_id"),),
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "window_id",
        "w_start",
    )


def run_stream_attribution_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Bounded harness: static windows from the batch scan, live events
    from the file stream, one drained single-batch run."""
    windows = purchase_windows(spark, source_dir)
    points = events_raw_stream(spark, source_dir, glob_filter=glob_filter)
    return run_bounded(attribute_stream(points, windows), "attrib")


#: exact oracle — BY REFERENCE the batch twin's SQL (`asof.ORACLES`): the
#: bounded single-batch inner join is append-only and stateless, so the
#: stream emits exactly the batch result, and sharing the oracle object
#: pins that identity by construction (a batch-oracle change cannot
#: silently drift from the streaming twin).
ORACLES: dict[str, str] = {
    "stream_attribution_events": ASOF_ORACLES["purchase_attribution_events"],
}
