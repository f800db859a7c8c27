"""Streaming quota enforcement — the live twin of the batch
``quota_cap_events`` governance pass (keep the earliest QUOTA_K events per
(user, hour window), drop the overflow).

Why it streams exactly: "earliest K per key" is a MERGEABLE SUMMARY — the
K smallest (ts, event_id) of a union equal the K smallest of (previous K
smallest ∪ new rows) — so a ``foreachBatch`` fold over the admitted set is
batch-split invariant, the same associativity argument as the latest-state
compaction (``latest_state.py``) and the streaming Misra-Gries fold. The
final admitted set therefore equals the batch operator's kept set EXACTLY
under any trigger cadence, which is what makes the entry SQL-oracle-
checkable. Folds are made replay-idempotent by deduplicating on the unique
event id before re-ranking (a replayed row can never consume quota twice).

Ordering is EVENT time (ts, event_id), not arrival: a late straggler that
is genuinely earlier EVICTS a previously-admitted later event from the
window's quota — the fold converges to the same K earliest the batch pass
chooses, rather than freezing first-arrival winners. (A deployment that
wants arrival-order admission instead uses the GroupState TTL kernel's
processing-time clock; this operator contracts the deterministic
event-time semantics.)

Scale: per fold one shuffle of (admitted ∪ batch) keyed by (user, window)
with map-side combine; admitted state is ≤ K rows per ACTIVE window —
bounded by the quota itself. At 100 TB the admitted table is bucketed by
user so folds co-locate; expired windows age out of the snapshot by
watermark-style pruning on the bucket timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import QUOTA_K
from .source import events_raw_stream, run_bounded

_BUCKET_US = 3_600_000_000


def _keep_first_k(df: DataFrame) -> DataFrame:
    """K earliest (ts, event_id) per (user_id, bucket_us) — the quota
    kernel; associative in the fold sense (see module docstring)."""
    w = Window.partitionBy("user_id", "bucket_us").orderBy("ts", "event_id")
    return (
        df.dropDuplicates(["event_id"])
        .withColumn("rank_in_window", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_window") <= QUOTA_K)
    )


def run_stream_quota_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded run: stream events, fold each micro-batch into the admitted
    set, return the final admitted rows ``(event_id, user_id, bucket_us,
    rank_in_window)`` — exactly the batch quota pass's kept set."""
    stream = events_raw_stream(
        spark, source_dir, max_files_per_trigger, glob_filter
    )
    snap_root = f"{work_dir}/admitted"
    state: dict[str, int] = {"v": -1}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hb = F.expr(f"unix_micros(ts) div {_BUCKET_US}") * F.lit(_BUCKET_US)
        batch = batch_df.select(
            "event_id", "user_id", "ts", hb.cast("long").alias("bucket_us")
        )
        if state["v"] >= 0:
            prior = sess.read.parquet(f"{snap_root}/batch={state['v']}")
            batch = prior.select(batch.columns).unionByName(batch)
        v = state["v"] + 1
        _keep_first_k(batch).write.mode("overwrite").parquet(
            f"{snap_root}/batch={v}"
        )
        state["v"] = v

    run_bounded(stream, checkpoint_dir=checkpoint_dir, foreach_batch=process)
    if state["v"] < 0:
        return spark.createDataFrame(
            [],
            "event_id long, user_id long, bucket_us long, rank_in_window long",
        )
    return spark.read.parquet(f"{snap_root}/batch={state['v']}").select(
        "event_id", "user_id", "bucket_us", "rank_in_window"
    )


ORACLES: dict[str, str] = {
    # the bounded fold equals the batch quota pass's kept set exactly
    # (mergeable k-smallest summary — module docstring)
    "stream_quota_cap": f"""
        SELECT event_id, user_id, CAST(bucket_us AS BIGINT) AS bucket_us,
               CAST(rank_in_window AS BIGINT) AS rank_in_window
        FROM (
          SELECT event_id, user_id,
                 (epoch_us(ts) // {_BUCKET_US}) * {_BUCKET_US} AS bucket_us,
                 row_number() OVER (PARTITION BY user_id,
                                      (epoch_us(ts) // {_BUCKET_US})
                                    ORDER BY ts, event_id) AS rank_in_window
          FROM events)
        WHERE rank_in_window <= {QUOTA_K}
    """,
}
