"""Streaming latest-state materialization — CDC compaction of an event
stream into a keyed snapshot table.

The reference's stream dedup is FIRST-wins (op #7, ``src/deduplication.ts:
76-95``); the standard CDC table view is the complement: LAST-wins — the
current row per key after replaying the change stream. Rendered as
``foreachBatch`` folding each micro-batch into a persistent snapshot with
the batch ``keep_latest`` kernel (``operators/cdc.py``), whose per-key argmax
is associative, so the final snapshot is independent of how the stream was
split into batches (pinned in tests/test_cdc.py).

Restart/replay safety: snapshot versions are consecutive integers; each
fold writes ``v = last committed version + 1``, where the last committed
version is discovered from the dirs on disk at query start (stream batch
ids are NOT used as versions — they can skip across resumed runs). A
resumed run (same checkpoint: only NEW files process) folds on top of the
prior run's tail; a re-run with a FRESH checkpoint (the drain replays
everything) re-folds replayed rows into the old snapshot; and a
failure-replay folds its rows a second time — all three are harmless
because latest-wins compaction is IDEMPOTENT (argmax of a union with
duplicates is unchanged), so every written version is a correct snapshot
of the rows folded so far.

Scale notes: each fold shuffles (snapshot ∪ batch) once on the key with
map-side combine — cost O(|snapshot| + |batch|) per batch, the compaction
write a Delta/Hudi-style MERGE pays too. At 100 TB the snapshot would be a
table bucketed by key so the fold co-locates without reshuffling the
snapshot side, and the versioned snapshot dirs double as table versions —
time travel for free. Ordering is by EVENT time (ts, event_id), not
arrival, so a late straggler can never overwrite a newer row — replay-safe
out of order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import keep_latest
from .source import events_raw_stream, in_work_dir, run_bounded

#: snapshot ordering: event time, tie-broken by the unique event id
_ORDER = ["ts", "event_id"]
_KEY = ["user_id"]


def _existing_versions(spark: SparkSession, snap_root: str) -> list[int]:
    """Committed snapshot versions already on disk (FS API, no
    read-and-catch — same probe style as ``neardup_stream``)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(snap_root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("batch="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def run_stream_latest_state_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded run: stream events, fold each micro-batch into the keyed
    snapshot under ``work_dir``, return the latest snapshot (one row per
    user: their latest event by (ts, event_id)). Pass the same
    ``checkpoint_dir`` across calls to RESUME: only new source files are
    processed and their folds stack on the prior run's last version."""
    stream = events_raw_stream(
        spark, source_dir, max_files_per_trigger, glob_filter
    )
    snap_root = f"{work_dir}/snapshot"
    prior_versions = _existing_versions(spark, snap_root)
    latest: dict[str, int] = {"v": prior_versions[-1] if prior_versions else -1}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # next consecutive version on top of the committed tail — batch_id
        # itself is NOT the version (stream batch ids skip across resumed
        # runs); writing a fresh dir (never overwriting the one being
        # read) avoids the read-then-overwrite hazard, and re-folds from
        # any replay are correct by idempotency (module docstring)
        v = latest["v"] + 1
        folded = batch_df
        if latest["v"] >= 0:
            prior = sess.read.parquet(f"{snap_root}/batch={latest['v']}")
            folded = prior.unionByName(batch_df)
        keep_latest(folded, _KEY, _ORDER).write.mode("overwrite").parquet(
            f"{snap_root}/batch={v}"
        )
        latest["v"] = v

    run_bounded(stream, checkpoint_dir=checkpoint_dir, foreach_batch=process)
    if latest["v"] < 0:  # empty source, no prior state: schema-only frame
        return keep_latest(
            spark.createDataFrame([], stream.schema), _KEY, _ORDER
        )
    return spark.read.parquet(f"{snap_root}/batch={latest['v']}")


def stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: materialized latest-state view of the events stream —
    per user, the current (ts, event_id)-greatest event. Exact oracle: the
    snapshot equals the batch argmax over the whole table regardless of
    batch split (associativity, see module docstring)."""
    def run(work: str) -> DataFrame:
        return run_stream_latest_state_bounded(spark, sf_dir, work).select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )

    return in_work_dir("latest_state", run)


ORACLES: dict[str, str] = {
    "stream_latest_state": """
        SELECT user_id,
               event_id   AS last_event_id,
               ts         AS last_ts,
               event_type AS last_event_type,
               value      AS last_value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
}
