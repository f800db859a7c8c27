"""Streaming rolling-actives: incremental maintenance of the DISTINCT
(user, day) activity index, with the DAU/WAU readout computed from the
index after each bounded run.

The reference keeps a digest-keyed seen-set and forwards first occurrences
(``src/deduplication.ts:76-95``); this tier keeps the analytics twin of
that state — the distinct (user_id, epoch-day) set — and derives the
engagement readout (``operators/analytics.rolling_active_users``) from it
incrementally instead of rescanning history every time.

Determinism: unlike first-wins winner selection, the maintained state is a
SET UNION — order-independent under ANY micro-batch decomposition, so a
multi-batch replay equals the single-batch run equals the batch operator
exactly (pinned in tests/test_streaming_actives.py), and the driver entry
carries the batch operator's FULL value oracle.

Scale: per batch, the new pairs are ``batch.distinct() anti-join index`` —
the index is keyed (and at 100 TB bucketed) by user_id, so the probe
co-locates; appended state grows with DISTINCT activity (bounded by
users × days), not event volume. The readout's day-grained frames are
KB-sized at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import _US_PER_DAY, actives_readout
from .source import events_raw_stream, run_bounded


def run_stream_rolling_actives_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded run: stream events, fold their distinct (user_id, day)
    pairs into a persistent activity index under ``work_dir``, and return
    the (day, dau, wau_7d) readout computed from the final index."""
    import os

    state_dir = f"{work_dir}/activity"
    # a FRESH checkpoint restarts batch ids at 0; stale index state from a
    # prior run would double-count replayed days — refuse loudly (the
    # streaming/media.py discipline)
    if checkpoint_dir is None and os.path.exists(state_dir):
        raise ValueError(
            f"work_dir {work_dir!r} already holds activity state; pass "
            "checkpoint_dir to resume it, or use a fresh work_dir"
        )

    stream = events_raw_stream(
        spark, source_dir, max_files_per_trigger, glob_filter
    ).select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day"),
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        pairs = batch_df.distinct()
        jpath = sess._jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = jpath.getFileSystem(sess._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            seen = sess.read.parquet(state_dir)
            pairs = pairs.join(seen, ["user_id", "day"], "anti")
        pairs.write.mode("append").parquet(state_dir)

    run_bounded(stream, checkpoint_dir=checkpoint_dir, foreach_batch=process)
    return actives_readout(spark.read.parquet(state_dir))


#: the maintained state is a set union (batch-order independent), so the
#: bounded run's readout equals the batch operator EXACTLY — it shares the
#: batch oracle (wired in __spark_entry__.oracle_sql from analytics.ORACLES)
ORACLES: dict[str, str] = {}


def _build_oracles() -> None:
    from ..operators.analytics import ORACLES as _A

    ORACLES["stream_rolling_actives"] = _A["rolling_active_users"]


_build_oracles()
