"""Streaming KS drift monitor (round 11 second LATE wave): the complete-
mode (type, value, day) count aggregate's KS readout equals the batch
operator exactly — single-batch AND under a multi-batch split (counts are
additive, so the drained snapshot is batch-order independent)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.operators.changepoint import (
    ks_drift_report,
)
from pulsar_topic_deduplicator_spark.sources.io import load_table
from pulsar_topic_deduplicator_spark.streaming.drift import (
    run_stream_ks_drift_bounded,
)


def _readout(df):
    return {
        r.event_type: (r.n_early, r.n_late, r.ks_ppm, r.drifted)
        for r in df.collect()
    }


def test_single_batch_equals_batch_operator(spark, sf_dir):
    got = _readout(
        run_stream_ks_drift_bounded(
            spark, sf_dir, glob_filter="events.parquet"
        )
    )
    want = _readout(ks_drift_report(spark, sf_dir))
    assert got == want and got


def test_multi_batch_split_is_order_independent(
    spark, sf_dir, tmp_path_factory
):
    """Split events into two files interleaving every type/value/day
    (even/odd event_id); additive counts make the two-batch snapshot
    equal the batch frame, so the KS readout must match exactly."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path_factory.mktemp("ks_src"))
    for i, frame in enumerate(
        [
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
        ],
        1,
    ):
        tmp = str(tmp_path_factory.mktemp(f"ks_part{i}"))
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    got = _readout(
        run_stream_ks_drift_bounded(
            spark,
            src,
            glob_filter="*.parquet",
            max_files_per_trigger=1,
        )
    )
    want = _readout(ks_drift_report(spark, sf_dir))
    assert got == want
