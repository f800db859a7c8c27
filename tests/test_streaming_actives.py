"""Streaming rolling-actives (round 11 LATE): the incremental (user, day)
activity index's readout equals the batch operator exactly — single-batch,
AND under a multi-batch split (set-union state is batch-order independent,
unlike first-wins winner selection); fresh-work_dir refusal on stale state.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.operators.analytics import (
    rolling_active_users,
)
from pulsar_topic_deduplicator_spark.sources.io import load_table
from pulsar_topic_deduplicator_spark.streaming.actives import (
    run_stream_rolling_actives_bounded,
)


def _readout(df):
    return {r.day: (r.dau, r.wau_7d) for r in df.collect()}


def test_single_batch_equals_batch_operator(spark, sf_dir, tmp_path_factory):
    got = _readout(
        run_stream_rolling_actives_bounded(
            spark, sf_dir, str(tmp_path_factory.mktemp("act1"))
        )
    )
    want = _readout(rolling_active_users(spark, sf_dir))
    assert got == want
    assert got, "fixture must produce an activity grid"


def test_multi_batch_split_is_order_independent(
    spark, sf_dir, tmp_path_factory
):
    """Split events into two files with OVERLAPPING (user, day) activity
    (even/odd event_id interleaves users and days); the two-batch run's
    index is the same distinct set, so the readout must equal the batch
    operator exactly."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path_factory.mktemp("act_src"))
    for i, frame in enumerate(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)],
        1,
    ):
        tmp = str(tmp_path_factory.mktemp(f"act_part{i}"))
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    got = _readout(
        run_stream_rolling_actives_bounded(
            spark,
            src,
            str(tmp_path_factory.mktemp("act2")),
            glob_filter="*.parquet",
            max_files_per_trigger=1,
        )
    )
    want = _readout(rolling_active_users(spark, sf_dir))
    assert got == want


def test_fresh_work_dir_refuses_stale_state(spark, sf_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("act3"))
    run_stream_rolling_actives_bounded(spark, sf_dir, work)
    with pytest.raises(ValueError, match="activity state"):
        run_stream_rolling_actives_bounded(spark, sf_dir, work)
    assert os.path.exists(f"{work}/activity")
