"""Streaming source-mixture entropy (round 11 second LATE wave): the
incremental per-source count index's readout equals the batch operator
exactly — single-batch, AND under a multi-batch split (counts form a
commutative monoid, so the fold is batch-order independent); fresh-work_dir
refusal on stale state."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.operators.curation import (
    source_entropy_report,
)
from pulsar_topic_deduplicator_spark.sources.io import load_table
from pulsar_topic_deduplicator_spark.streaming.entropy import (
    run_stream_source_entropy_bounded,
)


def _readout(df):
    r = df.collect()[0]
    return (r.n_docs, r.n_sources, r.entropy_nanonats, r.evenness_ppb)


def test_single_batch_equals_batch_operator(spark, sf_dir, tmp_path_factory):
    got = _readout(
        run_stream_source_entropy_bounded(
            spark, sf_dir, str(tmp_path_factory.mktemp("ent1"))
        )
    )
    want = _readout(source_entropy_report(spark, sf_dir))
    assert got == want
    assert got[0] > 0 and got[1] > 1


def test_multi_batch_split_is_order_independent(
    spark, sf_dir, tmp_path_factory
):
    """Split documents into two files with OVERLAPPING sources (even/odd
    doc_id interleaves every source across both batches); the folded
    count index is the same multiset sum, so the readout must equal the
    batch operator exactly."""
    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path_factory.mktemp("ent_src"))
    for i, frame in enumerate(
        [
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ],
        1,
    ):
        tmp = str(tmp_path_factory.mktemp(f"ent_part{i}"))
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    got = _readout(
        run_stream_source_entropy_bounded(
            spark,
            src,
            str(tmp_path_factory.mktemp("ent2")),
            glob_filter="*.parquet",
            max_files_per_trigger=1,
        )
    )
    want = _readout(source_entropy_report(spark, sf_dir))
    assert got == want


def test_fresh_work_dir_refuses_stale_state(spark, sf_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("ent3"))
    run_stream_source_entropy_bounded(spark, sf_dir, work)
    with pytest.raises(ValueError, match="count state"):
        run_stream_source_entropy_bounded(spark, sf_dir, work)
    assert os.path.exists(f"{work}/source_counts")


def test_state_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """A foreachBatch RETRY re-lands its batch partial (same data, same
    batchId-named subdir, overwrite mode) — the readout must not change.
    Simulates the lost-checkpoint-commit replay at the storage layer."""
    import pyspark.sql.functions as F

    work = str(tmp_path_factory.mktemp("ent_idem"))
    before = _readout(run_stream_source_entropy_bounded(spark, sf_dir, work))
    state = f"{work}/source_counts"
    batch0 = f"{state}/batch=0"
    rows = spark.read.parquet(batch0).select("source", "c").collect()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(batch0)
    folded = (
        spark.read.parquet(state)
        .select("source", "c")
        .groupBy("source")
        .agg(F.sum("c").alias("c"))
    )
    from pulsar_topic_deduplicator_spark.operators.curation import (
        entropy_readout,
    )

    after = _readout(entropy_readout(folded))
    assert after == before
