"""Streaming perceptual-hash media dedup (round 11): single-batch run
equals the batch per-hash aggregate; cross-batch first-wins suppression
with counter rows; fresh-work_dir refusal on stale state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.operators.multimodal import image_phash
from pulsar_topic_deduplicator_spark.sources.io import load_table
from pulsar_topic_deduplicator_spark.streaming.media import (
    run_stream_media_dedup_bounded,
)


def test_single_batch_equals_batch_per_hash_aggregate(
    spark, sf_dir, tmp_path_factory
):
    got = {
        (r["phash_lo"], r["phash_hi"]): (r["kept_asset_id"], r["n_dup"])
        for r in run_stream_media_dedup_bounded(
            spark, sf_dir, str(tmp_path_factory.mktemp("media1"))
        ).collect()
    }
    want = {
        (r["phash_lo"], r["phash_hi"]): (r["kept_asset_id"], r["n_dup"])
        for r in image_phash(spark, sf_dir)
        .groupBy("phash_lo", "phash_hi")
        .agg(
            F.min("asset_id").alias("kept_asset_id"),
            (F.count("*") - 1).alias("n_dup"),
        )
        .collect()
    }
    assert got == want
    assert got, "fixture must fingerprint assets"


def test_cross_batch_first_wins_and_counter_rows(
    spark, sf_dir, tmp_path_factory
):
    """Split the corpus into two files; batch 2's duplicates of batch-1
    hashes must be suppressed (NULL kept_asset_id counter rows), and every
    hash must be kept exactly once."""
    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path_factory.mktemp("media_src"))
    # batch 1: even doc_ids; batch 2: odd doc_ids PLUS copies of three even
    # docs under fresh ids (guaranteed cross-batch duplicate hashes)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    max_id = docs.agg(F.max("doc_id")).first()[0]
    base = (max_id + 1000) // 100 * 100  # ×100 keeps id%50 == orig%50
    copies = (
        even.filter(F.col("doc_id") % 50 != 13)
        .orderBy("doc_id")
        .limit(3)
        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
    )
    # flat files (no partition dirs — the stream schema has no partition
    # column); mtime order fixes batch order under maxFilesPerTrigger=1
    import glob
    import shutil

    for i, frame in enumerate([even, odd.unionByName(copies)], 1):
        tmp = str(tmp_path_factory.mktemp(f"media_part{i}"))
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/b{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    out = run_stream_media_dedup_bounded(
        spark,
        src,
        str(tmp_path_factory.mktemp("media2")),
        glob_filter="*.parquet",
        max_files_per_trigger=1,
    ).collect()
    kept = [r for r in out if r["kept_asset_id"] is not None]
    counters = [r for r in out if r["kept_asset_id"] is None]
    # every hash kept exactly once — first-wins held across batches
    assert len({(r["phash_lo"], r["phash_hi"]) for r in kept}) == len(kept)
    want_hashes = {
        (r["phash_lo"], r["phash_hi"])
        for r in image_phash(spark, sf_dir).collect()
    }
    assert {(r["phash_lo"], r["phash_hi"]) for r in kept} == want_hashes
    # the three copied docs hash identically to their batch-1 originals →
    # at least their hashes produce counter rows with the dropped count
    assert sum(r["n_dup"] for r in counters) >= 3
    for r in counters:
        assert r["n_dup"] >= 1
        assert (r["phash_lo"], r["phash_hi"]) in want_hashes


def test_fresh_work_dir_refuses_stale_state(spark, sf_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("media3"))
    run_stream_media_dedup_bounded(spark, sf_dir, work)
    with pytest.raises(ValueError, match="seen-hash state"):
        run_stream_media_dedup_bounded(spark, sf_dir, work)
    assert os.path.exists(f"{work}/seen_hashes")


def test_process_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """A REAL foreachBatch retry: re-invoke ``process()`` with the same
    (batch_df, batch_id) after the first attempt landed its output and
    seen-hash partials. The seen-probe must exclude the batch's own
    ``batch=N`` partition — otherwise the batch's hashes look already
    seen, its kept rows re-emit as NULL counter rows, and the state
    overwrite erases the hashes from the index (ADVICE round 12)."""
    from pulsar_topic_deduplicator_spark.streaming.media import _make_process

    work = str(tmp_path_factory.mktemp("media_replay"))
    run_stream_media_dedup_bounded(spark, sf_dir, work)

    def snapshot():
        out = {
            (r["phash_lo"], r["phash_hi"]): (r["kept_asset_id"], r["n_dup"])
            for r in spark.read.parquet(f"{work}/kept/batch=0").collect()
        }
        state = {
            (r["phash_lo"], r["phash_hi"])
            for r in spark.read.parquet(f"{work}/seen_hashes/batch=0").collect()
        }
        return out, state

    out_before, state_before = snapshot()
    assert out_before and state_before
    # same rows the stream fed batch 0 (single-file bounded run = one batch)
    batch_df = image_phash(spark, sf_dir)
    _make_process(f"{work}/seen_hashes", f"{work}/kept")(batch_df, 0)
    out_after, state_after = snapshot()
    assert out_after == out_before
    assert state_after == state_before
    # no kept row degraded to a NULL counter row on the replay
    assert all(k is not None for k, _ in out_after.values())


def test_process_replay_of_second_batch_is_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Retry of a LATER batch: with batch=0 already committed, re-invoke
    process() for batch 1 — the probe must still see batch 0's hashes
    (cross-batch suppression intact) while excluding only batch 1's own
    partial. Output and state for BOTH batches must be unchanged."""
    from pulsar_topic_deduplicator_spark.operators.multimodal import (
        image_phash,
    )
    from pulsar_topic_deduplicator_spark.streaming.media import _make_process

    work = str(tmp_path_factory.mktemp("media_replay2"))
    state, out = f"{work}/seen_hashes", f"{work}/kept"
    fp = image_phash(spark, sf_dir)
    b0 = fp.filter(F.col("asset_id") % 2 == 0)
    b1 = fp.filter(F.col("asset_id") % 2 == 1)
    proc = _make_process(state, out)
    proc(b0, 0)
    proc(b1, 1)

    def snapshot():
        o = {
            (r["phash_lo"], r["phash_hi"], r["kept_asset_id"], r["n_dup"])
            for b in (0, 1)
            for r in spark.read.parquet(f"{out}/batch={b}").collect()
        }
        s = {
            (b, r["phash_lo"], r["phash_hi"])
            for b in (0, 1)
            for r in spark.read.parquet(f"{state}/batch={b}").collect()
        }
        return o, s

    before = snapshot()
    proc(b1, 1)  # the retry of the LAST batch
    assert snapshot() == before
    # batch 1 must still have suppressed batch-0 hashes on the retry:
    # every hash owned by batch 0 appears in batch 1's output only as a
    # NULL-kept counter row (if at all)
    b0_hashes = {
        (r["phash_lo"], r["phash_hi"])
        for r in spark.read.parquet(f"{state}/batch=0").collect()
    }
    for r in spark.read.parquet(f"{out}/batch=1").collect():
        if (r["phash_lo"], r["phash_hi"]) in b0_hashes:
            assert r["kept_asset_id"] is None


def test_seen_state_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """A foreachBatch RETRY re-lands its batch's seen-hash partial (same
    data, same batchId-named subdir, overwrite mode) — the index must not
    gain duplicate hash rows, so a later probe still matches each hash
    exactly once. Simulates the lost-checkpoint-commit replay at the
    storage layer (the pre-fix append mode double-appended here)."""
    work = str(tmp_path_factory.mktemp("media_idem"))
    run_stream_media_dedup_bounded(spark, sf_dir, work)
    state = f"{work}/seen_hashes"
    batch0 = f"{state}/batch=0"
    rows = (
        spark.read.parquet(batch0)
        .select("phash_lo", "phash_hi")
        .collect()
    )
    n_before = spark.read.parquet(state).count()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(batch0)
    seen = spark.read.parquet(state).select("phash_lo", "phash_hi")
    assert seen.count() == n_before
    assert seen.count() == seen.distinct().count()
