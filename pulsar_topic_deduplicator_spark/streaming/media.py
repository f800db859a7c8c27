"""Streaming perceptual-hash dedup of media assets — first-wins by exact
64-bit aHash over a bounded asset stream.

The reference dedups exact byte digests of opaque payloads in a stream
(``src/deduplication.ts:76-95``); this is the same first-wins stream
semantics keyed by the PERCEPTUAL fingerprint instead of the byte digest —
re-encoded copies of an image hash to the same aHash and are suppressed,
which is what a media-ingest pipeline actually wants (the byte-digest tier
``streaming/dedup.py`` already exists for exact payloads).

Rendering: the asset stream runs the SAME two Arrow stages as the batch
tier (``operators/multimodal._encode_ppm_batches`` / ``_phash_batches`` —
mapInPandas composes onto a streaming DataFrame unchanged, so batch/stream
fingerprint parity is by construction), then ``foreachBatch`` + a
persistent seen-hash parquet index for cross-batch first-wins — the
``neardup_stream.py`` shape, but keyed by ONE exact hash, so the per-batch
probe is a single anti-join (at 100 TB: the index bucketed by
``phash_lo`` makes it shuffle-free) and the semantics are fully
deterministic: within a batch the LOWEST asset_id owns a hash; later-batch
duplicates of a seen hash emit kept_asset_id-less counter rows (the
``nRecentDropped`` telemetry mirror, exactly the byte-digest tier's
discipline).

Determinism: unlike the MinHash tier (greedy, order-dependent), exact-hash
first-wins with min-asset_id tiebreak is a pure function of (batch
partition, asset set) — a single-batch bounded run equals the batch
``GROUP BY hash`` exactly, so the driver entry carries a FULL value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.multimodal import _encode_ppm_batches, _phash_batches
from .neardup_stream import DOCS_RAW_SCHEMA
from .source import file_stream, run_bounded

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("phash_lo", T.LongType()),
        T.StructField("phash_hi", T.LongType()),
        T.StructField("kept_asset_id", T.LongType()),
        T.StructField("n_dup", T.LongType()),
    ]
)


def media_phash_stream(
    spark: SparkSession,
    source_dir: str,
    glob_filter: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """(asset_id, phash_lo, phash_hi) as a STREAM — the batch fingerprint
    pipeline's Arrow stages applied to a file-source document stream."""
    docs = file_stream(
        spark, source_dir, DOCS_RAW_SCHEMA, max_files_per_trigger, glob_filter
    )
    assets = docs.select(F.col("doc_id").alias("asset_id"), "text").mapInPandas(
        _encode_ppm_batches, schema="asset_id long, payload binary"
    )
    return assets.mapInPandas(
        _phash_batches, schema="asset_id long, phash_lo long, phash_hi long"
    )


def run_stream_media_dedup_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded run: stream assets through the perceptual-hash first-wins
    filter, persisting the seen-hash index under ``work_dir``; returns the
    kept rows plus later-batch duplicate counter rows.

    Output rows: ``(phash_lo, phash_hi, kept_asset_id, n_dup)`` — for a
    hash first seen in this batch, the winning (lowest) asset_id and the
    count of same-batch duplicates it suppressed; for a hash already in
    the index, ``kept_asset_id`` is NULL and ``n_dup`` counts the dropped
    later-batch copies. Exactly-once per batch via batchId-named
    OVERWRITTEN subdirectories for BOTH the output and the seen-hash
    index (idempotent-foreachBatch pattern — a replayed batch re-lands
    its own partials instead of appending duplicates)."""
    import os

    state_dir = f"{work_dir}/seen_hashes"
    out_dir = f"{work_dir}/kept"
    # a FRESH checkpoint restarts batch ids at 0; stale index state from a
    # prior run would wrongly suppress every replayed asset — refuse loudly
    if checkpoint_dir is None and os.path.exists(state_dir):
        raise ValueError(
            f"work_dir {work_dir!r} already holds seen-hash state; pass "
            "checkpoint_dir to resume it, or use a fresh work_dir"
        )

    stream = media_phash_stream(
        spark, source_dir, glob_filter, max_files_per_trigger
    )

    run_bounded(
        stream,
        checkpoint_dir=checkpoint_dir,
        foreach_batch=_make_process(state_dir, out_dir),
    )
    return spark.read.schema(_OUT_SCHEMA).parquet(f"{out_dir}/batch=*")


def _make_process(state_dir: str, out_dir: str):
    """The foreachBatch kernel, factored out so the retry path is testable:
    a checkpoint-commit loss replays ``process(batch_df, batch_id)`` with
    the SAME arguments after the first attempt already landed its output
    and seen-hash partials."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        agg = batch_df.groupBy("phash_lo", "phash_hi").agg(
            F.min("asset_id").alias("kept_asset_id"),
            (F.count("*") - 1).alias("n_dup"),
        )
        jpath = sess._jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = jpath.getFileSystem(sess._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            # no broadcast hint: AQE picks broadcast while the index is
            # small; at 100 TB the index is bucketed by phash_lo and the
            # probe stays a co-located join. The probe EXCLUDES this
            # batch's own ``batch=N`` partition: on a foreachBatch retry
            # the first attempt's partial is already in the index, and
            # probing it would mark the batch's own hashes as seen —
            # re-emitting its kept rows as NULL counter rows and then
            # overwriting batch=N with an empty `fresh`, erasing those
            # hashes from the index (ADVICE round 12)
            seen = (
                sess.read.parquet(state_dir)
                .where(F.col("batch") != F.lit(batch_id))
                .select("phash_lo", "phash_hi")
            )
            agg = agg.join(
                seen.withColumn("_seen", F.lit(True)),
                ["phash_lo", "phash_hi"],
                "left",
            )
            fresh = agg.filter(F.col("_seen").isNull()).drop("_seen")
            dropped = agg.filter(F.col("_seen").isNotNull()).select(
                "phash_lo",
                "phash_hi",
                F.lit(None).cast("long").alias("kept_asset_id"),
                (F.col("n_dup") + 1).alias("n_dup"),  # ALL copies dropped
            )
            out = fresh.select(*_OUT_SCHEMA.fieldNames()).unionByName(dropped)
        else:
            fresh = agg
            out = fresh.select(*_OUT_SCHEMA.fieldNames())
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        # batchId-named overwrite for the STATE too: a foreachBatch retry
        # (checkpoint commit lost after a successful write) re-lands the
        # same partial instead of appending a duplicate — without this, a
        # replayed batch finds its own hashes in the index and emits its
        # kept rows as NULL counter rows (review finding, round 11)
        fresh.select("phash_lo", "phash_hi").write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )

    return process


#: driver oracle — the single-file bounded run is ONE micro-batch, so the
#: output is exactly the batch per-hash aggregate of the image fingerprints
ORACLES: dict[str, str] = {}


def _build_oracles() -> None:
    from ..operators.multimodal import _IMG_PHASH_SQL

    ORACLES["stream_media_dedup"] = (
        """
        SELECT phash_lo, phash_hi, min(asset_id) AS kept_asset_id,
               count(*) - 1 AS n_dup
        FROM ("""
        + _IMG_PHASH_SQL
        + """)
        GROUP BY phash_lo, phash_hi
    """
    )


_build_oracles()
