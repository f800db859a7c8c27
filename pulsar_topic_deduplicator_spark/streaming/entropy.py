"""Streaming source-mixture entropy: incremental maintenance of the
per-source document-count index, with the Shannon-entropy/evenness
readout (``operators/curation.source_entropy_report``) computed from the
index after each bounded run.

The reference's telemetry is scalar counters (``src/deduplication.ts:
80-95``); this tier is the mixture-diversity twin a curation deployment
watches as crawls land: a collapsing evenness means one source is
swallowing the token budget.

Determinism: the maintained state is a per-source COUNT — addition
commutes, so a multi-batch replay equals the single-batch run equals the
batch operator exactly under ANY micro-batch decomposition (pinned in
tests/test_streaming_entropy.py), and the driver entry carries the batch
operator's FULL value oracle (the ``stream_rolling_actives`` set-union
precedent, one algebraic step simpler: a monoid fold over (source, n)).

Scale: per batch ONE (source) count aggregate (map-side combined; the
appended state grows by ≤ the source-domain size per batch, tens of
rows); the readout sums the per-batch partials — a KB-sized frame at any
corpus size. Nothing is re-scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import entropy_readout
from .neardup_stream import DOCS_RAW_SCHEMA
from .source import file_stream, run_bounded


def run_stream_source_entropy_bounded(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    glob_filter: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded run: stream documents, fold per-source counts into a
    persistent index under ``work_dir``, and return the one-row
    entropy/evenness readout computed from the final index."""
    import os

    state_dir = f"{work_dir}/source_counts"
    # a FRESH checkpoint restarts batch ids at 0; stale count state from a
    # prior run would double-count replayed documents — refuse loudly
    # (the streaming/actives.py discipline)
    if checkpoint_dir is None and os.path.exists(state_dir):
        raise ValueError(
            f"work_dir {work_dir!r} already holds count state; pass "
            "checkpoint_dir to resume it, or use a fresh work_dir"
        )

    docs = file_stream(
        spark, source_dir, DOCS_RAW_SCHEMA, max_files_per_trigger, glob_filter
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # batchId-named overwrite: a foreachBatch retry (checkpoint commit
        # lost after a successful write) re-lands the same partial instead
        # of appending a double-count (review finding, round 11)
        batch_df.groupBy("source").agg(
            F.count(F.lit(1)).alias("c")
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")

    run_bounded(
        docs.select("source"),
        checkpoint_dir=checkpoint_dir,
        foreach_batch=process,
    )
    folded = (
        spark.read.parquet(state_dir)
        .select("source", "c")
        .groupBy("source")
        .agg(F.sum("c").alias("c"))
    )
    return entropy_readout(folded)


#: per-source counts form a commutative monoid, so the bounded run's
#: readout equals the batch operator EXACTLY — it shares the batch oracle
#: (wired in __spark_entry__.oracle_sql from curation.ORACLES)
ORACLES: dict[str, str] = {}


def _build_oracles() -> None:
    from ..operators.curation import ORACLES as _C

    ORACLES["stream_source_entropy"] = _C["source_entropy_report"]


_build_oracles()
