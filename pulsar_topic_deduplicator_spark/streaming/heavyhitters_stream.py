"""Streaming Misra-Gries heavy hitters — the frequent-items telemetry a
dedup service publishes NEXT TO its forwarded/dropped counters (reference
op #13's loop, ``src/deduplication.ts:80-95``, generalized from three
scalars to "top talkers"), maintained incrementally over micro-batches.

Design (the mergeable-summaries two-level pattern, Agarwal et al. SIGMOD
2012, extended one level to time): each micro-batch runs the BATCH
Misra-Gries kernel (per-partition ``mapInPandas`` folds → KB-sized SQL
merge, ``operators/heavyhitters.py``), and the resulting ≤ MG_K-row batch
summary lands in a driver-held slot KEYED BY batch_id (foreachBatch
retries overwrite their own slot — idempotent); after the drain the slots
fold in batch order with the same add-trim-keep-positive merge. MG state
is O(k) per slot BY CONSTRUCTION — a dozen
counters — so driver-held state is the right home (the same codebook
discipline as the IVF/MMR tiers), and the guarantees survive: each trim
at any level removes ≥ (k+1)·offset total mass, so Σ offsets ≤ n/(k+1)
across partitions, batches, and the cross-batch fold combined.

Determinism contract (the KMV/MG exact-when-unsaturated discipline): on a
vocabulary ≤ MG_K (the driver entry sketches ``event_type``) NO trim ever
fires at any level, so the accumulated summary equals the exact counts
under ANY partition layout and ANY batch split — oracle-EXACT. Saturating
streams (user_id) are guarantee-checked in tests/test_heavyhitters.py's
streaming twin instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.heavyhitters import MG_K, _mg_merged
from .source import events_raw_stream, run_bounded


def run_stream_heavy_hitters_bounded(
    spark: SparkSession,
    sf_dir: str,
    col: str = "event_type",
    glob_filter: str | None = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded (drained) streaming MG run over the events stream;
    returns the accumulated ``(item, est_count)`` summary after the drain.

    ``max_files_per_trigger`` composes with the admission-control tier:
    the summary is batch-split INVARIANT when unsaturated (exact counts),
    and guarantee-preserving when saturated (pytest-pinned)."""
    ev = events_raw_stream(
        spark,
        sf_dir,
        glob_filter=glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    batch_summaries: dict[int, list[tuple[str, int]]] = {}
    run_bounded(ev, foreach_batch=_make_fold(batch_summaries, col))
    counters = _merge_summaries(batch_summaries)
    return spark.createDataFrame(
        sorted(counters.items()), "item string, est_count long"
    )


#: sentinel slot holding the compacted prefix (real batch_ids are ≥ 0, so
#: it sorts first and _merge_summaries replays it before any live slot)
_PREFIX_SLOT = -1


def _make_fold(batch_summaries: dict[int, list[tuple[str, int]]], col: str):
    """The foreachBatch kernel, factored out so the retry path is testable.

    Retry-idempotence (the streaming/media.py round-12 discipline): the
    per-batch distributed MG summary is stored KEYED BY batch_id — a
    foreachBatch retry (checkpoint commit lost after a successful first
    attempt) overwrites its own slot instead of double-folding into a
    running accumulator, which would inflate the retried batch's mass.

    Prefix compaction (ADVICE round 12): batch N running means every
    batch < N committed and can never be retried, so those slots fold
    into the ``_PREFIX_SLOT`` accumulator (the exact counters state after
    the committed prefix — same add-trim arithmetic, so the final merge
    is bit-identical) and are dropped. Driver state is O(k) — the prefix
    plus the one still-retryable slot — instead of O(k · batches) on an
    unbounded drain of many small files."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # every slot below bid is committed — compact it into the prefix
        stale = sorted(
            b for b in batch_summaries if b != _PREFIX_SLOT and b < bid
        )
        if stale:
            counters = dict(batch_summaries.get(_PREFIX_SLOT, []))
            for b in stale:
                _fold_batch(counters, batch_summaries.pop(b))
            batch_summaries[_PREFIX_SLOT] = sorted(counters.items())
        # distributed per-batch kernel (partition folds + KB merge)
        batch_summaries[bid] = [
            (r["item"], int(r["est_count"]))
            for r in _mg_merged(batch_df.select(col), col).collect()
        ]

    return fold


def _fold_batch(
    counters: dict[str, int], batch: list[tuple[str, int]]
) -> None:
    """ONE step of the online fold: add a batch summary, then the
    add-trim-keep-positive MG trim. Shared by the incremental prefix
    compaction and the post-drain merge so the two paths cannot drift."""
    for item, c in batch:
        counters[item] = counters.get(item, 0) + c
    if len(counters) > MG_K:
        off = sorted(counters.values(), reverse=True)[MG_K]
        for k in list(counters):
            v = counters[k] - off
            if v > 0:
                counters[k] = v
            else:
                del counters[k]


def _merge_summaries(
    batch_summaries: dict[int, list[tuple[str, int]]],
) -> dict[str, int]:
    """Fold the ≤ MG_K-row per-batch summaries in batch order with the
    add-trim-keep-positive merge — IDENTICAL order and arithmetic to the
    previous online fold (so every pinned result is unchanged), run after
    the drain. The ``_PREFIX_SLOT`` compacted prefix (sorts first) is the
    exact counters state after the committed batches, so replaying it
    before the live slots reproduces the full sequential fold. Driver
    memory O(k): the prefix plus the last still-retryable slot."""
    counters: dict[str, int] = {}
    for b in sorted(batch_summaries):
        _fold_batch(counters, batch_summaries[b])
    return counters


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: streaming MG over ``event_type`` — unsaturated
    (5-value vocabulary ≪ MG_K), so the accumulated summary is EXACTLY
    the per-type counts regardless of batching; exact SQL oracle."""
    return run_stream_heavy_hitters_bounded(spark, sf_dir)


#: exact oracle for the unsaturated driver entry: no trim fires anywhere,
#: so the accumulated summary is the exact per-type counts.
ORACLES: dict[str, str] = {
    "stream_heavy_hitters": """
        SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est_count
        FROM events GROUP BY event_type
    """,
}
