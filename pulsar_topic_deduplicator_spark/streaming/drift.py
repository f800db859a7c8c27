"""Streaming CUSUM drift monitor — the `cusum_drift_flags` kernel fed by
an incrementally-maintained streaming count aggregate instead of a batch
scan: the deployment shape where the dedup service's bucket table is a
live streaming aggregation and the drift alarm is a view over it.

Split of labor (why this scales): the ONLY corpus-sized work is the
streaming (type, hour) count — Structured Streaming maintains it
incrementally with exactly-once state, so each micro-batch touches only
its own rows. The CUSUM refinement (`operators/changepoint.py::
cusum_flags`) runs over the materialized types × hours frame — KB-to-MB
at any corpus size — on each read of the monitor. Complete output mode is
correct AND cheap here precisely because the aggregate result is tiny;
the raw stream is never re-scanned.

Bounded-run determinism: the drained run over the fixed source files
processes everything, so the final snapshot equals the batch aggregate
exactly and the entry shares the batch entry's DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.changepoint import cusum_flags
from .source import events_raw_stream, run_bounded


def run_stream_drift_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Bounded run for the harness: stream the events, maintain the
    (event_type, hour) count aggregate (complete mode — the bucket table
    IS the state, types × hours rows), then apply the CUSUM kernel to the
    drained snapshot."""
    ev = events_raw_stream(spark, source_dir, glob_filter=glob_filter)
    counts = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    snap = run_bounded(counts, "drift", output_mode="complete").select(
        "event_type",
        F.unix_micros(F.col("w.start")).alias("bucket_us"),
        "n_events",
    )
    return cusum_flags(snap)


def stream_drift_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the drift monitor over the streamed bucket table —
    bit-identical to the batch `cusum_drift_flags` (shared oracle) because
    the drained count aggregate equals the batch counts."""
    return run_stream_drift_bounded(
        spark, sf_dir, glob_filter="events.parquet"
    )


def _batch_oracle() -> str:
    from ..operators.changepoint import ORACLES as _BATCH

    return _BATCH["cusum_drift_flags"]


def _ks_batch_oracle() -> str:
    from ..operators.changepoint import ORACLES as _BATCH

    return _BATCH["ks_drift_report"]


#: the bounded runs drain everything, so the batch oracles are exact
ORACLES: dict[str, str] = {
    "stream_drift_flags": _batch_oracle(),
    "stream_ks_drift": _ks_batch_oracle(),
}


def run_stream_ks_drift_bounded(
    spark: SparkSession,
    source_dir: str,
    glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming two-sample KS drift monitor — the ``ks_drift_report``
    kernel over an incrementally-maintained (event_type, value, day)
    count aggregate (the CUSUM monitor's split of labor, one key wider):
    Structured Streaming owns the only corpus-sized work; the KS
    refinement reads the types × values × days snapshot — bounded by
    DISTINCT triples, not event volume — on each evaluation. Counts are
    additive, so the drained snapshot equals the batch aggregate
    exactly and the entry shares the batch oracle verbatim
    (multi-batch == single-batch pinned in tests/test_streaming_ks.py)."""
    from ..operators.changepoint import _US_PER_DAY, ks_from_day_counts

    ev = events_raw_stream(
        spark, source_dir, max_files_per_trigger, glob_filter
    )
    counts = ev.groupBy(
        "event_type",
        "value",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    snap = run_bounded(counts, "ksdrift", output_mode="complete")
    return ks_from_day_counts(snap)
