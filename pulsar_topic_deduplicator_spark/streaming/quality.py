"""Streaming quality gate over the document stream.

The curation pipeline's Gopher gate (``operators/textops.gopher_pass``) is a
pure per-row predicate, so its streaming form is the best case for
Structured Streaming: the SAME Column expression drops into a stateless
``filter`` on the stream — no state, no watermark, no shuffle; each
micro-batch is one codegen'd scan→filter pass, and the observe() counters
give the reference-style forwarded/dropped telemetry (op #13) for free.
Batch/stream semantic parity is by construction (shared expression), and
the bounded harness run has an exact SQL oracle (plain append mode emits
every passing row exactly once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import gopher_pass
from .neardup_stream import DOCS_RAW_SCHEMA
from .source import file_stream, run_bounded


def quality_gate_stream(docs_stream: DataFrame) -> DataFrame:
    """Stateless streaming filter: forward documents passing every Gopher
    rule; observe() counts the forwarded side per micro-batch."""
    return docs_stream.filter(gopher_pass(F.col("text"))).observe(
        "quality_gate", F.count(F.lit(1)).alias("n_forwarded")
    )


def run_quality_gate_bounded(
    spark: SparkSession,
    source_dir: str,
    glob_filter: str = "documents.parquet",
) -> DataFrame:
    """Bounded drained run of the streaming gate; returns the passing
    documents (deterministic: stateless filter, append mode)."""
    stream = file_stream(spark, source_dir, DOCS_RAW_SCHEMA, glob_filter=glob_filter)
    return run_bounded(
        quality_gate_stream(stream).select("doc_id", "lang", "source", "n_chars"),
        "quality_gate",
    )


def _quality_gate_oracle() -> str:
    from ..operators.textops import GOPHER_PASS_SQL, gopher_stats_sql

    return f"""
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        JOIN ({gopher_stats_sql()}) stats ON d.doc_id = stats.doc_id
        WHERE {GOPHER_PASS_SQL}
    """


ORACLES: dict[str, str] = {"stream_quality_gate": _quality_gate_oracle()}
