"""Stream-static enrichment — joining a live message stream against a batch
dimension.

The reference's warm-up (op #11) folds historical digests into mutable
state; the stream-static join is the OTHER Spark rendering of "live rows
consult a bootstrap-time table": the static side is planned as a broadcast
into every micro-batch, so the stream never shuffles and the dimension is
read once per micro-batch plan — the standard enrichment shape for
reference-data joins at any scale (the static side just has to stay
broadcast-sized; bigger dims become a shuffled stream-static join, still
legal in Structured Streaming).

Here the dimension is the warm-up digest set itself, so each forwarded
message carries ``seen_in_warmup`` — was this content already known at
bootstrap? — which is op #11's answer surfaced as a column instead of a
drop decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import message_digest
from .source import events_message_stream, run_bounded


def flag_warmup_hits(messages: DataFrame, warmup_digests: DataFrame) -> DataFrame:
    """Stream-static LEFT join: every live message, with
    ``seen_in_warmup`` = its digest appears in the static warm-up set."""
    dim = F.broadcast(
        warmup_digests.select("digest").distinct().withColumn(
            "seen_in_warmup", F.lit(True)
        )
    )
    return (
        messages.withColumn("digest", message_digest())
        .join(dim, "digest", "left")
        .withColumn(
            "seen_in_warmup", F.coalesce("seen_in_warmup", F.lit(False))
        )
        .select("message_id", "topic", "digest", "event_ts", "seen_in_warmup")
    )


def warmup_message_digests(spark: SparkSession, source_dir: str) -> DataFrame:
    """The warm-up digest set in MESSAGE-digest space: the batch twin of the
    stream source (sources/io.messages_view) hashed with the stream's own
    ``message_digest``, time-bounded like the bootstrap scan (op #11) — the
    cutoff filter sits on the pre-projection column so it pushes into the
    parquet scan."""
    from ..operators.lineage import WARMUP_CUTOFF
    from ..sources.io import messages_view

    return (
        messages_view(spark, source_dir)
        .filter(F.col("event_ts") < F.lit(WARMUP_CUTOFF).cast("timestamp"))
        .select(message_digest().alias("digest"))
        .distinct()
    )


def run_warmup_flagged_bounded(
    spark: SparkSession, source_dir: str, glob_filter: str | None = None
) -> DataFrame:
    """Bounded harness run: warm-up digests from the batch bootstrap scan,
    then the live stream flagged against them in one drained run."""
    warmup = warmup_message_digests(spark, source_dir)
    messages = events_message_stream(spark, source_dir, glob_filter=glob_filter)
    return run_bounded(flag_warmup_hits(messages, warmup), "warm_flag")


#: DuckDB oracle for the bounded warm-up-flag harness: no aggregation and no
#: watermark filtering (plain append), so every message appears exactly once
#: — fully deterministic. The digest is the shared message-digest fragment;
#: the warm-up set is the same digest over the pre-cutoff scan.
from ..operators._oracle_fragments import duck_message_digest as _dmd
from ..operators.lineage import WARMUP_CUTOFF as _CUTOFF

ORACLES: dict[str, str] = {
    "stream_warmup_flagged": f"""
        WITH m AS (
          SELECT CAST(event_id AS VARCHAR) AS message_id,
                 'persistent://events/' || event_type AS topic,
                 {_dmd()} AS digest,
                 ts AS event_ts
          FROM events
        ),
        w AS (SELECT DISTINCT {_dmd()} AS digest FROM events
              WHERE ts < TIMESTAMP '{_CUTOFF}')
        SELECT m.message_id, m.topic, m.digest, m.event_ts,
               (w.digest IS NOT NULL) AS seen_in_warmup
        FROM m LEFT JOIN w ON m.digest = w.digest
    """,
}
