from .dedup import (
    dedup_stream,
    dedup_stream_ingest_ttl,
    message_digest,
    run_stream_dedup_bounded,
    start_ttl_dedup,
)
from .source import events_message_stream

__all__ = [
    "dedup_stream",
    "dedup_stream_ingest_ttl",
    "events_message_stream",
    "message_digest",
    "run_stream_dedup_bounded",
    "start_ttl_dedup",
]
