"""Seeded traffic generator and ground truth for the service benchmark.

One single-process generator serves every workload. It draws message
*contents* (what the service digests) and *messages* (replicas of a
content that differ only in their message id and an ignored transport
property), cuts the message stream into arrivals, and keeps the ground
truth: for each arrival, exactly which contents the service must forward.

The program under test only ever sees the arrivals, as parquet files; the
truth stays in this process.

Message ids encode where a message came from, so the check can decode a
forwarded row without a join::

    event_id = arrival << ARRIVAL_SHIFT | content << REPLICA_BITS | replica

Arrival 0 is the history that ``cold_restart`` replays through the
service's bounded entry to make its prior output.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ARRIVAL_SHIFT = 40
REPLICA_BITS = 3
CONTENT_MASK = (1 << (ARRIVAL_SHIFT - REPLICA_BITS)) - 1

#: the service's warm-up clock ("now") and cache window; history older
#: than the window must not seed the service and is forwarded again
NOW_TS = "2024-01-03 00:00:00"
NOW = np.datetime64(NOW_TS.replace(" ", "T"), "us")
CACHE_WINDOW_S = 48 * 3600
#: the replica-added transport property; the service is configured to
#: leave it out of the digest (DEDUPLICATION_IGNORED_PROPERTIES)
IGNORED_PROPERTY = "bridge"

EVENT_TYPES = np.array(["view", "click", "add_to_cart", "purchase", "share"])


@dataclass
class Traffic:
    """Arrivals (message tables) plus the generator's ground truth."""

    arrivals: list[pa.Table]
    #: per arrival, the sorted content ids the service must forward there
    expected: list[np.ndarray]
    history: pa.Table | None = None
    #: ground-truth tallies, reported beside the run's metrics
    truth: dict = field(default_factory=dict)


def _messages(
    content: np.ndarray,
    replica: np.ndarray,
    arrival: np.ndarray,
    ts: np.ndarray,
) -> pa.Table:
    """Message table in the events schema the file source reads.

    Content fields (event type, value, device, site) are functions of the
    content id alone, so replicas share a digest and distinct contents
    never collide: ``value`` is the content id itself."""
    event_id = (
        (arrival.astype(np.int64) << ARRIVAL_SHIFT)
        | (content.astype(np.int64) << REPLICA_BITS)
        | replica.astype(np.int64)
    )
    dev = pc.cast(pa.array(content % 997), pa.string())
    site = pc.cast(pa.array(content % 13), pa.string())
    bridge = pc.cast(pa.array(replica), pa.string())
    props = pc.binary_join_element_wise(
        '{"device":"d',
        dev,
        '","site":"s',
        site,
        f'","{IGNORED_PROPERTY}":"b',
        bridge,
        '"}',
        "",
    )
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(content % 100_003, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[content % len(EVENT_TYPES)]),
            "value": pa.array(content.astype(np.float64)),
            "props": props,
        }
    )


def _fanout_order(rng, contents: np.ndarray, replicas: int, jitter: int):
    """Each content ``replicas`` times, close together: replica positions
    scatter over ``jitter`` contents' worth of stream, so most replicas of a
    content share an arrival and a few spill into the next one."""
    c = np.repeat(contents, replicas)
    r = np.tile(np.arange(replicas), len(contents))
    base = np.repeat(np.arange(len(contents)), replicas) * replicas
    key = base + rng.integers(0, replicas * jitter, size=len(c))
    order = np.lexsort((rng.random(len(c)), key))
    return c[order], r[order]


def _cut(
    content: np.ndarray,
    replica: np.ndarray,
    per_arrival: int,
    seed_live: np.ndarray | None = None,
) -> Traffic:
    """Cut a message stream into equal arrivals, numbered from 1, and
    derive the truth: a content is forwarded at its first live occurrence
    unless it seeded the service (in-window history)."""
    n = len(content) // per_arrival
    content = content[: n * per_arrival]
    replica = replica[: n * per_arrival]
    arrival = 1 + np.arange(len(content)) // per_arrival
    # live event time: one second per message after "now"
    ts = NOW + (np.arange(len(content)) * 1_000_000).astype("timedelta64[us]")
    _, first = np.unique(content, return_index=True)
    first_mask = np.zeros(len(content), bool)
    first_mask[first] = True
    if seed_live is not None:
        first_mask &= ~np.isin(content, seed_live)
    expected = [
        np.sort(content[first_mask & (arrival == a)])
        for a in range(1, n + 1)
    ]
    tables = []
    for k in range(n):
        sl = slice(k * per_arrival, (k + 1) * per_arrival)
        tables.append(_messages(content[sl], replica[sl], arrival[sl], ts[sl]))
    return Traffic(tables, expected)


def replica_fanout(seed: int, n_arrivals: int, per_arrival: int) -> Traffic:
    """Each content arrives 4x close together (MQTT-replica duplication)."""
    rng = np.random.default_rng(seed)
    replicas = 4
    n_contents = n_arrivals * per_arrival // replicas + 1
    content, replica = _fanout_order(
        rng, np.arange(1, n_contents + 1), replicas, jitter=64
    )
    t = _cut(content, replica, per_arrival)
    t.truth = {"replicas": replicas}
    return t


def cold_restart(
    seed: int, n_arrivals: int, per_arrival: int, n_history: int
) -> Traffic:
    """Restart against a prior output: the history (arrival 0) spans 72 h
    before "now"; a third of it is older than the cache window. Live
    arrivals are half replays of history, half new content x2."""
    rng = np.random.default_rng(seed)
    hist = np.arange(1, n_history + 1, dtype=np.int64)
    old = rng.random(n_history) < 1 / 3
    hours = np.where(
        old, rng.uniform(50, 72, n_history), rng.uniform(1, 46, n_history)
    )
    hist_ts = NOW - (hours * 3600e6).astype("timedelta64[us]")
    history = _messages(
        hist, np.zeros(n_history, np.int64), np.zeros(n_history, np.int64), hist_ts
    )
    half = per_arrival // 2
    content = np.empty(n_arrivals * per_arrival, np.int64)
    replica = np.empty(n_arrivals * per_arrival, np.int64)
    new_c, new_r = _fanout_order(
        rng,
        np.arange(n_history + 1, n_history + 1 + n_arrivals * half // 2 + 1),
        2,
        jitter=16,
    )
    for k in range(n_arrivals):
        sl = slice(k * per_arrival, (k + 1) * per_arrival)
        replay = rng.choice(hist, size=half)
        c = np.concatenate([replay, new_c[k * half : (k + 1) * half]])
        r = np.concatenate(
            [np.ones(half, np.int64), new_r[k * half : (k + 1) * half]]
        )
        order = rng.permutation(per_arrival)
        content[sl], replica[sl] = c[order], r[order]
    t = _cut(content, replica, per_arrival, seed_live=hist[~old])
    t.history = history
    t.truth = {
        "history": n_history,
        "history_in_window": int((~old).sum()),
        "history_out_of_window": int(old.sum()),
    }
    return t


def decode(event_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(arrival, content)`` of message ids made by ``_messages``."""
    event_id = np.asarray(event_id, np.int64)
    return event_id >> ARRIVAL_SHIFT, (event_id >> REPLICA_BITS) & CONTENT_MASK
