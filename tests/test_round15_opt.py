"""Round-15 optimization equivalence tests.

Each test pins an optimization-round rewrite against the behavior it
replaced, so the oracle-checked semantics cannot drift:

* TTL bucket-state lifecycle (VERDICT r14 item 1): purge-on-write must
  never change an emitted row — only shrink state.
"""

from __future__ import annotations

import pandas as pd


class _FakeState:
    """Mirror of tests/test_round14_opt.py's fake GroupState that also
    records a timeout, so a test can check that none is armed."""

    def __init__(self, value=None, now_ms=0):
        self._v = value
        self._now = now_ms
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentProcessingTimeMs(self):
        return self._now

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def _norm(frames):
    rows = set()
    for f in frames:
        for r in f.itertuples(index=False):
            us = r.event_us
            rows.add(
                (
                    r.digest,
                    r.message_id,
                    None if pd.isna(us) else int(us),
                    int(r.n_dropped),
                )
            )
    return rows


def test_ttl_purge_on_write_preserves_emitted_rows():
    """State carries an expired digest that is NOT in the batch. The
    per-digest kernel (which never saw that digest this batch) and the
    bucketed kernel must emit identical rows, and the write must purge
    the dead entry — proving purge-on-write is output-invariant."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        _make_bucketed_ttl_kernel,
    )

    from .ttl_reference import make_ttl_kernel

    ttl_ms = 1000
    now = 10_000
    prior = {"d_live": now - 300, "d_dead": now - 50_000}
    batch = pd.DataFrame(
        {
            "digest": ["d_new", "d_live"],
            "message_id": ["m1", "m2"],
            "event_us": pd.array([7, 9], dtype="Int64"),
        }
    ).assign(event_us=lambda d: d["event_us"].astype("float64"))

    per_digest = make_ttl_kernel(ttl_ms)
    expected = []
    for d in batch["digest"].unique():
        st = _FakeState((prior[d],) if d in prior else None, now)
        expected.extend(
            per_digest((d,), iter([batch[batch["digest"] == d]]), st)
        )

    bucketed = _make_bucketed_ttl_kernel(ttl_ms)
    st = _FakeState((list(prior), [prior[d] for d in prior]), now)
    got = list(bucketed((0,), iter([batch]), st))

    assert _norm(got) == _norm(expected)
    new_map = dict(zip(*st._v))
    assert "d_dead" not in new_map  # purged on write
    assert new_map == {"d_live": now - 300, "d_new": now}
    assert st.timeout_set_ms is None  # default runner: no timers armed
