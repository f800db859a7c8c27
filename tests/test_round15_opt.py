"""Round-15 optimization equivalence tests.

Each test pins an optimization-round rewrite against the behavior it
replaced, so the oracle-checked semantics cannot drift:

* TTL bucket-state lifecycle (VERDICT r14 item 1): purge-on-write and the
  timer GC pass must never change an emitted row — only shrink state.
"""

from __future__ import annotations

import pandas as pd


class _FakeState:
    """Mirror of tests/test_round14_opt.py's fake GroupState, extended
    with the timer surface the round-15 kernel uses."""

    def __init__(self, value=None, now_ms=0, timed_out=False):
        self._v = value
        self._now = now_ms
        self.hasTimedOut = timed_out
        self.timeout_set_ms = None
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None
        self.removed = True

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


def test_ttl_timer_fire_purges_expired_keeps_live():
    """A timer fire (hasTimedOut, no data) drops exactly the expired
    entries, keeps live ones, re-arms the timer, and emits nothing."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        _make_bucketed_ttl_kernel,
    )

    ttl_ms = 1000
    now = 10_000
    kernel = _make_bucketed_ttl_kernel(ttl_ms, use_timers=True)
    st = _FakeState(
        (["d_live", "d_edge", "d_expired"], [now - 500, now - ttl_ms, 1]),
        now_ms=now,
        timed_out=True,
    )
    out = list(kernel((0,), iter([]), st))
    assert out == []
    ds, fs = st._v
    # d_edge sits exactly AT the ttl boundary: (now - f) < ttl is False,
    # the same strictness the admission check uses — it must purge
    assert dict(zip(ds, fs)) == {"d_live": now - 500}
    assert st.timeout_set_ms == ttl_ms


def test_ttl_timer_fire_removes_state_when_all_expired():
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        _make_bucketed_ttl_kernel,
    )

    kernel = _make_bucketed_ttl_kernel(1000, use_timers=True)
    st = _FakeState((["d1", "d2"], [1, 2]), now_ms=10_000, timed_out=True)
    assert list(kernel((0,), iter([]), st)) == []
    assert st.removed and st._v is None
    assert st.timeout_set_ms is None  # no re-arm after remove


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


def test_ttl_use_timers_arms_timer_on_write():
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        _make_bucketed_ttl_kernel,
    )

    ttl_ms = 1000
    batch = pd.DataFrame(
        {
            "digest": ["d"],
            "message_id": ["m"],
            "event_us": pd.array([1], dtype="Int64"),
        }
    ).assign(event_us=lambda d: d["event_us"].astype("float64"))
    kernel = _make_bucketed_ttl_kernel(ttl_ms, use_timers=True)
    st = _FakeState(None, now_ms=5_000)
    list(kernel((0,), iter([batch]), st))
    assert st.timeout_set_ms == ttl_ms


def _call(kernel, key, st, now_ms, batch=None):
    """One GroupState invocation as Spark makes it: the processing-time
    timeout is cleared on every call with data, and a call without data
    is a timer fire, which only happens while a timer is armed (returns
    None when none is)."""
    st._now = now_ms
    st.hasTimedOut = batch is None
    if batch is None:
        if st.timeout_set_ms is None:
            return None
    else:
        st.timeout_set_ms = None
    return list(kernel(key, iter([] if batch is None else [batch]), st))


def test_ttl_timer_rearmed_by_duplicate_only_batch():
    """use_timers: a batch holding only a within-TTL duplicate writes no
    state, yet Spark cleared the timeout on that call — the kernel must
    re-arm it, or the digest's state row is never removed once traffic
    stops. The exact kernel and its per-digest reference model:
    duplicate-only batch, then an idle key whose timer still fires and
    removes the state row."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        _make_bucketed_ttl_kernel,
    )

    from .ttl_reference import make_ttl_kernel

    ttl_ms = 1000

    def batch(mid):
        return pd.DataFrame(
            {
                "digest": ["d"],
                "message_id": [mid],
                "event_us": pd.array([1], dtype="Int64"),
            }
        ).assign(event_us=lambda d: d["event_us"].astype("float64"))

    # the per-digest kernel is keyed by the digest, the bucketed one by a
    # bucket number
    for make, key in ((make_ttl_kernel, ("d",)), (_make_bucketed_ttl_kernel, (0,))):
        kernel = make(ttl_ms, use_timers=True)
        st = _FakeState(None)
        first = _call(kernel, key, st, 0, batch("m1"))
        assert _norm(first) == {("d", "m1", 1, 0)}
        # duplicate only: counter row, no state write
        dup = _call(kernel, key, st, 500, batch("m2"))
        assert _norm(dup) == {("d", None, None, 1)}
        # idle: the timer fires and the expired state row goes
        assert _call(kernel, key, st, 2_000) == [], make.__name__
        assert st.removed and st._v is None, make.__name__
