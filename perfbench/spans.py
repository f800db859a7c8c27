"""Spans and streaming-progress collection for the traced run.

Spans are recorded from the benchmark's own files, around its calls into
the program, and kept in memory until the run ends. Micro-batch spans are
rebuilt from Spark's own ``StreamingQueryProgress`` events, which a
benchmark-owned listener collects.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: ``durationMs`` components in the order the micro-batch engine runs them
#: inside one trigger (MicroBatchExecution: construct the batch, write the
#: offset log, build the source frames, plan, run the sink, commit)
TRIGGER_PARTS = (
    ("latestOffset", "batch.latest_offset"),
    ("walCommit", "batch.wal_commit"),
    ("getBatch", "batch.get_batch"),
    ("queryPlanning", "batch.planning"),
    ("addBatch", "batch.add_batch"),
    ("commitOffsets", "batch.offset_commit"),
)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent, **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run": self.run_id,
                    **attrs,
                }
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block, as a child of the open span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_batches(self, parent: int | None, progresses: list[dict]) -> None:
        """Child spans for micro-batches, with one span per ``durationMs``
        component laid out from the trigger start in execution order."""
        if not self.enabled:
            return
        for p in progresses:
            start = _epoch(p["timestamp"])
            dur = p["durationMs"]
            bid = self.add(
                "batch",
                start,
                start + dur.get("triggerExecution", 0) / 1000,
                parent,
                batch_id=p["batchId"],
                input_rows=p["numInputRows"],
            )
            t = start
            for key, name in TRIGGER_PARTS:
                ms = dur.get(key, 0)
                self.add(name, t, t + ms / 1000, bid)
                t += ms / 1000

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: a span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every progress event of every query, keyed by query id."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id: str, last_batch: int, timeout_s: float = 30.0):
        """Progress events of ``query_id`` up to ``last_batch``, waiting for
        the asynchronous listener bus to deliver them."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = list(self.progress.get(query_id, ()))
            if any(p["batchId"] >= last_batch for p in got) or time.time() > deadline:
                return sorted(
                    (p for p in got if p["batchId"] <= last_batch),
                    key=lambda p: p["batchId"],
                )
            time.sleep(0.05)
