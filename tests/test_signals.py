"""OS-signal graceful shutdown (reference op #15, ``src/index.ts:139-146``):
a real subprocess runs the live dedup service with signal handlers
installed; SIGTERM must drive the ordered teardown (health-fail → stop
queries → close health server) and exit 143 — the reference's exact
signal→exit-code contract."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = """
import sys
sys.path.insert(0, {repo!r})
from pulsar_topic_deduplicator_spark.session import get_spark
from pulsar_topic_deduplicator_spark.config import EngineConfig
from pulsar_topic_deduplicator_spark.service import start_dedup_service

spark = get_spark("signal-shutdown-test")
spark.sparkContext.setLogLevel("ERROR")
svc = start_dedup_service(
    spark, EngineConfig(), sys.argv[1], sys.argv[2],
)
server, port = svc.serve_health()
svc.install_signal_handlers(
    health_server=server,
    on_step=lambda s: print("STEP", s, flush=True),
)
print("READY", port, flush=True)
import time
while True:
    time.sleep(0.2)
"""

BASE_TS = 1704067200 * 1_000_000_000  # 2024-01-01 UTC in ns
NS = 1_000_000_000


def test_sigterm_runs_ordered_teardown_and_exits_143(spark, tmp_path):
    src = str(tmp_path / "sig_src")
    spark.createDataFrame(
        pd.DataFrame(
            [
                (1, BASE_TS, 1, "click", 1.0, '{"k": "1"}'),
                (2, BASE_TS + NS, 2, "view", 2.0, '{"k": "2"}'),
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ),
        schema=(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        ),
    ).coalesce(1).write.mode("overwrite").parquet(src)
    script = tmp_path / "runner.py"
    script.write_text(RUNNER.format(repo=REPO))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.Popen(
        [sys.executable, str(script), src, str(tmp_path / "sig_ck")],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env=env,
    )
    try:
        port = None
        deadline = time.time() + 120
        while time.time() < deadline:
            line = proc.stdout.readline()
            if line.startswith("READY"):
                port = int(line.split()[1])
                break
            assert proc.poll() is None, "service subprocess died before READY"
        assert port is not None, "service never reported READY"

        import urllib.request

        resp = urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz", timeout=10)
        assert resp.status == 204  # live service is healthy

        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=120)
        steps = [l.split()[1] for l in out.splitlines() if l.startswith("STEP")]
        # the reference's teardown order, each step isolated
        assert steps == ["health_fail", "stop_queries", "close_health_server", "exit"]
        assert proc.returncode == 143  # 128 + SIGTERM
    finally:
        if proc.poll() is None:
            proc.kill()


def test_second_signal_fast_exits_without_reentering_teardown():
    """A second signal arriving during (or after) teardown must NOT re-run
    the teardown — it exits immediately with its own code (the standard
    second-signal contract; re-entering stop() mid-flight would abort the
    first teardown's remaining steps)."""
    from pulsar_topic_deduplicator_spark.service import DedupService

    stops = []

    class FakeQuery:
        isActive = True

        def stop(self):
            stops.append(1)

        def awaitTermination(self, timeout=None):
            return True

    svc = DedupService(spark=None, query=FakeQuery(), output_table="t")
    exits: list[int] = []
    steps: list[str] = []
    try:
        svc.install_signal_handlers(
            exit_fn=exits.append, on_step=steps.append
        )
        os.kill(os.getpid(), signal.SIGTERM)
        deadline = time.time() + 5
        while not exits and time.time() < deadline:
            time.sleep(0.01)
        assert exits == [143]
        assert steps == ["health_fail", "stop_queries", "exit"]
        assert stops == [1]
        os.kill(os.getpid(), signal.SIGINT)
        deadline = time.time() + 5
        while len(exits) < 2 and time.time() < deadline:
            time.sleep(0.01)
        # fast exit: second signal's code recorded, NO repeated teardown
        assert exits == [143, 130]
        assert steps == ["health_fail", "stop_queries", "exit"]
        assert stops == [1]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
        if hasattr(signal, "SIGQUIT"):
            signal.signal(signal.SIGQUIT, signal.SIG_DFL)


def test_raising_hook_and_failing_stop_never_abort_teardown():
    """ADVICE r7: a raising ``on_step`` hook must not abort the teardown
    before queries are stopped, and a raising ``stop()`` must be surfaced
    as a ``stop_queries_failed`` marker rather than silently swallowed —
    the process still exits with the clean 128+signal code (the signal
    contract) but the failed teardown is observable."""
    from pulsar_topic_deduplicator_spark.service import DedupService

    class ExplodingQuery:
        isActive = True

        def stop(self):
            raise RuntimeError("broker connection already gone")

        def awaitTermination(self, timeout=None):
            return True

    svc = DedupService(spark=None, query=ExplodingQuery(), output_table="t")
    exits: list[int] = []
    steps: list[str] = []

    def hostile_hook(name: str) -> None:
        steps.append(name)
        raise ValueError("observability pipe broken")  # must not abort

    try:
        svc.install_signal_handlers(exit_fn=exits.append, on_step=hostile_hook)
        os.kill(os.getpid(), signal.SIGTERM)
        deadline = time.time() + 5
        while not exits and time.time() < deadline:
            time.sleep(0.01)
        assert exits == [143]  # clean signal exit code despite both failures
        # every step reached: the raising hook at health_fail did not stop
        # the teardown, and the raising stop() is on record, not silent
        assert steps == ["health_fail", "stop_queries_failed", "exit"]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
        if hasattr(signal, "SIGQUIT"):
            signal.signal(signal.SIGQUIT, signal.SIG_DFL)


def test_stop_timeout_surfaces_failed_marker():
    """A stop() that TIMES OUT (returns False, no raise) is the other
    not-clean teardown path: the docstring promises it is surfaced as
    ``stop_queries_failed``, not the success marker — the final
    micro-batch may not have committed."""
    from pulsar_topic_deduplicator_spark.service import DedupService

    class HangingQuery:
        isActive = True

        def stop(self):
            pass

        def awaitTermination(self, timeout=None):
            return False  # never terminates inside the timeout

    svc = DedupService(spark=None, query=HangingQuery(), output_table="t")
    exits: list[int] = []
    steps: list[str] = []
    try:
        svc.install_signal_handlers(
            exit_fn=exits.append, on_step=steps.append, timeout_seconds=0.1
        )
        os.kill(os.getpid(), signal.SIGTERM)
        deadline = time.time() + 5
        while not exits and time.time() < deadline:
            time.sleep(0.01)
        assert exits == [143]
        assert steps == ["health_fail", "stop_queries_failed", "exit"]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
        if hasattr(signal, "SIGQUIT"):
            signal.signal(signal.SIGQUIT, signal.SIG_DFL)
