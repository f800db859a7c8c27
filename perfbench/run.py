#!/usr/bin/env python3
"""Steady service benchmark: one warm, long-lived dedup query fed
closed-loop arrivals.

Run from the root of a checkout::

    python3 perfbench/run.py --workload cold_restart --seed 1 --seconds 13 --trace 0

One run, in five phases:

1. the seeded generator (``gen.py``) draws every arrival, written as one
   parquet file each, and keeps the ground truth in this process;
2. the session is built (``session.get_spark``) and the cores are spun up;
   ``cold_restart`` first replays its history through the service's
   bounded entry to make the prior output it restarts against;
3. set-up, ``SETUPS`` times: ``start_dedup_service`` on a fresh checkpoint,
   then the first arrival; the last of these queries stays up;
4. in that same query, untimed warm-up arrivals, then the timed arrivals.
   Each arrival is one file renamed into the source directory (one atomic
   set, consumed as one micro-batch) and is timed from the rename until
   ``processAllAvailable`` returns: a closed loop, one arrival in flight;
5. the output is checked against the ground truth; with ``--trace 1`` the
   per-layer numbers are collected (see README.md) and spans are written.

The last line of standard output is the result as one JSON object. Every
file the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from spans import TRIGGER_PARTS, ProgressListener, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: local[3] on a 4-core box leaves one core for the driver, the generator
#: and the OS
CORES = 3
#: an arrival is one parquet file, so one rename lands it atomically
FILES_PER_ARRIVAL = 1
#: set-ups per run; setup_s is their median
SETUPS = 3
#: untimed arrivals in the live query before timing starts
WARMUP_ARRIVALS = 2
#: fewest timed arrivals that leave ten beyond the tail percentile
MIN_TIMED = 11
ARRIVAL_TIMEOUT_S = 60.0
#: a run stops landing arrivals past this point and fails them instead
RUN_DEADLINE_S = 165.0

#: ``nominal_s`` is one arrival's wall on the reference machine (4 cores,
#: local[3]): a run times ``round(seconds / nominal_s)`` arrivals, so both
#: sides of a comparison do the same work and the timed phase lasts about
#: ``seconds``. ``replica_fanout`` is not in BENCHMARK.json (see README.md).
WORKLOADS = {
    "cold_restart": {
        "traffic": "cold_restart",
        "per_arrival": 10_000,
        "n_history": 20_000,
        "kernel": "watermark",
        "nominal_s": 1.65,
    },
    "exact_ttl": {
        "traffic": "replica_fanout",
        "per_arrival": 10_000,
        "kernel": "exact",
        "nominal_s": 1.15,
    },
    "replica_fanout": {
        "traffic": "replica_fanout",
        "per_arrival": 10_000,
        "kernel": "watermark",
        "nominal_s": 0.9,
    },
}


class ArrivalFailed(Exception):
    pass


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters in
    # /tmp/hsperfdata_<user>, whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    import tempfile

    tempfile.tempdir = tmp


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat; empty where the
    file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _percentile_tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples
    beyond it: the (n-10)-th smallest of n."""
    s = sorted(walls)
    n = len(s)
    return s[n - 11], 100.0 * (n - 10) / n


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.trace = bool(args.trace)
        self.t_start = time.perf_counter()
        self.attempted = 0
        self.failed: set = set()
        self.info: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": CORES,
            "files_per_arrival": FILES_PER_ARRIVAL,
            "msgs_per_arrival": self.wl["per_arrival"],
            "setups": SETUPS,
            "warmup_arrivals": WARMUP_ARRIVALS,
        }
        self.layer: dict = {}
        #: where each arrival's file went when it landed
        self.landed: dict[int, str] = {}

    # ── phase 1: inputs ────────────────────────────────────────────────
    def generate(self) -> None:
        import pyarrow.parquet as pq

        wl = self.wl
        self.n_timed = max(MIN_TIMED, round(self.args.seconds / wl["nominal_s"]))
        # arrival 1 is the set-up arrival every set-up query receives
        n = 1 + WARMUP_ARRIVALS + self.n_timed
        if wl["traffic"] == "cold_restart":
            t = gen.cold_restart(self.args.seed, n, wl["per_arrival"], wl["n_history"])
        else:
            t = getattr(gen, wl["traffic"])(self.args.seed, n, wl["per_arrival"])
        self.traffic = t
        self.backlog = os.path.join(self.work, "backlog")
        os.makedirs(self.backlog)
        for i, table in enumerate(t.arrivals, start=1):
            pq.write_table(table, self._arrival_path(i))
        if t.history is not None:
            self.history_dir = os.path.join(self.work, "history")
            os.makedirs(self.history_dir)
            pq.write_table(t.history, os.path.join(self.history_dir, "history.parquet"))
        self.info.update(
            timed_arrivals=self.n_timed,
            expected_forwarded=int(sum(len(e) for e in t.expected)),
            truth=t.truth,
        )

    def _arrival_path(self, i: int) -> str:
        return os.path.join(self.backlog, f"a{i:05d}.parquet")

    # ── phase 2: session, spin, prior output ───────────────────────────
    def session(self) -> None:
        from pulsar_topic_deduplicator_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session"):
            spark = get_spark("perfbench")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        # every progress event stays readable for the whole run
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self._spin()

    def _spin(self) -> None:
        """A short all-core busy spin: brings the cores out of idle clocks
        and starts the Python workers before anything is timed."""

        def _spin(batches):
            import numpy as _np

            a = _np.random.rand(256, 256)
            for _ in range(80):
                a = a @ a * 1e-3
            yield from batches

        self.spark.range(CORES, numPartitions=CORES).mapInPandas(
            _spin, schema="id long"
        ).write.format("noop").mode("overwrite").save()

    def prior_output(self):
        """``cold_restart``: the service's own bounded entry over the
        history, projected to the reference's output shape, so the seeds
        carry the digest the program under test computes."""
        if self.traffic.history is None:
            return None
        from pyspark.sql import functions as F

        from pulsar_topic_deduplicator_spark.service import run_dedup_service_bounded

        out = run_dedup_service_bounded(
            self.spark,
            self.config,
            self.history_dir,
            os.path.join(self.work, "ckpt-history"),
            output_dir=os.path.join(self.work, "history-out"),
        )
        return out.select(
            "publish_ts",
            "event_ts",
            F.to_json(F.array("digest")).alias("origin"),
        )

    # ── phases 3-4: set-up and arrivals ────────────────────────────────
    def start_service(self, k: int):
        from pulsar_topic_deduplicator_spark.service import start_dedup_service

        src = os.path.join(self.work, f"src-{k}")
        os.makedirs(src)
        kwargs = {
            "prior_output": self.prior,
            "now_ts": gen.NOW_TS,
            "max_files_per_trigger": FILES_PER_ARRIVAL,
        }
        if self.wl["kernel"] == "exact":
            kwargs.update(self._exact_kwargs(start_dedup_service))
        svc = start_dedup_service(
            self.spark,
            self.config,
            src,
            os.path.join(self.work, f"ckpt-{k}"),
            **kwargs,
        )
        return svc, src

    @staticmethod
    def _exact_kwargs(fn) -> dict:
        """The exact processing-clock kernel, on its bucketed GroupState
        implementation where the entry still offers a choice."""
        import inspect

        kw = {"exact_processing_ttl": True}
        if "use_tws" in inspect.signature(fn).parameters:
            kw["use_tws"] = False
        return kw

    def land(self, query, src: str, i: int, copy: bool = False) -> float:
        """Land arrival ``i`` in ``src`` and wait until its batch is
        committed; returns the wall in seconds."""
        self.attempted += 1
        if time.perf_counter() - self.t_start > RUN_DEADLINE_S:
            self.failed.add(i)
            raise ArrivalFailed(f"run deadline passed before arrival {i}")
        name = f"a{i:05d}.parquet"
        staged = self._arrival_path(i)
        if copy:
            staged = os.path.join(self.work, "stage", f"{id(query)}-{name}")
            os.makedirs(os.path.dirname(staged), exist_ok=True)
            shutil.copyfile(self.landed.get(i, self._arrival_path(i)), staged)
        else:
            self.landed[i] = os.path.join(src, name)
        timer = threading.Timer(ARRIVAL_TIMEOUT_S, query.stop)
        timer.start()
        try:
            t0 = time.perf_counter()
            os.rename(staged, os.path.join(src, name))
            query.processAllAvailable()
            wall = time.perf_counter() - t0
        except Exception as exc:
            self.failed.add(i)
            raise ArrivalFailed(f"arrival {i}: {exc}") from exc
        finally:
            timer.cancel()
        if not query.isActive:
            self.failed.add(i)
            raise ArrivalFailed(f"arrival {i} timed out")
        return wall

    def setups(self):
        """``SETUPS`` fresh starts, each to its first committed arrival;
        the last service stays up for the arrivals."""
        walls, starts = [], []
        for k in range(SETUPS):
            last = k == SETUPS - 1
            with self.tracer.span("setup", k=k) as sid:
                if self.trace and self.prior is not None:
                    with self.tracer.span("warmup"):
                        self._seed_count(self.prior)
                t0 = time.perf_counter()
                with self.tracer.span("service.start"):
                    svc, src = self.start_service(k)
                starts.append(time.perf_counter() - t0)
                with self.tracer.span("arrival", arrival=1) as aid:
                    self.land(svc.query, src, 1, copy=True)
                walls.append(time.perf_counter() - t0)
                self._batches(svc.query, aid, since=-1)
            if not last:
                self._check(svc, upto=1)
                svc.stop()
                self.spark.catalog.dropTempView(svc.output_table)
        self.setup_walls = walls
        self.layer["service.start_s"] = statistics.median(starts)
        return svc, src

    def arrivals(self, svc, src: str) -> None:
        q = svc.query
        first = 2
        warm = [self.land(q, src, i) for i in range(first, first + WARMUP_ARRIVALS)]
        self.info["warmup_walls_s"] = [round(w, 3) for w in warm]
        self.timed_first = first + WARMUP_ARRIVALS
        walls: dict[int, float] = {}
        traced: set = set()
        gc0 = self._gc_ms()
        cpu0 = _cpu_ticks()
        for j in range(self.n_timed):
            i = self.timed_first + j
            # traced run: arrivals alternate tracing off and on, so the same
            # query, JVM state and warm-up trend give the overhead
            on = self.trace and j % 2 == 1
            self._listen(on)
            self.tracer.enabled = on
            since = q.lastProgress["batchId"] if on else None
            with self.tracer.span("arrival", arrival=i) as aid:
                walls[i] = self.land(q, src, i)
            if on:
                traced.add(i)
                self._batches(q, aid, since)
            self.tracer.enabled = self.trace
        self._listen(self.trace)
        self.layer["jvm.gc_ms"] = float(self._gc_ms() - gc0)
        ticks = [b - a for a, b in zip(cpu0, _cpu_ticks())]
        if len(ticks) > 7 and sum(ticks):
            # the share of CPU time the hypervisor gave to other guests: a
            # slow run with a high steal share was slowed by the host
            self.info["steal_pct_timed"] = round(100 * ticks[7] / sum(ticks), 2)
        self.walls, self.traced = walls, traced
        self.info["timed_walls_s"] = [round(w, 3) for w in walls.values()]
        self.heap_mb = self._heap_mb()

    # ── JVM readouts ───────────────────────────────────────────────────
    def _gc_ms(self) -> int:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def _heap_mb(self) -> float:
        """Live driver heap: a collection frees dead objects, Spark's
        context cleaner then drops the broadcast and shuffle blocks they
        owned on its own thread, and the next collection frees those."""
        rt = self.jvm.java.lang.Runtime.getRuntime()
        for _ in range(3):
            self.jvm.java.lang.System.gc()
            time.sleep(0.3)
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # ── tracing helpers ────────────────────────────────────────────────
    def _listen(self, on: bool) -> None:
        if not self.trace:
            return
        if on and not self._listening:
            self.spark.streams.addListener(self.listener)
        elif not on and self._listening:
            self.spark.streams.removeListener(self.listener)
        self._listening = on

    def _batches(self, query, parent, since: int) -> None:
        """Attach the query's batches after batch ``since`` to ``parent``."""
        if not self.trace or parent is None:
            return
        last = query.lastProgress["batchId"]
        got = [
            p
            for p in self.listener.batches(query.id, last)
            if p["batchId"] > since
        ]
        self.progress_by_parent[parent] = got
        self.tracer.add_batches(parent, got)

    def _seed_count(self, prior) -> int:
        from pulsar_topic_deduplicator_spark.service import warmup_seed_digests

        return warmup_seed_digests(prior, self.config, gen.NOW_TS).count()

    # ── phase 5: check ─────────────────────────────────────────────────
    def _check(self, svc, upto: int) -> int:
        """Compare the sink with the ground truth through arrival ``upto``;
        every arrival with a mismatch counts as failed. Returns the number
        of forwarded rows."""
        import numpy as np
        from pyspark.sql import functions as F

        pdf = (
            svc.output()
            .filter(F.col("message_id").isNotNull())
            .select(F.col("message_id").cast("long").alias("mid"), "digest")
            .toPandas()
        )
        arrival, content = gen.decode(pdf["mid"].to_numpy())
        bits = gen.ARRIVAL_SHIFT - gen.REPLICA_BITS
        got, n = np.unique((arrival << bits) | content, return_counts=True)
        expected = self.traffic.expected[:upto]
        want = np.concatenate(
            [(a << bits) | c for a, c in enumerate(expected, start=1)]
        )
        repeated = got[n > 1]
        unexpected = np.setdiff1d(got, want)
        missing = np.setdiff1d(want, got)
        same_digest = pdf["digest"].duplicated(keep=False).to_numpy()
        for keys in (repeated, unexpected, missing):
            self.failed.update((keys >> bits).tolist())
        self.failed.update(arrival[same_digest].tolist())
        tally = self.info.setdefault("check", {})
        for key, k in (
            ("missing", len(missing)),
            ("unexpected", len(unexpected)),
            ("repeated_content", len(repeated)),
            ("repeated_digest", int(same_digest.sum())),
        ):
            tally[key] = tally.get(key, 0) + k
        return len(pdf)

    # ── traced run: layer prefixes ─────────────────────────────────────
    def prefixes(self) -> None:
        """Noop-sink streams over copies of the first timed arrivals:
        source, source + digest, source + digest + kernel."""
        from pulsar_topic_deduplicator_spark.service import warmup_seed_digests
        from pulsar_topic_deduplicator_spark.streaming.dedup import (
            dedup_stream_ingest_ttl,
            message_digest,
            start_ttl_dedup,
        )
        from pulsar_topic_deduplicator_spark.streaming.source import (
            events_message_stream,
        )

        cfg = self.config
        seeds = (
            warmup_seed_digests(self.prior, cfg, gen.NOW_TS)
            if self.prior is not None
            else None
        )
        n_warm, n_meas = 2, 6
        medians = {}
        for layer in ("source", "digest", "kernel"):
            src = os.path.join(self.work, f"prefix-{layer}")
            os.makedirs(src)
            ckpt = os.path.join(self.work, f"ckpt-prefix-{layer}")
            if layer == "kernel" and self.wl["kernel"] == "exact":
                # the exact kernel's only public frame is its own query,
                # which owns a memory sink of the kernel's output
                kw = self._exact_kwargs(start_ttl_dedup)
                kw.pop("exact_processing_ttl")
                q, name = start_ttl_dedup(
                    self.spark,
                    src,
                    ckpt,
                    ttl_ms=cfg.dedup_window_ms,
                    ignored=cfg.ignored_properties,
                    max_files_per_trigger=FILES_PER_ARRIVAL,
                    **kw,
                )
            else:
                df = events_message_stream(
                    self.spark, src, max_files_per_trigger=FILES_PER_ARRIVAL
                )
                if layer == "digest":
                    df = df.withColumn(
                        "digest", message_digest(cfg.ignored_properties)
                    )
                elif layer == "kernel":
                    df = dedup_stream_ingest_ttl(
                        df,
                        cfg.dedup_window_ms,
                        cfg.ignored_properties,
                        exclude_digests=seeds,
                    )
                q = (
                    df.writeStream.format("noop")
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                name = None
            walls = []
            with self.tracer.span(f"prefix.{layer}"):
                for j in range(n_warm + n_meas):
                    w = self.land(q, src, self.timed_first + j, copy=True)
                    if j >= n_warm:
                        walls.append(w)
            q.stop()
            if name:
                self.spark.catalog.dropTempView(name)
            medians[layer] = statistics.median(walls) * 1000
        self.layer["source.ms_per_arrival"] = medians["source"]
        self.layer["digest.ms_per_arrival"] = medians["digest"] - medians["source"]
        self.layer["dedup.ms_per_arrival"] = medians["kernel"] - medians["digest"]
        self.layer["sink.ms_per_arrival"] = (
            self._untraced_median() * 1000 - medians["kernel"]
        )

    def layer_metrics(self) -> None:
        """Per-layer readouts of the traced arrivals' micro-batches."""
        span_of = {
            s["arrival"]: s["id"]
            for s in self.tracer.spans
            if s["name"] == "arrival" and s["arrival"] in self.traced
        }
        per_arrival: dict[str, list[float]] = {}
        dropped = 0
        last_ops: list = []
        for i in sorted(self.traced):
            batches = self.progress_by_parent.get(span_of[i], [])
            if not batches:
                continue
            sums = dict.fromkeys(
                ("trigger", "state_update", "state_commit", "state_removal")
                + tuple(key for key, _ in TRIGGER_PARTS),
                0.0,
            )
            for p in batches:
                d = p["durationMs"]
                sums["trigger"] += d.get("triggerExecution", 0)
                for key, _ in TRIGGER_PARTS:
                    sums[key] += d.get(key, 0)
                for op in p.get("stateOperators", []):
                    sums["state_update"] += op.get("allUpdatesTimeMs", 0)
                    sums["state_commit"] += op.get("commitTimeMs", 0)
                    sums["state_removal"] += op.get("allRemovalsTimeMs", 0)
                    dropped += op.get("numRowsDroppedByWatermark", 0)
                if p.get("stateOperators"):
                    last_ops = p["stateOperators"]
            sums["pickup"] = self.walls[i] * 1000 - sums["trigger"]
            for k, v in sums.items():
                per_arrival.setdefault(k, []).append(v)
        # means, not medians: durationMs parts are whole milliseconds, and a
        # median of a handful of them repeats exactly from run to run
        mean = {k: statistics.fmean(v) for k, v in per_arrival.items()}
        self.layer["batch.trigger_ms"] = mean["trigger"]
        for key, name in TRIGGER_PARTS:
            self.layer[name + "_ms"] = mean[key]
        self.layer["batch.pickup_ms"] = mean["pickup"]
        self.layer["state.update_ms"] = mean["state_update"]
        self.layer["state.commit_ms"] = mean["state_commit"]
        self.layer["state.removal_ms"] = mean["state_removal"]
        self.layer["state.rows_dropped_by_watermark"] = float(dropped)
        self.layer["state.rows_total"] = float(
            sum(op.get("numRowsTotal", 0) for op in last_ops)
        )
        self.layer["state.memory_bytes"] = float(
            sum(op.get("memoryUsedBytes", 0) for op in last_ops)
        )

    def _untraced_median(self) -> float:
        return statistics.median(
            w for i, w in self.walls.items() if i not in self.traced
        )

    def warmup_layer(self) -> None:
        """One warm build of the seed set, timed. Without a prior output
        the service skips warm-up; the build is then timed over an empty
        prior output, the layer's fixed cost."""
        prior = self.prior
        if prior is None:
            prior = self.spark.createDataFrame(
                [], "publish_ts timestamp, event_ts timestamp, origin string"
            )
        n = self._seed_count(prior)  # warm the scan once, untimed
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            self._seed_count(prior)
            walls.append(time.perf_counter() - t0)
        build = statistics.median(walls)
        self.layer["warmup.seed_build_s"] = build
        self.layer["warmup.seed_digests"] = float(n)
        self.layer["warmup.arrival_over_seed_build"] = (
            self._untraced_median() / build if self.prior is not None else 0.0
        )

    # ── the whole run ──────────────────────────────────────────────────
    def main(self) -> dict:
        from pulsar_topic_deduplicator_spark.config import EngineConfig

        self.config = EngineConfig(
            ignored_properties=(gen.IGNORED_PROPERTY,),
            cache_window_seconds=float(gen.CACHE_WINDOW_S),
        )
        self.tracer = Tracer(f"{self.args.workload}-{self.args.seed}", self.trace)
        self.listener = ProgressListener() if self.trace else None
        self._listening = False
        self.progress_by_parent: dict = {}
        phase = self.info.setdefault("phase_end_s", {})

        def mark(name):
            phase[name] = round(time.perf_counter() - self.t_start, 2)

        with self.tracer.span("run"):
            # the generator runs while the JVM starts; the program sees no
            # input before set-up begins
            with ThreadPoolExecutor(1) as pool:
                generated = pool.submit(self.generate)
                self.session()
                generated.result()
            mark("session")
            self._listen(self.trace)
            self.prior = self.prior_output()
            mark("prior")
            try:
                svc, src = self.setups()
                mark("setups")
                self.arrivals(svc, src)
                mark("arrivals")
            except ArrivalFailed as exc:
                print(f"perfbench: {exc}", file=sys.stderr)
                return self._result(None)
            with self.tracer.span("counters"):
                t0 = time.perf_counter()
                counters = svc.counters()
                self.layer["ops.counters_ms"] = (time.perf_counter() - t0) * 1000
            with self.tracer.span("stop"):
                t0 = time.perf_counter()
                svc.stop()
                self.layer["ops.stop_s"] = time.perf_counter() - t0
            forwarded = self._check(svc, upto=self.timed_first + self.n_timed - 1)
            mark("check")
            self.layer["ops.counters_gap_rows"] = float(
                forwarded - counters.get("n_forwarded", 0)
            )
            self.info["counters"] = counters
            if self.trace:
                self.layer_metrics()
                self.prefixes()
                self.warmup_layer()
        return self._result(svc)

    def _result(self, svc) -> dict:
        ok = svc is not None and not self.failed
        per_layer, units = _declared()
        metrics: dict = {}
        if svc is not None and not self.trace:
            walls = list(self.walls.values())
            tail, pct = _percentile_tail(walls)
            metrics = {
                "setup_s": statistics.median(self.setup_walls),
                "msgs_per_s": len(walls) * self.wl["per_arrival"] / sum(walls),
                "arrival_ms_p50": statistics.median(walls) * 1000,
                "arrival_ms_tail": tail * 1000,
                "driver_heap_mb": self.heap_mb,
            }
            self.info.update(
                tail_percentile=round(pct, 2),
                tail_samples=len(walls),
                setup_walls_s=self.setup_walls,
            )
        elif svc is not None:
            traced = [self.walls[i] for i in self.traced]
            self.layer["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced) / self._untraced_median() - 1
            )
            metrics = {k: self.layer[k] for k in per_layer if k in self.layer}
            self.info["self_time_s"] = self.tracer.self_times()
            self.info["layers_unreported"] = sorted(set(per_layer) - set(self.layer))
        return {
            "correct": ok,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def _declared() -> tuple[list[str], dict[str, str]]:
    """The per-layer metric names and every metric's unit, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["per_layer"]], units


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> None:
    args = _args()
    if not os.path.isfile(
        os.path.join(ROOT, "pulsar_topic_deduplicator_spark", "service.py")
    ):
        _fail("no program to benchmark: run from the root of a full checkout")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    result = None
    try:
        result = run.main()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            _shutdown(spark)
        stem = os.path.join(base, f"{args.workload}-{args.seed}-trace{args.trace}")
        if run.trace:
            run.tracer.write(stem + ".spans.jsonl")
        if result is not None:
            with open(stem + ".json", "w") as f:
                json.dump({"result": result, "info": run.info, "layer": run.layer}, f, indent=1)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": run.info}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
