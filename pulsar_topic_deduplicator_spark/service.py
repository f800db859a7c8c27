"""Service composition — the reference's ``main()``, Spark-first.

The reference's startup wiring (``src/index.ts:107-213``) is a fixed order:
config (fail-fast) → health server up but UNHEALTHY → Pulsar client/
producer/reader/consumer → warm-up scan of the *own output* topic → mark
healthy → steady-state dedup loop; teardown reverses it with each step
isolated (``src/index.ts:18-101``). This module is that composition over
the engine's pieces:

1. ``EngineConfig`` (same env names, fail-fast — ``config.py``);
2. warm-up (op #11): batch-scan the service's prior output within
   ``CACHE_WINDOW_IN_SECONDS``, parse-and-validate ``origin`` digests
   (op #12, message-granular skip), materialize the seed set once and
   seed the dedup state from it — completed strictly BEFORE live
   consumption, the reference's happens-before edge
   (``src/deduplication.ts:75-79``);
3. TTL streaming dedup keyed on the config's ignored-properties
   projection (ops #4–#9) — DEFAULT kernel: the JVM-only watermark TTL
   (``dedup_stream_ingest_ttl``; no Python worker in the dedup path — see
   its docstring); ``exact_processing_ttl=True`` opts into the exact
   processing-clock kernel (``streaming.dedup._exact_ttl_dedup``);
4. health / counters / graceful stop (ops #13–#15) surfaced as methods.

Two entry points: ``start_dedup_service`` (the live service) and
``run_dedup_service_bounded`` (the same composition drained and stopped —
tests, backfills, the registry's bounded entries). A DQ-gated bounded
run is ``start_dedup_service(dq_gate=True)`` drained the same way, by
``streaming.source.drain``: ``processAllAvailable`` on each query, then
``stop()``.

The live broker line is the one piece the sandbox cannot exercise: swap the
file source for ``.format("pulsar"|"kafka")`` + the option maps in
``sources/formats.py`` (the envelope bridges are digest-stable round-trip
tested there).
"""

from __future__ import annotations

import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .config import EngineConfig
from .operators.lineage import extract_origin_digests, message_dq_violations
from .sources.retry import with_warmup_retries
from .streaming.dedup import _exact_ttl_dedup, dedup_stream_ingest_ttl
from .streaming.ops import graceful_stop, health_status, observed_counters
from .streaming.source import _write_stream, drain, events_message_stream


def warmup_seed_digests(
    prior_output: DataFrame, config: EngineConfig, now_ts
) -> DataFrame:
    """Op #11's scan shape on a batch view of the service's prior output
    (columns ``publish_ts``/``event_ts`` + ``origin``): keep rows inside
    ``[now − cache_window, now]`` — publish time preferred, event time as
    fallback (``src/cacheBuilding.ts:144-150``) — unless seek is disabled,
    in which case scan from Earliest (``CACHE_REBUILD_DISABLE_SEEK``,
    ``src/cacheBuilding.ts:133-138``); then parse-and-validate the origin
    digests (op #12). The time filter lands BEFORE extraction so it pushes
    into the scan — the broker-side ``seekTimestamp`` analog."""
    ts = F.coalesce("publish_ts", "event_ts")
    if not config.cache_rebuild_disable_seek:
        cutoff = F.lit(now_ts).cast("timestamp") - F.expr(
            f"INTERVAL {int(config.cache_window_seconds)} SECONDS"
        )
        prior_output = prior_output.filter(
            (ts >= cutoff) & (ts <= F.lit(now_ts).cast("timestamp"))
        )
    return extract_origin_digests(prior_output).distinct()


def build_seed_set(
    prior_output: DataFrame | None, config: EngineConfig, now_ts
) -> DataFrame | None:
    """The warm-up, done once: ``warmup_seed_digests`` hash-partitioned by
    ``digest`` into ``spark.sql.shuffle.partitions`` partitions, persisted
    and materialized by one eager ``count``, retried with the reference's
    backoff (``sources/retry.py``). Every micro-batch then reads the cached
    blocks instead of re-scanning the prior output, re-parsing ``origin``
    and re-running ``distinct``; ``persist`` keeps the lineage, so a lost
    block is recomputed instead of failing the query. The caller owns the
    frame and unpersists it. None when warm-up is off (no prior output, or
    a disabled cache window).

    The partitioning is the state's: a fresh checkpoint's state store has
    ``spark.sql.shuffle.partitions`` partitions, so the watermark kernel's
    anti-join (``dedup_stream_ingest_ttl``) reads seed partition ``i`` in
    state task ``i`` and adds no exchange. A query resumed on a checkpoint
    made at another width keeps that width; Spark then adds a second
    exchange, which costs speed but not correctness — every seeded digest
    is still suppressed (tests/test_service.py)."""
    if not config.warmup_enabled or prior_output is None:
        return None
    # an explicit count: AQE may coalesce a by-column-only repartition
    width = prior_output.sparkSession.conf.get("spark.sql.shuffle.partitions")
    seeds = (
        warmup_seed_digests(prior_output, config, now_ts)
        .repartition(int(width), "digest")
        .persist()
    )
    try:
        with_warmup_retries(seeds.count)
    except BaseException:
        seeds.unpersist()
        raise
    return seeds


@dataclass
class DedupService:
    """Running dedup service handle: the reference's process, as an object.

    ``health()`` is the ``/healthz`` mapping (204/500 — wire to any HTTP
    thread), ``counters()`` the 60 s forwarded/dropped telemetry analog,
    ``stop()`` the ordered teardown (final micro-batch commit = producer
    flush), then releases the warm-up seed set the service owns and, on
    the exact kernel, the directory its seed messages were written to."""

    spark: SparkSession
    query: StreamingQuery
    output_table: str
    quarantine_query: StreamingQuery | None = None
    quarantine_table: str | None = None
    #: the materialized warm-up seed set (``build_seed_set``), or None
    seeds: DataFrame | None = None
    #: the exact kernel's seed-message source directory, or None
    seed_dir: str | None = None
    #: set by the signal-handler teardown BEFORE the query stops, so the
    #: liveness probe fails immediately on shutdown start (the reference's
    #: ``setHealthOk(false)`` is its first teardown step, src/index.ts:34-44)
    _stopping: bool = False

    @property
    def queries(self) -> list[StreamingQuery]:
        """The running queries, dedup first — what ``source.drain`` drains."""
        return [q for q in (self.query, self.quarantine_query) if q is not None]

    def health(self) -> tuple[int, str]:
        if self._stopping:
            return 500, "shutting down"
        return health_status(self.query)

    def serve_health(self, port: int = 0):
        """Start a live /healthz HTTP endpoint bound to this service's
        health mapping (the reference's health server, op #14); returns
        (server, bound_port) — shutdown() the server in teardown."""
        from .streaming.ops import serve_health

        return serve_health(self.health, port)

    def counters(self) -> dict:
        c = observed_counters(self.query)
        if self.quarantine_table is not None:
            # the gate's clean-ingest count (``n_clean``), so dropped =
            # n_clean − forwarded on both kernels, and violation telemetry
            # beside it (reference op #13's counter loop, extended with the
            # DQ gate's quarantine)
            c.update(observed_counters(self.query, "gate"))
            c["n_quarantined"] = self.spark.table(self.quarantine_table).count()
        return c

    def output(self) -> DataFrame:
        return self.spark.table(self.output_table)

    def quarantine(self) -> DataFrame | None:
        return (
            self.spark.table(self.quarantine_table)
            if self.quarantine_table is not None
            else None
        )

    def stop(self, timeout_seconds: float = 60.0) -> bool:
        try:
            ok = graceful_stop(self.query, timeout_seconds)
            if self.quarantine_query is not None:
                ok = graceful_stop(self.quarantine_query, timeout_seconds) and ok
        finally:
            self._release()
        return ok

    def _release(self) -> None:
        if self.seeds is not None:
            self.seeds.unpersist()
            self.seeds = None
        if self.seed_dir is not None:
            shutil.rmtree(self.seed_dir, ignore_errors=True)
            self.seed_dir = None

    def install_signal_handlers(
        self,
        health_server=None,
        exit_fn=None,
        on_step=None,
        timeout_seconds: float = 60.0,
    ) -> dict[int, int]:
        """Wire OS signals to the ordered graceful teardown — reference
        op #15's process contract (``src/index.ts:139-146``): SIGINT → 130,
        SIGQUIT → 131, SIGTERM → 143, teardown order from
        ``exitGracefully`` (``src/index.ts:18-101``) with every step
        isolated so one failing close never blocks the next:

        1. fail the health probe (``setHealthOk(false)`` analog — the
           ``_stopping`` flag flips ``health()`` to 500 before anything
           slow happens);
        2. stop the streaming queries (close consumer; the final
           micro-batch commit plays the producer flush);
        3. close the health server;
        4. exit with 128 + signal.

        ``on_step(name)`` is an observability hook (the reference logs each
        step); each invocation is itself isolated — a raising hook is
        logged and the teardown continues, matching ``exitGracefully``'s
        per-step error logging. A ``stop()`` that raises or times out is
        not silent: it is logged and surfaced as a ``stop_queries_failed``
        step marker (the process still exits with the clean 128+signal
        code — the signal contract — but the failed teardown is on
        record). ``exit_fn`` defaults to ``sys.exit``. Returns the
        signal→exit-code map actually installed."""
        import logging
        import signal as _signal
        import sys

        log = logging.getLogger(__name__)
        codes = {_signal.SIGINT: 130, _signal.SIGTERM: 143}
        if hasattr(_signal, "SIGQUIT"):
            codes[_signal.SIGQUIT] = 131
        step = on_step or (lambda name: None)
        do_exit = exit_fn or sys.exit

        def _step(name: str) -> None:
            # observability must never abort the teardown it observes
            try:
                step(name)
            except Exception:
                log.warning(
                    "on_step hook raised at %r; teardown continues", name,
                    exc_info=True,
                )

        def _handler(signum, frame):
            if self._stopping:
                # second signal during teardown: the standard fast-exit
                # contract — don't re-enter the teardown mid-flight
                do_exit(codes.get(signum, 1))
                return
            self._stopping = True
            _step("health_fail")
            try:
                ok = self.stop(timeout_seconds)
            except Exception:
                log.warning(
                    "stop() raised during signal teardown; exiting anyway",
                    exc_info=True,
                )
                _step("stop_queries_failed")
            else:
                if not ok:
                    log.warning(
                        "stop() timed out during signal teardown (queries"
                        " may not have committed their final batch)"
                    )
                _step("stop_queries" if ok else "stop_queries_failed")
            if health_server is not None:
                try:
                    health_server.shutdown()
                    _step("close_health_server")
                except Exception:
                    log.warning(
                        "health server shutdown raised; teardown continues",
                        exc_info=True,
                    )
            _step("exit")
            do_exit(codes.get(signum, 1))

        for sig in codes:
            _signal.signal(sig, _handler)
        return codes


def start_dedup_service(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    checkpoint_dir: str,
    prior_output: DataFrame | None = None,
    now_ts: str = "2024-01-03 00:00:00",
    glob_filter: str | None = None,
    exact_processing_ttl: bool = False,
    dq_gate: bool = False,
    messages: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
) -> DedupService:
    """Wire config → warm-up → live dedup in the reference's startup order
    and return the running service. ``prior_output`` is the batch view of
    the service's own previous output (the reference re-reads its output
    topic); None (or a disabled cache window) skips warm-up exactly like
    ``cacheWindowInSeconds <= 0`` (``src/cacheBuilding.ts:71-77``).

    Seed-set lifecycle: the warm-up runs ONCE, here, before the live query
    starts (``build_seed_set``: scan, ``origin`` validation, ``distinct``,
    cached hash-partitioned by digest and materialized under the warm-up
    retry policy). Both kernels receive that materialized frame, so the
    live query never reads ``prior_output`` again. The default kernel
    anti-joins each micro-batch against it inside the state stage, each
    task reading its own cached partition (one job per micro-batch); the
    exact kernel writes it once as seed messages. The returned
    ``DedupService`` owns the frame; ``stop()`` unpersists it.

    Kernel selection: the DEFAULT is the JVM-only watermark TTL kernel
    (``dedup_stream_ingest_ttl``) — all dedup state lives in the JVM state
    store, no Python worker (its docstring gives the measured cost of the
    exact kernel's Python round-trip); the watermark kernel's only
    deviation is that state EVICTION (re-admission after TTL expiry) lags
    by the watermark advance — late eviction, never early re-admission,
    the same direction the reference's
    ``oblivious-set`` dependency errs (lazy purge; ``package.json:51``,
    behavior pinned in ``src/deduplication.test.ts:249-275``).
    ``exact_processing_ttl=True`` opts into the exact processing-time-TTL
    kernel (``streaming.dedup._exact_ttl_dedup``) for deployments that
    need expiry exact to the millisecond; its output additionally carries
    the per-digest ``n_dropped`` counter rows.

    One micro-batch per arrival: the query starts with no-data batches
    off. The ingest-clock watermark advances on every batch, so with them
    on, each arrival would be followed by an eviction-only batch paying
    the full per-batch fixed cost (planning, WAL and offset commits, a
    state-store commit); an expired digest's state is instead evicted at
    the end of the next DATA batch — late eviction by at most one batch
    (``dedup_stream_ingest_ttl``). The exact kernel has no watermark and
    no timers (it purges expired digests when it writes a group's state),
    so it never runs no-data batches either way.

    ``max_files_per_trigger`` rate-limits ingest (admission control — the
    reference's bounded receive queue, ``src/config.ts:231-235``); dedup
    output is batch-split invariant (tests/test_admission.py).

    ``messages`` overrides the transport: any streaming DataFrame in the
    message schema runs the identical dataflow — the production
    ``.format("pulsar"|"kafka")`` swap point, exercised over a live TCP
    socket in tests/test_socket_stream.py (``source_dir``/``glob_filter``
    are ignored when it is given).

    ``dq_gate=True`` composes the row-local DQ gate as an ingest
    pre-filter: rows violating any constraint never reach the dedup state
    (the reference validates per message before the cache check,
    ``src/deduplication.ts:99-106``) and are diverted to a quarantine
    table by a stateless side query over the SAME message stream, with
    ``counters()`` reporting the gate's clean-ingest count ``n_clean``
    and ``n_quarantined`` beside it. Note each streaming query still opens
    its own reader, so combining ``dq_gate`` with a non-replayable
    transport (one live TCP socket) splits rows between the two consumers;
    use a replayable source (files, a broker topic with independent
    subscriptions) for gated runs."""
    return _start_service(
        spark,
        config,
        source_dir,
        checkpoint_dir,
        prior_output,
        now_ts,
        glob_filter,
        exact_processing_ttl,
        dq_gate,
        messages,
        max_files_per_trigger,
    )


def _start_service(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    checkpoint_dir: str,
    prior_output: DataFrame | None,
    now_ts: str,
    glob_filter: str | None,
    exact_processing_ttl: bool,
    dq_gate: bool,
    messages: DataFrame | None,
    max_files_per_trigger: int | None,
    output_dir: str | None = None,
) -> DedupService:
    """``start_dedup_service`` with the sink as a choice: ``output_dir``
    gets the parquet file sink (``_write_stream``), the restartable shape
    ``run_dedup_service_bounded`` offers; otherwise a memory table."""
    seeds = build_seed_set(prior_output, config, now_ts)
    svc = DedupService(spark=spark, query=None, output_table=None, seeds=seeds)
    try:
        if messages is None:
            messages = events_message_stream(
                spark,
                source_dir,
                glob_filter=glob_filter,
                max_files_per_trigger=max_files_per_trigger,
            )
        ingest = messages
        if dq_gate:
            ingest = messages.filter(
                F.size(message_dq_violations()) == 0
            ).observe("gate", F.count(F.lit(1)).alias("n_clean"))
        if exact_processing_ttl:
            if seeds is not None:
                svc.seed_dir = tempfile.mkdtemp(prefix="seed_")
            deduped = _exact_ttl_dedup(
                ingest,
                config.dedup_window_ms,
                seeds,
                config.ignored_properties,
                seed_dir=svc.seed_dir,
            )
        else:
            deduped = dedup_stream_ingest_ttl(
                ingest,
                config.dedup_window_ms,
                config.ignored_properties,
                exclude_digests=seeds,
            )
        # a query captures its conf when it starts, so the setting is
        # scoped to this start() and never leaks into later queries on the
        # session (windowed aggregates need no-data batches to finalize
        # their windows)
        key = "spark.sql.streaming.noDataMicroBatches.enabled"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            svc.query, svc.output_table = _write_stream(
                deduped, "dedup", output_dir, checkpoint_dir
            )
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        if dq_gate:
            # the reject path: dirty messages land in a memory table with
            # their violated-constraint list — zero state, append mode; at
            # scale a second reader on the same topic writing a dead-letter
            # topic, not a branch inside the stateful query
            svc.quarantine_query, svc.quarantine_table = _write_stream(
                messages.withColumn(
                    "violations", message_dq_violations()
                ).filter(F.size("violations") > 0),
                "quarantine",
            )
    except BaseException:
        svc._release()
        raise
    return svc


def run_dedup_service_bounded(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    checkpoint_dir: str,
    prior_output: DataFrame | None = None,
    now_ts: str = "2024-01-03 00:00:00",
    glob_filter: str | None = None,
    exact_processing_ttl: bool = False,
    output_dir: str | None = None,
) -> DataFrame:
    """Bounded (drain-and-stop) run of the full service composition — the
    test/backfill entry point: ``start_dedup_service``, then
    ``processAllAvailable`` and ``stop()``, on either kernel. Default
    kernel = JVM watermark TTL (full surviving message rows);
    ``exact_processing_ttl=True`` opts into the exact GroupState kernel
    (digest/message_id/event_ts/n_dropped rows). Pass ``output_dir`` for
    the RESTARTABLE parquet-sink shape (resumable backfills; memory sinks
    refuse checkpoint recovery) — the returned frame then reads the
    cumulative sink directory. The warm-up seed set is built once before
    the run and released after it.

    The run ends in ``source.drain``, which clamps the state width to the
    cluster's cores (``bounded_shuffle_width``): streaming plans never
    AQE-coalesce, so a default 200-partition session would pay 200
    state-store commits per batch for a bounded run. ``stop()`` releases
    the seeds; the returned frame reads the sink, never the seeds."""
    svc = drain(
        spark,
        lambda: _start_service(
            spark,
            config,
            source_dir,
            checkpoint_dir,
            prior_output,
            now_ts,
            glob_filter,
            exact_processing_ttl,
            dq_gate=False,
            messages=None,
            max_files_per_trigger=None,
            output_dir=output_dir,
        ),
    )
    if output_dir:
        return spark.read.parquet(output_dir)
    return svc.output()


# DuckDB oracle: replay the gate + dedup arithmetic in SQL. The row-local
# gate on events-derived messages reduces to event_id/ts/event_type checks
# (the payload is engine-constructed JSON, parseable by construction), and
# the bounded single-batch dedup forwards exactly one row per distinct
# clean digest with dropped = clean − distinct (see BOUNDED_TTL_ORACLE).
def _service_counters_oracle() -> str:
    from .operators._oracle_fragments import duck_message_digest
    from .operators.lineage import DQ_EVENT_TYPES, DQ_TS_MAX, DQ_TS_MIN

    vocab = ", ".join(f"'{t}'" for t in DQ_EVENT_TYPES)
    return f"""
        WITH m AS (
          SELECT {duck_message_digest()} AS digest,
                 (event_id IS NULL
                  OR ts IS NULL
                  OR ts < TIMESTAMP '{DQ_TS_MIN}'
                  OR ts >= TIMESTAMP '{DQ_TS_MAX}'
                  OR event_type IS NULL
                  OR event_type NOT IN ({vocab})) AS dirty
          FROM events
        ),
        clean AS (SELECT digest FROM m WHERE NOT dirty)
        SELECT 'forwarded' AS metric,
               CAST(count(DISTINCT digest) AS BIGINT) AS value FROM clean
        UNION ALL
        SELECT 'dropped_duplicates',
               CAST(count(*) - count(DISTINCT digest) AS BIGINT) FROM clean
        UNION ALL
        SELECT 'quarantined',
               CAST(count(*) AS BIGINT) FROM m WHERE dirty
    """


ORACLES: dict[str, str] = {
    # both kernels forward exactly one row per distinct clean digest on a
    # bounded single-batch run — same counter arithmetic, same oracle (a
    # shared-SQL twin, like the rollup pair)
    "service_counters_composed": _service_counters_oracle(),
    "service_counters_watermark": _service_counters_oracle(),
}
