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
   (``dedup_stream_ingest_ttl``; digest groups are near-singleton in dedup
   traffic, so per-group Python is effectively per-row — see its
   docstring); ``exact_processing_ttl=True`` opts into the exact
   processing-clock kernel (``start_ttl_dedup``);
4. health / counters / graceful stop (ops #13–#15) surfaced as methods.

The live broker line is the one piece the sandbox cannot exercise: swap the
file source for ``.format("pulsar"|"kafka")`` + the option maps in
``sources/formats.py`` (the envelope bridges are digest-stable round-trip
tested there).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .config import EngineConfig
from .operators.lineage import extract_origin_digests, message_dq_violations
from .sources.retry import with_warmup_retries
from .streaming.dedup import (
    dedup_stream_ingest_ttl,
    run_ttl_dedup_bounded,
    start_ttl_dedup,
)
from .streaming.ops import graceful_stop, health_status, observed_counters


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
    """The warm-up, done once: ``warmup_seed_digests`` persisted and
    materialized by one eager ``count``, retried with the reference's
    backoff (``sources/retry.py``). Every micro-batch then reads the cached
    blocks instead of re-scanning the prior output, re-parsing ``origin``
    and re-running ``distinct``; ``persist`` keeps the lineage, so a lost
    block is recomputed instead of failing the query. The caller owns the
    frame and unpersists it. None when warm-up is off (no prior output, or
    a disabled cache window)."""
    if not config.warmup_enabled or prior_output is None:
        return None
    seeds = warmup_seed_digests(prior_output, config, now_ts).persist()
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
    flush), then releases the warm-up seed set the service owns."""

    spark: SparkSession
    query: StreamingQuery
    output_table: str
    quarantine_query: StreamingQuery | None = None
    quarantine_table: str | None = None
    #: the materialized warm-up seed set (``build_seed_set``), or None
    seeds: DataFrame | None = None
    #: set by the signal-handler teardown BEFORE the query stops, so the
    #: liveness probe fails immediately on shutdown start (the reference's
    #: ``setHealthOk(false)`` is its first teardown step, src/index.ts:34-44)
    _stopping: bool = False

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
            # violation telemetry beside forwarded/dropped (reference op
            # #13's counter loop, extended with the DQ gate's quarantine)
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
            if self.seeds is not None:
                self.seeds.unpersist()
                self.seeds = None
        return ok

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
    persisted and materialized under the warm-up retry policy). Both
    kernels receive that materialized frame, so the live query never reads
    ``prior_output`` again. The returned ``DedupService`` owns the frame;
    ``stop()`` unpersists it.

    Kernel selection: the DEFAULT is the JVM-only watermark TTL kernel
    (``dedup_stream_ingest_ttl``) — all dedup state lives in the JVM state
    store, no per-group Python. Dedup keys are crypto digests, so in real
    traffic group count ≈ row count and the GroupState kernel's per-group
    Python round-trip is effectively per-row (~3× slower measured at
    sf0.1); the watermark kernel's only deviation is that state EVICTION
    (re-admission after TTL expiry) lags by the watermark advance — late
    eviction, never early re-admission, the same direction the reference's
    ``oblivious-set`` dependency errs (lazy purge; ``package.json:51``,
    behavior pinned in ``src/deduplication.test.ts:249-275``). Its query
    runs one micro-batch per arrival (no eviction-only batches), so
    eviction lags by at most one more data batch (see
    ``_start_watermark_dedup_query``).
    ``exact_processing_ttl=True``
    opts into the exact processing-time-TTL kernel (``start_ttl_dedup``)
    for deployments that need expiry exact to the millisecond; its output
    additionally carries the per-digest ``n_dropped`` counter rows.

    ``max_files_per_trigger`` rate-limits ingest (admission control — the
    reference's bounded receive queue, ``src/config.ts:231-235``); dedup
    output is batch-split invariant (tests/test_admission.py).

    ``dq_gate=True`` composes the row-local DQ gate as an ingest
    pre-filter: rows violating any constraint never reach the dedup state
    (the reference validates per message before the cache check,
    ``src/deduplication.ts:99-106``) and are diverted to a quarantine
    table by a stateless side query over the same source, with
    ``counters()`` reporting them beside forwarded/dropped. When a
    ``messages`` transport override is given the quarantine derives from
    that SAME frame — note each streaming query still opens its own reader,
    so combining ``dq_gate`` with a non-replayable transport (one live TCP
    socket) splits rows between the two consumers; use a replayable source
    (files, a broker topic with independent subscriptions) for gated runs."""
    seeds = build_seed_set(prior_output, config, now_ts)
    predicate = F.size(message_dq_violations()) == 0 if dq_gate else None
    try:
        if exact_processing_ttl:
            query, name = start_ttl_dedup(
                spark,
                source_dir,
                checkpoint_dir,
                ttl_ms=config.dedup_window_ms,
                seed_digests=seeds,
                glob_filter=glob_filter,
                ignored=config.ignored_properties,
                message_predicate=predicate,
                messages=messages,
                max_files_per_trigger=max_files_per_trigger,
            )
        else:
            query, name = _start_watermark_dedup_query(
                spark,
                config,
                source_dir,
                checkpoint_dir,
                seeds=seeds,
                glob_filter=glob_filter,
                message_predicate=predicate,
                messages=messages,
                max_files_per_trigger=max_files_per_trigger,
            )
    except BaseException:
        if seeds is not None:
            seeds.unpersist()
        raise
    q_query = q_name = None
    if dq_gate:
        # the quarantine side-stream MUST observe the same transport the
        # gate filters: with a `messages` override, deriving it from
        # source_dir would quarantine rows from a DIFFERENT stream than the
        # one actually gated and desynchronize counters()
        q_query, q_name = start_quarantine_stream(
            spark, source_dir, glob_filter=glob_filter, messages=messages
        )
    return DedupService(
        spark=spark,
        query=query,
        output_table=name,
        quarantine_query=q_query,
        quarantine_table=q_name,
        seeds=seeds,
    )


def _start_watermark_dedup_query(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    checkpoint_dir: str | None,
    seeds: DataFrame | None = None,
    glob_filter: str | None = None,
    message_predicate=None,
    messages: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    output_dir: str | None = None,
):
    """Start the default-kernel service query: (optional gate predicate) →
    warm-up anti-join seeding → JVM watermark TTL dedup → sink.
    Returns ``(query, table_name_or_output_dir)``.

    One micro-batch per arrival: the ingest-clock watermark advances on
    every batch, so with no-data batches on, each arrival would be followed
    by an eviction-only batch paying the full per-batch fixed cost
    (planning, WAL and offset commits, a state-store commit). The query
    starts without them; an expired digest's state is then evicted at the
    end of the next DATA batch instead — late eviction by at most one
    batch (``dedup_stream_ingest_ttl``).

    Sink selection (the ``run_stream_dedup_bounded`` discipline): a caller
    that passes ``output_dir`` gets the parquet file sink — the RESTARTABLE
    shape (memory sinks refuse to recover from a checkpoint), used by
    resumable backfills and the RocksDB restart tests; one-shot runs keep
    the memory sink and skip the file-commit cost."""
    import uuid

    from .streaming.source import events_message_stream

    name = f"svc_wm_{uuid.uuid4().hex[:8]}"
    if messages is None:
        messages = events_message_stream(
            spark,
            source_dir,
            glob_filter=glob_filter,
            max_files_per_trigger=max_files_per_trigger,
        )
    if message_predicate is not None:
        messages = messages.filter(message_predicate)
    deduped = dedup_stream_ingest_ttl(
        messages,
        config.dedup_window_ms,
        config.ignored_properties,
        exclude_digests=seeds,
    )
    if output_dir:
        writer = (
            deduped.writeStream.format("parquet")
            .option("path", output_dir)
            .outputMode("append")
        )
        name = output_dir
    else:
        writer = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    # a query captures its conf when it starts, so the setting is scoped
    # to this start() and never leaks into later queries on the session
    # (windowed aggregates need no-data batches to finalize their windows)
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        return writer.start(), name
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def start_quarantine_stream(
    spark: SparkSession,
    source_dir: str,
    glob_filter: str | None = None,
    available_now: bool = False,
    messages: DataFrame | None = None,
):
    """Stateless side query: the DQ gate's reject path. Dirty messages land
    in a memory table with their violated-constraint list — zero state,
    append mode, full codegen; at scale this is a second reader on the same
    topic writing a dead-letter topic (the standard quarantine pattern),
    not a branch inside the stateful query.

    ``messages`` overrides the transport exactly as in ``start_ttl_dedup``:
    the quarantine pass then observes the SAME stream the gate filters
    (``source_dir``/``glob_filter`` are ignored when it is given)."""
    import uuid

    from .streaming.source import events_message_stream

    name = f"quarantine_{uuid.uuid4().hex[:8]}"
    if messages is None:
        messages = events_message_stream(
            spark, source_dir, glob_filter=glob_filter
        )
    dirty = messages.withColumn("violations", message_dq_violations()).filter(
        F.size("violations") > 0
    )
    writer = (
        dirty.writeStream.format("memory").queryName(name).outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return query, name


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
    test/backfill entry point. Default kernel = JVM watermark TTL (full
    surviving message rows); ``exact_processing_ttl=True`` opts into the
    exact GroupState kernel (digest/message_id/event_ts/n_dropped rows) —
    see ``start_dedup_service``. Pass
    ``output_dir`` for the RESTARTABLE parquet-sink shape (resumable
    backfills; memory sinks refuse checkpoint recovery) — the returned
    frame then reads the cumulative sink directory. The warm-up seed set
    is built once before the run and released after it."""
    seeds = build_seed_set(prior_output, config, now_ts)
    try:
        if exact_processing_ttl:
            return run_ttl_dedup_bounded(
                spark,
                source_dir,
                checkpoint_dir,
                ttl_ms=config.dedup_window_ms,
                seed_digests=seeds,
                glob_filter=glob_filter,
                ignored=config.ignored_properties,
            )
        query, name = _start_watermark_dedup_query(
            spark,
            config,
            source_dir,
            checkpoint_dir,
            seeds=seeds,
            glob_filter=glob_filter,
            available_now=True,
            output_dir=output_dir,
        )
        query.awaitTermination()
    finally:
        # the returned frame reads the sink, never the seeds
        if seeds is not None:
            seeds.unpersist()
    if output_dir:
        return spark.read.parquet(output_dir)
    return spark.table(name)


def run_gated_service_bounded(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    checkpoint_dir: str | None = None,
    glob_filter: str | None = None,
    exact_processing_ttl: bool = False,
) -> tuple[DataFrame, DataFrame, int]:
    """Bounded run of the DQ-gated service composition: the ingest stream is
    split by the row-local gate — clean rows flow through the TTL dedup,
    dirty rows land in quarantine with their violated constraints. Returns
    ``(dedup_output, quarantine, n_clean)`` where ``n_clean`` is the
    gate-passing ingest count, so ``dropped = n_clean − forwarded`` on both
    kernels. Default kernel = JVM watermark TTL (``start_dedup_service``
    rationale); ``exact_processing_ttl=True`` opts into the exact
    GroupState kernel, whose output additionally carries per-digest
    ``n_dropped`` counter rows."""
    if not exact_processing_ttl:
        return run_gated_service_watermark_bounded(
            spark, config, source_dir, glob_filter=glob_filter
        )
    import tempfile

    predicate = F.size(message_dq_violations()) == 0
    # start the stateless quarantine pass FIRST (async) so it overlaps the
    # stateful dedup run instead of paying a second sequential source scan
    q_query, q_name = start_quarantine_stream(
        spark, source_dir, glob_filter=glob_filter, available_now=True
    )
    out = run_ttl_dedup_bounded(
        spark,
        source_dir,
        checkpoint_dir or tempfile.mkdtemp("gated_ckpt"),
        ttl_ms=config.dedup_window_ms,
        glob_filter=glob_filter,
        ignored=config.ignored_properties,
        message_predicate=predicate,
    )
    q_query.awaitTermination()
    forwarded = out.filter(F.col("message_id").isNotNull()).count()
    dropped = out.agg(F.sum("n_dropped")).collect()[0][0] or 0
    return out, spark.table(q_name), int(forwarded + dropped)


def service_counters_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: end-to-end counters of the DQ-gated service over the
    events stream — the reference's telemetry loop (op #13: forwarded /
    dropped per interval, ``src/deduplication.ts:80-95``) extended with the
    gate's quarantine lane, as one long-form (metric, value) frame.

    The three counts reconcile by construction:
    ``forwarded + dropped + quarantined == total input rows`` — the pytest
    twin asserts exactly that on an injected-dirty corpus; here the driver
    value-checks the clean corpus against the SQL oracle (dirty = 0 rows,
    forwarded = distinct digests, dropped = clean − distinct).

    Scale: the counters are aggregates OVER the bounded run's outputs
    (micro-batch sinks); the scalar collects are three counts — no
    row-level driver traffic.

    This entry deliberately opts into the EXACT processing-time-TTL kernel
    (``exact_processing_ttl=True``) so the driver keeps checking that
    kernel's composed path; the default-kernel twin is
    ``service_counters_watermark``."""
    out, quarantine, _n_clean = run_gated_service_bounded(
        spark,
        EngineConfig(),
        sf_dir,
        glob_filter="events.parquet",
        exact_processing_ttl=True,
    )
    forwarded = out.filter(F.col("message_id").isNotNull()).count()
    dropped = out.agg(F.sum("n_dropped")).collect()[0][0] or 0
    quarantined = quarantine.count()
    return spark.createDataFrame(
        [
            ("forwarded", int(forwarded)),
            ("dropped_duplicates", int(dropped)),
            ("quarantined", int(quarantined)),
        ],
        "metric string, value long",
    )


def run_gated_service_watermark_bounded(
    spark: SparkSession,
    config: EngineConfig,
    source_dir: str,
    glob_filter: str | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Bounded run of the DQ-gated service composed over the JVM-only
    watermark TTL kernel (``dedup_stream_ingest_ttl``) — the deployment
    shape for services that accept ingest-clock TTL semantics and want the
    per-group Python cost of the exact GroupState kernel gone (measured
    ~3× cheaper on the same data, see BASELINE.md).

    Same gate → dedup order as ``run_gated_service_bounded``: dirty rows
    divert to quarantine (started async FIRST so the stateless pass
    overlaps the stateful run), clean rows dedup on the content digest.
    This kernel suppresses duplicates inside the JVM without emitting
    per-digest drop counters, so the dropped count derives from the op-#13
    ``observe()`` counter on the gated ingest stream (``n_clean`` −
    forwarded) instead of summed ``n_dropped`` rows. A live service that
    additionally needs warm-up seeding (op #11) composes the same pieces
    through ``start_dedup_service(prior_output=..., dq_gate=True)``, which
    anti-joins the live stream against the seed set built once at start.

    Returns ``(dedup_output, quarantine, n_clean)``."""
    import uuid

    from .streaming.dedup import dedup_stream_ingest_ttl
    from .streaming.source import events_message_stream

    q_query, q_name = start_quarantine_stream(
        spark, source_dir, glob_filter=glob_filter, available_now=True
    )
    messages = events_message_stream(spark, source_dir, glob_filter=glob_filter)
    clean = messages.filter(F.size(message_dq_violations()) == 0).observe(
        "gate", F.count(F.lit(1)).alias("n_clean")
    )
    deduped = dedup_stream_ingest_ttl(
        clean, config.dedup_window_ms, config.ignored_properties
    )
    name = f"wm_gated_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    n_clean = int(observed_counters(query, "gate").get("n_clean", 0))
    q_query.awaitTermination()
    return spark.table(name), spark.table(q_name), n_clean


def service_counters_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the same composed gate→dedup telemetry as
    ``service_counters_composed``, with the dedup stage on the watermark
    TTL kernel — the service DEFAULT path since round 9
    (``start_dedup_service`` kernel rationale) — forwarded /
    dropped_duplicates / quarantined reconcile to
    the input row count by construction (dropped = observed clean ingest −
    forwarded; the pytest twin asserts the reconciliation on an
    injected-dirty corpus). Shares the composed entry's exact SQL oracle:
    both kernels forward exactly one row per distinct clean digest on a
    bounded single-batch run."""
    out, quarantine, n_clean = run_gated_service_watermark_bounded(
        spark, EngineConfig(), sf_dir, glob_filter="events.parquet"
    )
    forwarded = out.count()
    quarantined = quarantine.count()
    return spark.createDataFrame(
        [
            ("forwarded", int(forwarded)),
            ("dropped_duplicates", int(n_clean - forwarded)),
            ("quarantined", int(quarantined)),
        ],
        "metric string, value long",
    )


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
    "service_counters_composed": _service_counters_oracle(),
    # the watermark-kernel composition forwards exactly one row per
    # distinct clean digest on a bounded single-batch run — same counter
    # arithmetic, same oracle (a shared-SQL twin, like the rollup pair)
    "service_counters_watermark": _service_counters_oracle(),
}
