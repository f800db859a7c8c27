"""Structured Streaming dedup — the reference's steady-state loop, Spark-first.

Reference (``src/deduplication.ts:97-160``): per message → content hash →
TTL-set membership check → forward first occurrence with ``origin``
provenance → count forwarded/dropped per minute. The dataflow is source →
digest (``message_digest``) → TTL kernel → sink, with two TTL semantics:

1. ``dedup_stream`` / ``dedup_stream_ingest_ttl`` — the built-in JVM
   paths: ``withWatermark`` + ``dropDuplicatesWithinWatermark([digest])``
   (SURVEY.md §2.1.3: the watermark delay plays the TTL role — documented
   deviation §7.4.2); ``dedup_stream`` adds ``observe()`` counters
   (reference op #13).
2. the exact kernel (``_exact_ttl_dedup``): first occurrence per digest
   wins and the TTL runs from insertion on the processing-time clock, the
   reference's ObliviousSet (``src/deduplication.ts:76``). It is
   ``applyInPandasWithState`` over ``TTL_KEY_GROUPS`` fixed digest hash
   buckets (``_make_bucketed_ttl_kernel``). Its **warm-up** (reference op
   #11) streams seed digests from a batch scan of prior output through the
   same kernel, mirroring ``buildUpCache`` (``src/cacheBuilding.ts:65``);
   ``service.start_dedup_service(prior_output=..., exact_processing_ttl=True)``
   runs it.

Entry points that start queries: ``run_stream_dedup_bounded`` (the
event-time ``dedup_stream`` pipeline, drained and stopped) and
``start_ttl_dedup`` (the exact kernel alone on a memory sink, for tests
and the benchmark's per-layer prefix). The service (``service.py``)
composes both kernels from the frame-returning functions here and is
the production entry. Every query in this dataflow
is written by ``source._write_stream``, the package's one writer, and a
bounded run ends in ``source.drain``: ``processAllAvailable`` then
``stop``.

Scale: state is hash-partitioned by digest across executors — uniformly
distributed keys (crypto hash), no skew. The default state store is
Spark's HDFS-backed provider: state in executor memory, one delta file
per state partition per batch. State larger than executor memory opts
into the RocksDB provider with changelog checkpointing
(``spark.sql.streaming.stateStore.providerClass``; identical output under
both, tests/test_state_store_rocksdb.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.canonical import canonical_json, filter_ignored_keys
from .source import _write_stream, events_message_stream, run_bounded

DEFAULT_DEDUP_WINDOW = "1 hour"  # reference default TTL 3600 s (config.ts:133)


def message_digest(ignored=(), algo: str = "sha256") -> Column:
    """Content digest of a message-schema row over payload bytes +
    canonical-JSON bytes of (properties − ignored) — reference op #6
    (``src/deduplication.ts:26-39``).

    ``algo="sha256"`` (default): the sanctioned hash substitution — JVM-side,
    codegen'd, DuckDB-reproducible. ``algo="blake2b512"``: the reference's
    EXACT algorithm for byte-for-byte digest interop in a mixed fleet
    (engine instances sharing an output topic with original-service
    instances) — an Arrow-batched pandas_udf, the documented escape hatch
    of VERDICT "what's missing" #3; same input bytes, so the two algos
    dedup identically (cross-pinned in tests/test_hashing.py)."""
    props = filter_ignored_keys(F.col("properties"), ignored)
    to_hash = F.concat(F.col("value"), F.encode(canonical_json(props), "UTF-8"))
    if algo == "blake2b512":
        from ..functions.hashing import blake2b512_hex

        return blake2b512_hex(to_hash)
    if algo != "sha256":
        raise ValueError(f"unsupported digest algo: {algo!r}")
    return F.sha2(to_hash, 256)


def dedup_stream(
    messages: DataFrame,
    dedup_window: str = DEFAULT_DEDUP_WINDOW,
    ignored=(),
) -> DataFrame:
    """Built-in streaming dedup pipeline over a message-schema stream.

    digest → watermark(dedup_window) → dropDuplicatesWithinWatermark →
    ``origin`` enrichment (op #8: the forwarded message carries the JSON
    digest array, ``src/deduplication.ts:122-129``) → observe() counters
    (op #13 forwarded count; dropped rows are the input-output delta).
    """
    return (
        messages.withColumn("digest", message_digest(ignored))
        .withWatermark("event_ts", dedup_window)
        .dropDuplicatesWithinWatermark(["digest"])
        .withColumn(
            "properties",
            F.map_concat(
                "properties",
                F.create_map(
                    F.lit("origin"), F.to_json(F.array(F.col("digest")))
                ),
            ),
        )
        .observe("dedup", F.count(F.lit(1)).alias("n_forwarded"))
    )


def run_stream_dedup_bounded(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
    glob_filter: str | None = None,
) -> DataFrame:
    """Bounded end-to-end run for the harness: stream the source events
    through the ``dedup_stream`` pipeline until the source is drained,
    stop, then return the cumulative output as a batch DataFrame.

    Sink selection: a caller that passes ``checkpoint_dir`` (restart tests,
    resumable backfills) gets the parquet file sink at ``output_dir``, by
    default ``<checkpoint_dir>_out`` — the memory sink cannot recover from
    a checkpoint. ``output_dir`` alone keeps its checkpoint beside it, at
    ``<output_dir>_ckpt``, so a second run on it resumes. A one-shot run
    (neither) uses the memory sink: identical pipeline and state
    semantics, none of the file-commit cost (measured: 7.6 s → 3.2 s at
    sf0.1 — the parquet sink was over half the entry's wall time and
    proves nothing the restart tests don't already pin). The run goes
    through ``source.run_bounded``.

    (The driver checks the deterministic projection of this output —
    digest/topic/canonical properties — against BOUNDED_STREAM_DEDUP_ORACLE;
    which duplicate ROW survives is engine-arbitrary, so message_id/event_ts
    stay outside the value comparison. Batch parity of the same semantics is
    ``dedup_exact_keep_first``.)"""
    messages = events_message_stream(spark, source_dir, glob_filter=glob_filter)
    deduped = dedup_stream(messages).select(
        "message_id", "topic", "digest", "event_ts", "properties"
    )
    if checkpoint_dir:
        # output co-located with the checkpoint so a restart appends to the
        # same sink — mirroring the reference's single output topic
        output_dir = output_dir or f"{checkpoint_dir}_out"
    elif output_dir:
        checkpoint_dir = f"{output_dir.rstrip('/')}_ckpt"
    return run_bounded(deduped, "stream_dedup", output_dir, checkpoint_dir)


# ─── exact-TTL path ─────────────────────────────────────────────────────────
#
# One kernel carries the reference's ObliviousSet semantics (TTL from
# insertion on the processing-time clock, ``src/deduplication.ts:76``):
# ``applyInPandasWithState`` over a fixed number of digest hash buckets,
# each bucket's {digest: first_seen_ms} map held in GroupState
# (``_make_bucketed_ttl_kernel``). Warm-up seeding (reference op #11)
# replays the seed digests as messages *through the stream itself* — what
# the reference does too: it re-reads its own output topic through the
# same message path (``src/cacheBuilding.ts:141-153``).

#: kernel-boundary schema: event time crosses the JVM↔Python boundary as
#: LONG epoch-micros, not timestamp. ``unix_micros`` is a strictly monotone
#: bijection on timestamp[us], so every min/sort the kernel performs on
#: ``event_us`` picks the identical winner the timestamp column would, and
#: ``timestamp_micros`` restores the exact value JVM-side after the
#: stateful op. Why: ApplyInPandasWithState converts every data column
#: pandas↔Arrow ONCE PER GROUP, and tz-aware timestamp conversion is the
#: most expensive column kind — with ~1 group per row (crypto digests),
#: longs cut the bounded sf0.1 run 15.1 s → 10.0 s (−34%, measured in
#: scratch/ttl_breakdown.py; bit-identical output).
_TTL_KERNEL_SCHEMA = (
    "digest string, message_id string, event_us bigint, n_dropped bigint"
)
SEED_MESSAGE_ID = "__seed__"

#: Key groups of the exact kernel: a digest's group is
#: ``pmod(xxhash64(digest), TTL_KEY_GROUPS)``. The map is a constant, so it
#: never depends on parallelism and no restart or rescale can remap a
#: digest away from its state (the fixed key-group design of "Towards
#: Fine-Grained Scalability for Stateful Stream Processing Systems", ICDE
#: 2025). Why 64: each kernel call handles one group, and a micro-batch of
#: 10k crypto-uniform digests touches every group whatever the count, so
#: each extra group is one more Python call per batch with less work in
#: it. On the service benchmark's ``exact_ttl`` workload (4 cores,
#: ``local[3]``, seeds 2-4) 256 groups cost 9% of msg/s against 64 and
#: 1024 groups cost 47%. What the constant leaves: a group's map, which
#: purge-on-write keeps to the digests still inside the TTL window, is
#: round-tripped whole through the Python worker on every batch that
#: touches the group, about ``live_digests × 100 B / 64`` (1.6 MB per
#: million live digests).
TTL_KEY_GROUPS = 64

#: sharded-ObliviousSet state: the bucket's {digest → first_seen_ms} map as
#: two parallel arrays (GroupState rows cannot hold a MapType directly)
_BUCKET_STATE_SCHEMA = "digests array<string>, first_seen_ms array<long>"


def _make_bucketed_ttl_kernel(ttl_ms: int):
    """The exact-TTL dedup kernel: a sharded ObliviousSet on GroupState,
    keyed by the digest's key group (``TTL_KEY_GROUPS``) with the group's
    {digest: first_seen_ms} map as state.

    Per digest: the first occurrence wins (by (event_us, message_id)), and
    the TTL runs from insertion on the processing-time clock. Expiry is
    checked against the stored stamp on every arrival: a duplicate
    arriving just after expiry is re-admitted, not dropped. Duplicates do
    NOT extend the TTL (the reference's set only stamps insertion time,
    ``src/deduplication.ts:76``). Seed rows
    (message_id == SEED_MESSAGE_ID) insert state without emitting — the
    warm-up path. Duplicates whose first occurrence is in a PRIOR batch
    (or a warm-up seed) still produce a counter-only row — ``message_id``
    NULL, ``n_dropped`` = the batch's duplicate count — so dropped totals
    match the reference's ``nRecentDropped``
    (``src/deduplication.ts:80-95``); consumers of the message stream
    filter ``message_id IS NOT NULL``. The emitted row set is invariant to
    the group count: tests/test_round14_opt.py replays batches against a
    one-digest-per-group reference model (tests/ttl_reference.py).

    Cost model: ApplyInPandasWithState makes one kernel call per GROUP,
    each with its own Arrow↔pandas conversion and state round trip, and
    keyed by digest, crypto digests would give ~1 group per row. Grouping
    by key group pays that per-call cost per group (fewer, larger Python
    calls) while the per-digest work inside is numpy/pandas over the
    whole group. Measured on the warm service (``perfbench`` ``exact_ttl``:
    arrivals of 10k ``replica_fanout`` messages, 4 cores, ``local[3]``,
    39 state tasks over 13 micro-batches, ``session.get_spark``): each
    micro-batch runs 3 state tasks of ~21 groups; a state task runs a
    median 308 ms, of which 84 ms is JVM CPU and 76 ms the kernel body
    (~3.5 ms per call). Much of the rest is the worker's per-group
    conversion; the task also parks ~20 ms creating its state checksum
    file, and the batch's state tasks wait while one of them compiles the
    two state (de)serializer classes, which are compiled again every
    micro-batch.

    State GC is purge-on-write, the reference's lazy purge (its
    ``oblivious-set`` dependency, ``package.json:51``, drops expired
    entries after a write, never on an idle timer): whenever the kernel
    writes a group's state it drops every expired entry. Semantically
    free — an expired entry already behaves exactly like an absent one
    (``already`` is False, the digest is re-admitted and re-stamped), so
    removing it changes no emitted row, ever (pinned in
    tests/test_round15_opt.py). A group that traffic skips keeps only the
    digests that were live at its last write, and there are at most
    ``TTL_KEY_GROUPS`` state rows."""

    def kernel(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        import numpy as np

        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        now_ms = state.getCurrentProcessingTimeMs()
        smap: dict = {}
        if state.exists:
            ds, fs = state.get
            smap = dict(zip(ds, fs))
        rows = pd.concat(batches) if len(batches) > 1 else batches[0]
        seed_mask = rows["message_id"].to_numpy() == SEED_MESSAGE_ID
        seeds = set(rows["digest"].to_numpy()[seed_mask])
        live = rows[~seed_mask] if seed_mask.any() else rows
        out_digest: list = []
        out_mid: list = []
        out_us: list = []
        out_nd: list = []
        touched: dict = {}  # digests whose first_seen stamps to now_ms
        if len(live):
            # identical winner pick to the per-digest kernel: long micros
            # sort identically to the timestamps they encode, NaN (null
            # event time) sorts last, message_id breaks ties
            live = live.sort_values(["digest", "event_us", "message_id"])
            dvals = live["digest"].to_numpy()
            uniq, starts, counts = np.unique(
                dvals, return_index=True, return_counts=True
            )
            mids = live["message_id"].to_numpy()
            uss = live["event_us"].to_numpy()
            for d, i0, n_live in zip(uniq, starts, counts):
                prior = smap.get(d)
                already = prior is not None and (now_ms - prior) < ttl_ms
                if not already:
                    touched[d] = now_ms
                if already or d in seeds:
                    out_digest.append(d)
                    out_mid.append(None)
                    out_us.append(None)
                    out_nd.append(int(n_live))
                else:
                    v = uss[i0]
                    out_digest.append(d)
                    out_mid.append(mids[i0])
                    out_us.append(None if pd.isna(v) else int(v))
                    out_nd.append(int(n_live) - 1)
        for d in seeds:
            if d in touched:
                continue  # already stamped via its live rows
            prior = smap.get(d)
            if prior is None or (now_ms - prior) >= ttl_ms:
                touched[d] = now_ms
        if touched:
            smap.update(touched)
            if len(smap) > len(touched):
                # purge-on-write: entries outside the TTL window behave
                # exactly like absent ones (see docstring), so dropping
                # them here changes no output while keeping the state
                # round-trip proportional to LIVE digests, not total
                # digests ever seen
                smap = {
                    d: f for d, f in smap.items() if (now_ms - f) < ttl_ms
                }
            state.update((list(smap.keys()), list(smap.values())))
        if out_digest:
            yield pd.DataFrame(
                {
                    "digest": out_digest,
                    "message_id": out_mid,
                    # nullable Int64: counter rows carry NULL event time
                    "event_us": pd.array(out_us, dtype="Int64"),
                    "n_dropped": out_nd,
                }
            )

    return kernel


def start_ttl_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ttl_ms: int = 3_600_000,
    glob_filter: str | None = None,
    ignored: tuple[str, ...] = (),
    max_files_per_trigger: int | None = None,
):
    """Start the exact-TTL dedup (``_exact_ttl_dedup``) alone as a live
    streaming query; returns ``(StreamingQuery, output_table_name)``
    (memory sink). The memory sink keeps every row on the driver, so this
    is for tests and measurement; the production entry, with warm-up from
    prior output, is ``service.start_dedup_service(...,
    exact_processing_ttl=True)``.

    Restart: the sink is a memory sink, which cannot recover from a
    checkpoint, so a second start on the same ``checkpoint_dir`` fails
    with ``AnalysisException`` instead of resuming
    (tests/test_streaming.py).

    ``max_files_per_trigger`` is the admission-control cap (the reference
    bounds its warm-up reader with a 10-message receive queue,
    ``src/config.ts:231-235``; the file-source analog is rate-limiting
    files per micro-batch so a backlog replay is processed in bounded
    slices instead of one executor-memory-sized batch). Dedup output is
    invariant to the batch split — pinned in tests/test_admission.py.

    ``ignored`` is the reference's ``DEDUPLICATION_IGNORED_PROPERTIES``
    projection (op #4) applied to the hash input.
    """
    messages = events_message_stream(
        spark,
        source_dir,
        glob_filter=glob_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    deduped = _exact_ttl_dedup(messages, ttl_ms, ignored=ignored)
    return _write_stream(deduped, "ttl_dedup", checkpoint_dir=checkpoint_dir)


def _exact_ttl_dedup(
    messages: DataFrame,
    ttl_ms: int,
    seeds: DataFrame | None = None,
    ignored: tuple[str, ...] = (),
    seed_dir: str | None = None,
) -> DataFrame:
    """The exact-TTL kernel over a message-schema stream, as a frame of
    ``digest, message_id, event_ts, n_dropped`` rows
    (``_make_bucketed_ttl_kernel``) on ``applyInPandasWithState``, grouped
    by ``pmod(xxhash64(digest), TTL_KEY_GROUPS)``. The key-group count is
    a constant, so a digest's group never depends on the session's
    parallelism.

    ``seeds`` (a batch DataFrame with a ``digest`` column) replays
    the reference's warm-up (op #11): those digests start out "seen" and
    their live occurrences are suppressed. They are written as seed
    *messages* into a side source and streamed through the same dedup
    kernel — exactly how the reference seeds its cache by re-reading its
    own output topic (``src/cacheBuilding.ts:141-153``). That side source
    is the directory ``seed_dir`` (overwritten), required with
    ``seeds``; the caller owns it and removes it once the query has
    stopped."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = messages.sparkSession
    # event time crosses the Python boundary as epoch-micros longs — see
    # _TTL_KERNEL_SCHEMA for the rationale and the equivalence argument
    keyed = messages.withColumn("digest", message_digest(ignored)).select(
        "digest", "message_id", F.unix_micros("event_ts").alias("event_us")
    )
    if seeds is not None:
        from ..sources.retry import with_warmup_retries

        # the warm-up scan may race a concurrent writer's commit on the
        # output table; retry with the reference's backoff policy
        # (src/cacheBuilding.ts:90-131) rather than failing startup on
        # the first transient error
        with_warmup_retries(
            lambda: seeds.select(
                F.col("digest").cast("string").alias("digest"),
                F.lit(SEED_MESSAGE_ID).alias("message_id"),
                F.lit(0).cast("long").alias("event_us"),
            )
            .write.mode("overwrite")
            .parquet(seed_dir)
        )
        seed_stream = (
            spark.readStream.schema(
                "digest string, message_id string, event_us long"
            ).parquet(seed_dir)
        )
        keyed = seed_stream.unionByName(keyed)
    # sharded ObliviousSet (see _make_bucketed_ttl_kernel): group by a
    # fixed hash bucket of the digest so the per-group Python fixed cost
    # is paid per bucket, not per crypto-unique digest. xxhash64 and the
    # constant TTL_KEY_GROUPS map a digest to the same bucket in every
    # batch and every session.
    deduped = (
        keyed.withColumn(
            "bucket", F.pmod(F.xxhash64("digest"), F.lit(TTL_KEY_GROUPS))
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            _make_bucketed_ttl_kernel(ttl_ms),
            outputStructType=_TTL_KERNEL_SCHEMA,
            stateStructType=_BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # restore the timestamp JVM-side (stateless projection after the
    # stateful op): value-identical round trip through epoch-micros
    return deduped.select(
        "digest",
        "message_id",
        F.timestamp_micros("event_us").alias("event_ts"),
        "n_dropped",
    )


# ─── JVM-only ingest-clock TTL approximation ────────────────────────────────


def dedup_stream_ingest_ttl(
    messages: DataFrame,
    ttl_ms: int = 3_600_000,
    ignored=(),
    ingest_ts_col: str | None = None,
    exclude_digests: DataFrame | None = None,
) -> DataFrame:
    """DEFAULT TTL kernel (the service runs this one unless
    ``exact_processing_ttl=True`` opts into the GroupState kernel): the
    reference's processing-time TTL (``src/deduplication.ts:76``)
    approximated ENTIRELY JVM-side — no per-group Python invocation, no
    Arrow boundary.

    Each row is stamped with an ingest timestamp (micro-batch processing
    time via ``current_timestamp()`` by default; tests inject a synthetic
    column to replay arrival-time scenarios deterministically), that clock
    is watermarked by the TTL, and ``dropDuplicatesWithinWatermark`` keys on
    the content digest.

    Semantics vs the exact GroupState kernel (``_make_bucketed_ttl_kernel``):

    * a duplicate arriving within ``ttl_ms`` of its first occurrence on the
      ingest clock is suppressed — guaranteed, identical to ObliviousSet;
    * state eviction (hence re-admission of content re-arriving after
      expiry) happens when the watermark passes first_seen + ttl; the
      watermark trails the max observed ingest time by ``ttl_ms`` and only
      advances at batch boundaries, so suppression can extend PAST the TTL
      by the watermark lag. Late eviction, never early re-admission — the
      same direction the reference itself errs (its ``oblivious-set``
      dependency, ``package.json:51``, purges lazily on its next cleanup
      cycle; the reference pins the cache's identity/TTL behavior in
      ``src/deduplication.test.ts:249-275``). The
      cross-pin against the exact kernel on expiry fixtures lives in
      tests/test_streaming.py;
    * eviction runs at the END of a batch. With no-data micro-batches
      disabled — the service starts its query that way, one batch per
      arrival — an expired digest is evicted at the end of the next DATA
      batch rather than in an eviction-only batch, so a re-arrival inside
      that next batch is still suppressed: eviction is late by at most one
      more batch, in the same direction as above.

    ``exclude_digests`` (a batch DataFrame with a ``digest`` column) is the
    warm-up seeding composition for this kernel (op #11): a stream-static
    LEFT ANTI join suppresses live occurrences of every seeded digest with
    NO ordering caveat — the reference's "warm-up completes strictly
    before live consumption" happens-before edge
    (``src/deduplication.ts:75-79``). The join is a shuffled hash join
    placed after the watermark, so it runs in the stateful operator's
    stage: pass the seed set cached hash-partitioned by ``digest`` at the
    state width (the service's ``build_seed_set``) and the live rows'
    exchange is the one the state needs, each state task builds its hash
    table from its own cached seed partition, and a micro-batch is one
    job with one exchange; nothing is collected to the driver or
    broadcast. A lazy or differently partitioned frame still gives the
    same output, but every batch re-runs its plan or shuffles it. Since
    the watermark precedes the join, seeded replays advance it like any
    other row; with the ingest clock that is only time passing. Semantic
    deviation vs the exact kernel's seed-message replay: anti-joined seeds
    never expire mid-run (the exact kernel TTLs them out like any state
    row). That errs toward suppression — the same direction as the
    watermark lag above — and a restart re-scans the warm-up window anyway.

    100 TB: all state lives in the JVM state store keyed by the crypto
    digest (uniform, no skew); the seed set is bounded by the cache window
    and stays partitioned beside the state, so neither the driver nor any
    executor holds all of it. This is the
    DEFAULT kernel because it keeps dedup in the JVM: the exact GroupState
    kernel ships every row through a Python worker over Arrow, and on the
    same ``replica_fanout`` traffic ``perfbench/run.py`` measures it at
    13.8k msg/s (arrival p50 0.71 s) against this kernel's 20.1k msg/s
    (0.50 s) — medians of 4 seeds, 4 cores, ``local[3]``, with the
    ``session.get_spark`` worker daemon. Run the
    GroupState kernel only when expiry must be exact to the millisecond on
    the processing clock."""
    ingest = (
        F.col(ingest_ts_col) if ingest_ts_col else F.current_timestamp()
    )
    keyed = (
        messages.withColumn("digest", message_digest(ignored))
        .withColumn("ingest_ts", ingest)
        .withWatermark("ingest_ts", f"{int(ttl_ms)} milliseconds")
    )
    if exclude_digests is not None:
        keyed = keyed.join(
            exclude_digests.select("digest").hint("shuffle_hash"),
            "digest",
            "left_anti",
        )
    return keyed.dropDuplicatesWithinWatermark(["digest"])


#: DuckDB oracle for the BOUNDED TTL-dedup harness run over the driver's
#: events table. Valid because the bounded run is deterministic: one source
#: file → one micro-batch (file source with no maxFilesPerTrigger cap), so
#: every duplicate is co-batched with its first occurrence — the kernel
#: emits exactly one row per distinct digest, winner = min (event_ts,
#: message_id-as-string), n_dropped = group size − 1, and no counter-only
#: rows exist. The digest is re-derived in SQL via the shared
#: ``duck_message_digest`` fragment (payload JSON + canonical props). A
#: processing-time TTL (3 600 s) cannot expire inside a seconds-long run,
#: so expiry never shapes the bounded result.
from ..operators._oracle_fragments import duck_message_digest as _duck_msg_digest

BOUNDED_TTL_ORACLE = f"""
    WITH m AS (
      SELECT {_duck_msg_digest()} AS digest,
             CAST(event_id AS VARCHAR) AS message_id,
             ts AS event_ts
      FROM events
    ),
    r AS (
      SELECT digest, message_id, event_ts,
             row_number() OVER (PARTITION BY digest
                                ORDER BY event_ts, message_id) AS rn,
             count(*) OVER (PARTITION BY digest) AS n
      FROM m
    )
    SELECT digest, message_id, event_ts, CAST(n - 1 AS BIGINT) AS n_dropped
    FROM r WHERE rn = 1
"""


#: DuckDB oracle for the deterministic PROJECTION of the bounded built-in
#: stream-dedup harness (__spark_entry__._stream_dedup_query): one row per
#: distinct digest with its topic and origin-enriched canonical properties.
#: (Which duplicate ROW survives dropDuplicatesWithinWatermark is
#: engine-arbitrary, so message_id/event_ts are excluded at the boundary;
#: the TTL twin value-checks a deterministic winner.) Canonical properties
#: are re-derived from the test corpus's single-key props plus the
#: engine-appended origin entry, JSON-escaped the same way.
BOUNDED_STREAM_DEDUP_ORACLE = f"""
    WITH m AS (
      SELECT {_duck_msg_digest()} AS digest,
             'persistent://events/' || event_type AS topic,
             json_extract_string(props, '$.k') AS k_val
      FROM events
    )
    SELECT DISTINCT digest, topic,
           '{{"k":"' || k_val || '","origin":"[\\"' || digest || '\\"]"}}'
             AS properties
    FROM m
"""


#: Oracle for the bounded watermark-TTL harness: a single-batch run cannot
#: expire anything (one batch ⇒ one ingest stamp ⇒ watermark never passes
#: it), so the output is exactly one row per distinct digest — the same
#: distinct-digest contract as the stream-dedup oracle, minus the
#: properties enrichment this kernel does not perform.
BOUNDED_WM_TTL_ORACLE = f"""
    SELECT DISTINCT {_duck_msg_digest()} AS digest,
           'persistent://events/' || event_type AS topic
    FROM events
"""
