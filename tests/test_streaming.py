"""Streaming dedup semantics (FIXTURES.md §A.4 recipe, SURVEY.md §5.2.3):

* within-window duplicates dropped, first occurrence kept;
* checkpoint restart: state survives — duplicates arriving in a later run
  are still dropped (the engine's answer to the reference's warm-up, op #11);
* exact-TTL path: processing-time TTL state + seed-message warm-up.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.streaming.dedup import (
    run_stream_dedup_bounded,
    run_ttl_dedup_bounded,
)

NS = 1_000_000_000
BASE_TS = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z in epoch-ns


def _events_pdf(rows):
    return pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


def _write_batch(spark, path, rows):
    sdf = spark.createDataFrame(
        _events_pdf(rows),
        schema="event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    sdf.coalesce(1).write.mode("append").parquet(path)


# batch 1: three unique messages (a, b, c), plus an in-batch duplicate of a
BATCH1 = [
    (1, BASE_TS + 0 * NS, 1, "click", 1.0, '{"k": 1}'),
    (2, BASE_TS + 60 * NS, 2, "view", 2.0, '{"k": 2}'),
    (3, BASE_TS + 120 * NS, 1, "click", 1.0, '{"k": 1}'),  # dup of event 1
    (4, BASE_TS + 180 * NS, 3, "purchase", 3.0, '{"k": 3}'),
]
# batch 2 (arrives after restart): duplicate of b within window + one new
BATCH2 = [
    (5, BASE_TS + 240 * NS, 2, "view", 2.0, '{"k": 2}'),  # dup of event 2
    (6, BASE_TS + 300 * NS, 4, "signup", 4.0, '{"k": 4}'),
]


@pytest.fixture()
def source_dir(tmp_path, spark):
    path = str(tmp_path / "stream_src")
    _write_batch(spark, path, BATCH1)
    return path


def test_within_window_duplicates_dropped(spark, source_dir, tmp_path):
    result = run_stream_dedup_bounded(
        spark, source_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    rows = {r["message_id"] for r in result.collect()}
    # first occurrences kept, in-batch duplicate (3) dropped
    assert rows == {"1", "2", "4"}


def test_origin_enrichment(spark, source_dir, tmp_path):
    result = run_stream_dedup_bounded(
        spark, source_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    row = result.filter(F.col("message_id") == "1").first()
    origin = row["properties"]["origin"]
    assert origin == f'["{row["digest"]}"]'


def test_checkpoint_restart_keeps_state(spark, source_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    first = run_stream_dedup_bounded(spark, source_dir, checkpoint_dir=ckpt)
    assert {r["message_id"] for r in first.collect()} == {"1", "2", "4"}

    # "restart": new files arrive, same checkpoint -> state must survive
    _write_batch(spark, source_dir, BATCH2)
    second = run_stream_dedup_bounded(spark, source_dir, checkpoint_dir=ckpt)
    rows = {r["message_id"] for r in second.collect()}
    # the sink is cumulative (like the reference's output topic); the restart
    # must add ONLY the genuinely-new message — the duplicate of message 2
    # is dropped across the restart because dedup state survives in the
    # checkpoint (reference needs the warm-up re-scan for this, op #11 —
    # SURVEY.md §7.4.3)
    assert rows == {"1", "2", "4", "6"}


def test_ttl_dedup_exact_path(spark, source_dir, tmp_path):
    """The exact kernel forwards each digest's first occurrence and counts
    its co-batched duplicates in n_dropped."""
    result = run_ttl_dedup_bounded(
        spark, source_dir, checkpoint_dir=str(tmp_path / "ckpt_ttl")
    )
    out = {r["message_id"]: r["n_dropped"] for r in result.collect()}
    assert set(out) == {"1", "2", "4"}
    assert out["1"] == 1  # its duplicate (3) was counted as dropped
    assert out["2"] == 0


def test_ttl_dedup_warmup_seed(spark, source_dir, tmp_path):
    # warm-up: pretend digests of messages 1/3 were already forwarded before
    # the restart — their live occurrences must be suppressed entirely
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    batch = spark.createDataFrame(
        _events_pdf(BATCH1),
        schema="event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    # seed with the digest of event 1 only
    seed = (
        batch.filter(F.col("event_id") == 1)
        .select(
            F.encode(F.to_json(F.struct("event_type", "value")), "UTF-8").alias(
                "value"
            ),
            F.from_json("props", "map<string,string>").alias("properties"),
        )
        .withColumn("digest", message_digest())
        .select("digest")
    )
    result = run_ttl_dedup_bounded(
        spark,
        source_dir,
        checkpoint_dir=str(tmp_path / "ckpt_seed"),
        seed_digests=seed,
    )
    forwarded = {
        r["message_id"] for r in result.collect() if r["message_id"] is not None
    }
    # events 1 and 3 share the seeded digest -> both suppressed
    assert forwarded == {"2", "4"}
    # ...but not silently: their drops surface as a counter-only row
    counters = [r for r in result.collect() if r["message_id"] is None]
    assert sum(r["n_dropped"] for r in counters) == 2


def test_ttl_first_wins_across_arrow_chunks(spark, tmp_path):
    """A group's rows can arrive in SEVERAL Arrow chunks; the exact kernel
    must pick the global (event_ts, message_id) minimum, not chunk 1's
    local one. Forced with maxRecordsPerBatch=1 and the earliest event
    written last."""
    src = str(tmp_path / "chunk_src")
    rows = [
        (11, BASE_TS + 500 * NS, 1, "click", 9.0, '{"k": 9}'),
        (12, BASE_TS + 400 * NS, 1, "click", 9.0, '{"k": 9}'),
        (13, BASE_TS + 100 * NS, 1, "click", 9.0, '{"k": 9}'),  # earliest, last
    ]
    _write_batch(spark, src, rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        result = run_ttl_dedup_bounded(
            spark, src, checkpoint_dir=str(tmp_path / "ckpt_chunks")
        )
        out = [r for r in result.collect() if r["message_id"] is not None]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(out) == 1
    assert out[0]["message_id"] == "13"
    assert out[0]["n_dropped"] == 2


def test_stream_static_warmup_flag_batch_parity(spark, sf_dir):
    """Stream-static enrichment: every live message's seen_in_warmup flag
    must equal batch membership of its digest in the warm-up scan."""
    from pulsar_topic_deduplicator_spark.sources.io import messages_view
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest
    from pulsar_topic_deduplicator_spark.streaming.enrich import (
        run_warmup_flagged_bounded,
        warmup_message_digests,
    )

    out = run_warmup_flagged_bounded(spark, sf_dir, glob_filter="events.parquet")
    got = {r["message_id"]: r["seen_in_warmup"] for r in out.collect()}

    warm = {r["digest"] for r in warmup_message_digests(spark, sf_dir).collect()}
    mv = messages_view(spark, sf_dir).withColumn("digest", message_digest())
    want = {r["message_id"]: r["digest"] in warm for r in mv.collect()}
    assert got == want
    assert any(got.values()) and not all(got.values())


def test_later_batch_duplicate_emits_counter_row(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch (first occurrence already
    in state) must not vanish silently: the kernel emits a message_id-less
    counter row so dropped totals match the reference's nRecentDropped."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import start_ttl_dedup

    src = str(tmp_path / "late_src")
    _write_batch(spark, src, BATCH1[:1])  # message 1
    query, name = start_ttl_dedup(
        spark, src, str(tmp_path / "ckpt_late"), ttl_ms=3_600_000
    )
    try:
        query.processAllAvailable()
        first = spark.table(name).collect()
        assert {r["message_id"] for r in first} == {"1"}
        _write_batch(spark, src, BATCH1[2:3])  # event 3 = duplicate of 1
        import time

        deadline = time.time() + 60
        counters = []
        while time.time() < deadline and not counters:
            query.processAllAvailable()
            rows = spark.table(name).collect()
            counters = [r for r in rows if r["message_id"] is None]
            if not counters:
                time.sleep(0.5)  # drain can settle before file discovery
        assert len(counters) == 1
        assert counters[0]["n_dropped"] == 1
        assert counters[0]["digest"] == first[0]["digest"]
    finally:
        query.stop()


def test_ttl_expiry_readmits(spark, tmp_path):
    """ObliviousSet semantics: after the TTL elapses, the same content is
    forwarded again (SURVEY.md §2.1.3)."""
    import time

    from pulsar_topic_deduplicator_spark.streaming.dedup import start_ttl_dedup

    src = str(tmp_path / "ttl_src")
    _write_batch(spark, src, BATCH1[:1])  # just message 1
    query, name = start_ttl_dedup(
        spark, src, str(tmp_path / "ckpt_exp"), ttl_ms=1500
    )
    try:
        query.processAllAvailable()
        assert {r["message_id"] for r in spark.table(name).collect()} == {"1"}
        time.sleep(3.0)  # let the TTL lapse (processing-time clock; margin
        # over the 1.5 s TTL — under heavy load batch timestamps lag)
        _write_batch(spark, src, BATCH1[2:3])  # duplicate content (event 3)
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            rows = {
                r["message_id"]
                for r in spark.table(name).collect()
                if r["message_id"] is not None  # drop-counter rows aside
            }
            if rows == {"1", "3"}:
                break
            time.sleep(0.5)  # file not picked up yet — drain raced discovery
        # duplicate arrived AFTER expiry -> re-admitted as a fresh first
        assert rows == {"1", "3"}
    finally:
        query.stop()


def test_ttl_dedup_restart_fails_loudly(spark, tmp_path):
    """The exact path writes to a memory sink, which cannot recover from a
    checkpoint: a second start on the same checkpoint must raise rather
    than resume with an empty sink, and it must not start a query."""
    from pyspark.errors import AnalysisException

    from pulsar_topic_deduplicator_spark.streaming.dedup import start_ttl_dedup

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "ckpt_restart")
    _write_batch(spark, src, BATCH1)
    query, _name = start_ttl_dedup(spark, src, ckpt)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    n_active = len(spark.streams.active)
    with pytest.raises(AnalysisException, match="recovering from checkpoint"):
        start_ttl_dedup(spark, src, ckpt)
    assert len(spark.streams.active) == n_active


def test_ttl_state_rows_are_the_fixed_key_groups(spark, sf_dir, tmp_path):
    """The exact kernel keeps one state row per key group, and the group
    count is TTL_KEY_GROUPS whatever the shuffle width: the events
    table's digests fill every group at a 5-partition width."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        TTL_KEY_GROUPS,
        start_ttl_dedup,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        query, _name = start_ttl_dedup(
            spark, sf_dir, str(tmp_path / "ckpt_groups"),
            glob_filter="events.parquet",
        )
        try:
            query.processAllAvailable()
            rows_total = max(
                p["stateOperators"][0]["numRowsTotal"]
                for p in query.recentProgress
                if p["stateOperators"]
            )
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows_total == TTL_KEY_GROUPS


def test_stream_windowed_counts_match_batch(spark):
    """Windowed streaming counts (append mode) must equal the batch group-by
    for every watermark-finalized window."""
    from pulsar_topic_deduplicator_spark.sources.io import load_table
    from pulsar_topic_deduplicator_spark.streaming.windows import (
        run_windowed_counts_bounded,
    )

    sf = "/root/testdata/sf0.001"
    streamed = run_windowed_counts_bounded(spark, sf, glob_filter="events.parquet")
    got = {
        (r["w_start"], r["topic"]): r["n_messages"] for r in streamed.collect()
    }
    assert got, "no finalized windows emitted"

    ev = load_table(spark, sf, "events")
    batch = (
        ev.select(
            F.window("ts", "1 hour").alias("w"),
            F.concat(F.lit("persistent://events/"), F.col("event_type")).alias(
                "topic"
            ),
        )
        .groupBy("w", "topic")
        .count()
        .select(F.col("w.start").alias("w_start"), "topic", F.col("count"))
    )
    expected = {(r["w_start"], r["topic"]): r["count"] for r in batch.collect()}
    # every emitted window must match the batch count exactly; the stream may
    # withhold only the windows still above the final watermark
    for key, n in got.items():
        assert expected.get(key) == n, key
    max_ws = max(ws for ws, _ in expected)
    missing = {k for k in expected if k not in got}
    assert all(ws >= max_ws - __import__("datetime").timedelta(hours=3) for ws, _ in missing)


def test_dedup_state_skew_resilience_measured(spark, tmp_path):
    """Skew proof for streaming dedup state (VERDICT r4 item 7). A hot
    CONTENT key cannot skew the state store, for two measured reasons:

    1. all exact duplicates of one message share ONE digest, so a
       duplicate flood adds exactly one state entry — the flood's row mass
       is eliminated by the dedup itself at first touch, and row skew on a
       hot digest equals exact-duplicate mass by construction;
    2. across DISTINCT contents the digest is a crypto hash (sha256), so
       state entries spread uniformly over HashPartitioning(digest) — the
       same hash family streaming state uses for its shuffle — regardless
       of how skewed the business keys (user_id, event_type) are.

    Injected distribution: 5,000 copies of one hot message + 1,000 distinct
    messages ALL sharing one hot business key; measured: the surviving
    state-key set is 1,001 digests whose per-partition histogram is
    near-uniform (max ≤ 2× mean over 32 partitions).
    """
    from pyspark.sql import functions as F

    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    hot = [
        (10_000 + i, BASE_TS + i * NS, 7, "hot", -1.0, '{"k": -1}')
        for i in range(5000)
    ]
    distinct = [
        (20_000 + i, BASE_TS + i * NS, 7, "hot", float(i), f'{{"k": {i}}}')
        for i in range(1000)
    ]
    src = str(tmp_path / "skew_src")
    _write_batch(spark, src, hot + distinct)
    result = run_stream_dedup_bounded(
        spark, src, checkpoint_dir=str(tmp_path / "ckpt_skew")
    )
    kept = result.select("digest").distinct()
    assert kept.count() == 1001  # the 5,000-row flood collapsed to 1 entry

    # partition-balance histogram of the state keys under the dedup's own
    # shuffle partitioning: HashPartitioning = murmur3(key) mod numPartitions,
    # computed directly (spark_partition_id after a repartition would show
    # AQE's post-coalesce view, not the state store's layout)
    hist = (
        kept.groupBy(F.pmod(F.hash("digest"), F.lit(32)).alias("pid"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in hist]
    mean = sum(counts) / 32  # over ALL 32 partitions, incl. any empty ones
    assert max(counts) <= 2 * mean, counts


def test_stream_quality_gate_matches_batch_and_counts(spark, sf_dir):
    """The streaming Gopher gate shares the batch gate's Column expression,
    so the kept set must equal the batch filter exactly, and the observe()
    counter must equal the kept count (telemetry op #13)."""
    from pulsar_topic_deduplicator_spark.operators.textops import (
        gopher_quality_flags,
    )
    from pulsar_topic_deduplicator_spark.streaming.quality import (
        run_quality_gate_bounded,
    )

    kept = run_quality_gate_bounded(spark, sf_dir)
    got = {r["doc_id"] for r in kept.collect()}
    want = {
        r["doc_id"]
        for r in gopher_quality_flags(spark, sf_dir)
        .filter("passes_gopher")
        .collect()
    }
    assert got == want
    assert got and got != set()  # gate is non-degenerate on the corpus


def test_watermark_ttl_bounded_matches_exact_kernel(spark, source_dir, tmp_path):
    """Third kernel (JVM-only watermark TTL): a bounded single-batch run
    must keep exactly the digest set the exact GroupState kernel keeps."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        run_ttl_dedup_watermark_bounded,
    )

    exact = run_ttl_dedup_bounded(spark, source_dir, str(tmp_path / "ck_exact"))
    wm = run_ttl_dedup_watermark_bounded(spark, source_dir)
    assert sorted(r["digest"] for r in wm.collect()) == sorted(
        r["digest"]
        for r in exact.filter(F.col("message_id").isNotNull()).collect()
    )


def test_watermark_ttl_expiry_readmits(spark, tmp_path):
    """Cross-pin of the watermark kernel against the GroupState kernel's
    expiry fixture (test_ttl_expiry_readmits): same arrival pattern, same
    outcome — content re-arriving after the TTL is forwarded again. The
    watermark kernel's documented deviation is WHEN: eviction waits for the
    watermark to pass first_seen + ttl (late eviction, never early
    re-admission), so the duplicate is replayed until the advancing
    watermark admits it."""
    import time

    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        dedup_stream_ingest_ttl,
    )
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    src = str(tmp_path / "wm_src")
    _write_batch(spark, src, BATCH1[:1])  # just message 1
    name = "wm_expiry_sink"
    query = (
        dedup_stream_ingest_ttl(
            events_message_stream(spark, src), ttl_ms=1500
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_wm_exp"))
        .start()
    )
    try:
        query.processAllAvailable()
        assert {r["message_id"] for r in spark.table(name).collect()} == {"1"}
        time.sleep(3.0)  # let the TTL lapse on the ingest clock
        # watermark only advances when newer rows arrive: filler batch
        _write_batch(spark, src, BATCH1[1:2])  # message 2, distinct content
        query.processAllAvailable()
        # replay the duplicate until the watermark passes first_seen + ttl
        # and evicts message 1's digest (bounded by the deadline)
        deadline = time.time() + 60
        rows: set = set()
        while time.time() < deadline:
            _write_batch(spark, src, BATCH1[2:3])  # event 3 = dup content of 1
            query.processAllAvailable()
            rows = {r["message_id"] for r in spark.table(name).collect()}
            if "3" in rows:
                break
            time.sleep(0.7)
        assert rows == {"1", "2", "3"}, "expired digest was not re-admitted"
    finally:
        query.stop()


def test_watermark_ttl_suppresses_within_ttl(spark, tmp_path):
    """Duplicates arriving well inside the TTL stay suppressed across
    batches — the guarantee half of the approximation (the exact kernel's
    test_ttl_dedup_exact_path analog on the watermark path)."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        dedup_stream_ingest_ttl,
    )
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    src = str(tmp_path / "wm_sup_src")
    _write_batch(spark, src, BATCH1[:1])
    name = "wm_suppress_sink"
    query = (
        dedup_stream_ingest_ttl(
            events_message_stream(spark, src), ttl_ms=3_600_000
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_wm_sup"))
        .start()
    )
    try:
        query.processAllAvailable()
        _write_batch(spark, src, BATCH1[2:3])  # dup of message 1, next batch
        query.processAllAvailable()
        assert {r["message_id"] for r in spark.table(name).collect()} == {"1"}
    finally:
        query.stop()


def test_watermark_ttl_warmup_seed(spark, tmp_path):
    """Op #11 on the watermark kernel, through the service's warm-up: the
    seed set built from the prior output strictly before live consumption
    (the reference's startup happens-before edge) suppresses live
    re-deliveries of already-output content; fresh content still flows."""
    import os

    from pulsar_topic_deduplicator_spark.config import EngineConfig
    from pulsar_topic_deduplicator_spark.service import start_dedup_service
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    src = str(tmp_path / "wm_seed_src")
    os.makedirs(src)
    # the prior output: BATCH1 message 1's content with its origin digest,
    # derived the same way the service derives digests
    probe = spark.createDataFrame(
        [("1", '{"k": 1}')], "mid string, props string"
    ).select(
        F.encode(F.to_json(F.struct(F.lit("click").alias("event_type"),
                                    F.lit(1.0).alias("value"))), "UTF-8").alias("value"),
        F.from_json("props", "map<string,string>").alias("properties"),
    )
    seeded_digest = probe.select(message_digest().alias("d")).first()["d"]
    prior = probe.select(
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("publish_ts"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("event_ts"),
        F.to_json(F.array(message_digest())).alias("origin"),
    )

    svc = start_dedup_service(
        spark,
        EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"}),
        src,
        str(tmp_path / "ck_wm_seed"),
        prior_output=prior,
        now_ts="2024-01-01 01:00:00",
    )
    try:
        # live batch in the CURRENT ts encoding: the query started against
        # an empty dir, so the schema fallback pinned TIMESTAMP (the
        # documented contract — legacy ns-long files need a restart)
        spark.createDataFrame(
            _events_pdf(BATCH1[:2]),
            schema="event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.mode("append").parquet(src)
        svc.query.processAllAvailable()
        rows = svc.output().collect()
        # live re-delivery of the seeded content suppressed; fresh content kept
        assert {r["message_id"] for r in rows} == {"2"}
        assert seeded_digest not in {r["digest"] for r in rows}
    finally:
        svc.stop()


def test_ttl_kernel_micros_roundtrip_event_ts(spark, source_dir, tmp_path):
    """The exact-TTL kernel moves event time across the Python boundary as
    epoch-micros longs (_TTL_KERNEL_SCHEMA); the output contract is
    unchanged: winner rows carry their source timestamp EXACTLY (strict
    monotone bijection + JVM-side timestamp_micros restore), and a
    later-batch duplicate's counter row carries NULL event_ts, not epoch 0."""
    import datetime

    from pulsar_topic_deduplicator_spark.streaming.dedup import start_ttl_dedup

    src = str(tmp_path / "us_src")
    _write_batch(spark, src, BATCH1)
    query, name = start_ttl_dedup(
        spark, src, str(tmp_path / "ckpt_us"), ttl_ms=3_600_000
    )
    try:
        query.processAllAvailable()
        rows = {r["message_id"]: r for r in spark.table(name).collect()}
        assert set(rows) == {"1", "2", "4"}
        # exact timestamp round trip (BATCH1 ts are epoch-ns; winners 1/2/4)
        for mid, offset_s in (("1", 0), ("2", 60), ("4", 180)):
            expect = datetime.datetime.fromtimestamp(
                BASE_TS / NS + offset_s, tz=datetime.timezone.utc
            ).replace(tzinfo=None)
            assert rows[mid]["event_ts"] == expect, (mid, rows[mid]["event_ts"])
        # later-batch duplicate of event 1 -> counter row with NULL event_ts
        _write_batch(spark, src, BATCH1[2:3])
        import time

        deadline = time.time() + 60
        counters = []
        while time.time() < deadline and not counters:
            query.processAllAvailable()
            counters = [
                r for r in spark.table(name).collect() if r["message_id"] is None
            ]
            if not counters:
                time.sleep(0.5)
        assert len(counters) == 1
        assert counters[0]["event_ts"] is None
        assert counters[0]["n_dropped"] == 1
    finally:
        query.stop()


def test_watermark_ttl_seeded_only_batch_advances_watermark(spark, tmp_path):
    """The warm-up anti-join sits after the watermark, so a batch made only
    of seeded replays feeds the watermark although it forwards nothing. On
    an injected ingest clock (``ingest_ts_col``), TTL 60 s: message 1 at
    0 s; a batch of seeded replays only at 50 s; then at 55 s a replay of
    1 (inside its TTL), another seeded replay and new content. The seeded
    batch forwards no seeded digest, moves the watermark to 50 − 60 s, and
    1's replay is still suppressed."""
    from pulsar_topic_deduplicator_spark.config import EngineConfig
    from pulsar_topic_deduplicator_spark.service import build_seed_set
    from pulsar_topic_deduplicator_spark.sources.io import messages_view
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        dedup_stream_ingest_ttl,
        message_digest,
    )
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    seeded = (9, "purchase", 9.0, '{"k": 9}')
    base = str(tmp_path / "prior")
    _write_batch(spark, f"{base}/events.parquet", [(90, BASE_TS, *seeded)])
    prior = messages_view(spark, base).select(
        "publish_ts",
        "event_ts",
        F.to_json(F.array(message_digest())).alias("origin"),
    )
    seeds = build_seed_set(
        prior,
        EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"}),
        "2024-01-01 01:00:00",
    )
    src = str(tmp_path / "src")
    _write_batch(spark, src, BATCH1[:1])  # message 1 at 0 s
    name = "wm_seeded_only_sink"
    query = (
        dedup_stream_ingest_ttl(
            events_message_stream(spark, src),
            ttl_ms=60_000,
            ingest_ts_col="event_ts",
            exclude_digests=seeds,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        query.processAllAvailable()
        _write_batch(
            spark,
            src,
            [(91, BASE_TS + 50 * NS, *seeded), (92, BASE_TS + 50 * NS, *seeded)],
        )
        query.processAllAvailable()
        assert {r["message_id"] for r in spark.table(name).collect()} == {"1"}
        _write_batch(
            spark,
            src,
            [
                (93, BASE_TS + 55 * NS, 1, "click", 1.0, '{"k": 1}'),  # dup of 1
                (94, BASE_TS + 55 * NS, *seeded),
                (95, BASE_TS + 55 * NS, 5, "view", 5.0, '{"k": 5}'),
            ],
        )
        query.processAllAvailable()
        assert {r["message_id"] for r in spark.table(name).collect()} == {"1", "95"}
        data = [p for p in query.recentProgress if p["numInputRows"] > 0]
        assert len(data) == 3
        assert data[1]["eventTime"].get("max") == "2024-01-01T00:00:50.000Z"
        assert data[2]["eventTime"]["watermark"] == "2023-12-31T23:59:50.000Z"
    finally:
        query.stop()
        seeds.unpersist()
