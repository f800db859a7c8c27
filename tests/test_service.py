"""End-to-end service composition — the reference's main() order
(src/index.ts:107-213): env config → warm-up from the service's OWN prior
output → live dedup with the ignored-properties projection → health /
counters / graceful stop."""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.config import EngineConfig
from pulsar_topic_deduplicator_spark.service import (
    run_dedup_service_bounded,
    start_dedup_service,
    warmup_seed_digests,
)

BASE_TS = 1704067200 * 1_000_000_000  # 2024-01-01 UTC in ns
NS = 1_000_000_000


def _events_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ),
        schema=(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        ),
    )


def _write_events(spark, path, rows):
    _events_df(spark, rows).coalesce(1).write.mode("append").parquet(path)


def test_service_end_to_end_with_warmup_and_ignored_props(spark, tmp_path):
    """Full wiring: a prior-output table carrying origin digests seeds the
    state (op #11), so live re-deliveries of already-output messages are
    suppressed; the ignored-properties projection (op #4) makes two live
    messages differing only in an ignored key collapse to one."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    config = EngineConfig.from_env(
        {
            "DEDUPLICATION_WINDOW_IN_SECONDS": "3600",
            "CACHE_WINDOW_IN_SECONDS": "172800",
            "DEDUPLICATION_IGNORED_PROPERTIES": '["mqttQos"]',
        }
    )
    assert config.ignored_properties == ("mqttQos",)

    sf_style_dir = str(tmp_path / "svc_src")
    src = f"{sf_style_dir}/events.parquet"  # sf-layout: a parquet dir per table
    rows = [
        # pair differing ONLY in the ignored property -> one survivor
        (1, BASE_TS + 0 * NS, 1, "click", 1.0, '{"k": "1", "mqttQos": "0"}'),
        (2, BASE_TS + 60 * NS, 1, "click", 1.0, '{"k": "1", "mqttQos": "1"}'),
        # distinct content
        (3, BASE_TS + 120 * NS, 2, "view", 2.0, '{"k": "2"}'),
        # re-delivery of a message the service already output (warm-up hit)
        (4, BASE_TS + 180 * NS, 3, "purchase", 3.0, '{"k": "3"}'),
    ]
    _write_events(spark, src, rows)

    # the service's prior output: message 4's content, with origin lineage —
    # exactly what the reference re-reads from its output topic
    from pulsar_topic_deduplicator_spark.sources.io import messages_view

    prior = (
        messages_view(spark, sf_style_dir)
        .filter(F.col("message_id") == "4")
        .withColumn("digest", message_digest(config.ignored_properties))
        .select(
            "publish_ts",
            "event_ts",
            F.to_json(F.array(F.col("digest"))).alias("origin"),
        )
    )
    out = run_dedup_service_bounded(
        spark,
        config,
        src,
        str(tmp_path / "svc_ckpt"),
        prior_output=prior,
        now_ts="2024-01-01 01:00:00",
        exact_processing_ttl=True,
    )
    emitted = {r["message_id"] for r in out.collect() if r["message_id"]}
    # 1 wins over its ignored-prop twin 2; 3 is unique; 4 was warm-up-seeded
    assert emitted == {"1", "3"}
    # the suppressed duplicates surface in dropped telemetry rows
    n_dropped = out.agg(F.sum("n_dropped")).first()[0]
    assert n_dropped == 2

    # DEFAULT kernel (JVM watermark TTL, round-9 flip): same composition,
    # same forwarded digests — the warm-up seeding runs as a stream-static
    # anti-join, the ignored-props projection shapes the same digest, and
    # exactly one of the {1,2} ignored-prop twins survives (which one is
    # engine-arbitrary under in-batch first-seen; the EXACT kernel above
    # pins the deterministic winner)
    wm_out = run_dedup_service_bounded(
        spark,
        config,
        src,
        str(tmp_path / "svc_wm_ckpt"),
        prior_output=prior,
        now_ts="2024-01-01 01:00:00",
    )
    wm_rows = wm_out.collect()
    assert "n_dropped" not in wm_out.columns  # full-row output, no counters
    wm_ids = {r["message_id"] for r in wm_rows}
    assert len(wm_ids) == 2 and "3" in wm_ids and wm_ids & {"1", "2"}
    assert "4" not in wm_ids  # warm-up-seeded digest suppressed


def test_exact_service_removes_its_seed_source(spark, tmp_path, monkeypatch):
    """The exact kernel writes its warm-up seeds as a side source; the
    service owns that directory and removes it when it stops, so each
    start with a prior output leaves nothing behind."""
    from pulsar_topic_deduplicator_spark.sources.io import messages_view
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    base = str(tmp_path / "seed_src")
    content = (3, "purchase", 3.0, '{"k": "3"}')
    _write_events(spark, f"{base}/events.parquet", [(4, BASE_TS, *content)])
    prior = messages_view(spark, base).withColumn(
        "digest", message_digest()
    ).select("publish_ts", "event_ts", F.to_json(F.array("digest")).alias("origin"))
    src = str(tmp_path / "live_src")
    _write_events(
        spark,
        src,
        [
            (7, BASE_TS + 60 * NS, *content),  # seeded re-delivery
            (8, BASE_TS + 120 * NS, 5, "view", 5.0, '{"k": "5"}'),
        ],
    )
    out = run_dedup_service_bounded(
        spark,
        EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"}),
        src,
        str(tmp_path / "seed_ckpt"),
        prior_output=prior,
        now_ts="2024-01-01 01:00:00",
        exact_processing_ttl=True,
    )
    assert {r["message_id"] for r in out.collect() if r["message_id"]} == {"8"}
    assert os.listdir(tmp) == []


def test_service_lifecycle_health_counters_stop(spark, tmp_path):
    """Ops #13-#15 through the service handle on the DEFAULT (JVM
    watermark TTL) kernel: healthy while active, graceful stop terminates,
    unhealthy afterwards."""
    src = str(tmp_path / "live_src")
    _write_events(
        spark, src, [(1, BASE_TS, 1, "click", 1.0, '{"k": "1"}')]
    )
    config = EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "0"})
    assert not config.warmup_enabled  # src/cacheBuilding.ts:71-77
    svc = start_dedup_service(
        spark, config, src, str(tmp_path / "live_ckpt")
    )
    try:
        svc.query.processAllAvailable()
        assert svc.health() == (204, "")
        assert svc.output().count() == 1
    finally:
        assert svc.stop()
    status, _body = svc.health()
    assert status == 500


def test_service_dq_gate_quarantines_and_counters_reconcile(spark, tmp_path):
    """VERDICT r5 item 8: the DQ gate composed as an ingest pre-filter —
    dirty rows are quarantined with their violated constraints and never
    reach the dedup state; forwarded + dropped + quarantined must equal the
    input row count exactly. Both kernels run as the live service
    (``start_dedup_service(dq_gate=True)``), drained and stopped; its
    counters carry the gate's clean-ingest count, so dropped =
    n_clean − forwarded is one formula for both."""
    src = str(tmp_path / "gated_src")
    rows = [
        (1, BASE_TS + 0 * NS, 1, "click", 1.0, '{"k": "1"}'),
        (2, BASE_TS + 60 * NS, 1, "click", 1.0, '{"k": "1"}'),  # dup of 1
        (None, BASE_TS + 120 * NS, 2, "view", 2.0, '{"k": "2"}'),  # null id
        (4, BASE_TS + 180 * NS, 3, "bogus", 3.0, '{"k": "3"}'),  # bad vocab
        (5, 100 * NS, 4, "view", 4.0, '{"k": "4"}'),  # ts out of range
        (6, BASE_TS + 240 * NS, 5, "purchase", 5.0, '{"k": "5"}'),
    ]
    spark.createDataFrame(
        rows,
        schema=(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        ),
    ).coalesce(1).write.mode("append").parquet(src)

    def gated(checkpoint, **kwargs):
        svc = start_dedup_service(
            spark,
            EngineConfig(),
            src,
            str(tmp_path / checkpoint),
            dq_gate=True,
            **kwargs,
        )
        try:
            svc.query.processAllAvailable()
            svc.quarantine_query.processAllAvailable()
            counters = svc.counters()
        finally:
            assert svc.stop()
        return svc.output(), svc.quarantine(), counters

    true_dropped = 1  # event 2, duplicate content inside the gate
    out, quarantine, exact_counters = gated(
        "ck_gated", exact_processing_ttl=True
    )
    exact_n_clean = exact_counters["n_clean"]
    q = quarantine.collect()
    viol = {r["message_id"]: set(r["violations"]) for r in q}
    assert viol == {
        None: {"message_id_not_null"},
        "4": {"topic_in_vocab"},
        "5": {"event_ts_in_range"},
    }
    forwarded = out.filter(F.col("message_id").isNotNull()).count()
    dropped = out.agg(F.sum("n_dropped")).collect()[0][0] or 0
    assert forwarded == 2  # digest(1|2) once, digest(6) once
    assert dropped == 1  # event 2, duplicate content inside the gate
    assert forwarded + dropped + len(q) == len(rows)
    assert exact_n_clean == forwarded + dropped
    assert exact_n_clean - forwarded == true_dropped
    assert (
        forwarded + (exact_n_clean - forwarded) + exact_counters["n_quarantined"]
        == len(rows)
    )

    # the DEFAULT path (JVM watermark TTL kernel, round-9 flip): identical
    # gate verdicts, identical counter reconciliation — dropped derives
    # from the observe() clean-ingest counter on this kernel too
    wm_out, wm_quarantine, wm_counters = gated("ck_gated_wm")
    n_clean = wm_counters["n_clean"]
    wm_viol = {
        r["message_id"]: set(r["violations"]) for r in wm_quarantine.collect()
    }
    assert wm_viol == viol
    wm_forwarded = wm_out.count()
    assert wm_forwarded == forwarded
    assert n_clean - wm_forwarded == dropped
    assert wm_forwarded + (n_clean - wm_forwarded) + len(wm_viol) == len(rows)
    assert n_clean - wm_forwarded == true_dropped
    assert (
        wm_forwarded + (n_clean - wm_forwarded) + wm_counters["n_quarantined"]
        == len(rows)
    )


def test_dq_gate_with_messages_override_quarantines_same_stream(spark, tmp_path):
    """ADVICE r6 (medium) regression: combining ``dq_gate=True`` with a
    ``messages`` transport override must derive the quarantine from the
    SAME overridden stream. Before the fix the quarantine side read
    ``source_dir`` — here a placeholder path, which used to crash the side
    query (or, with a real-but-different path, desynchronize counters)."""
    from pulsar_topic_deduplicator_spark.service import start_dedup_service
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    src = str(tmp_path / "override_src")
    rows = [
        (1, BASE_TS + 0 * NS, 1, "click", 1.0, '{"k": "1"}'),
        (2, BASE_TS + 60 * NS, 1, "click", 1.0, '{"k": "1"}'),  # dup of 1
        (None, BASE_TS + 120 * NS, 2, "view", 2.0, '{"k": "2"}'),  # dirty
        (6, BASE_TS + 240 * NS, 5, "purchase", 5.0, '{"k": "5"}'),
    ]
    _write_events(spark, src, rows)
    config = EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "0"})
    # the override is the transport; source_dir is a placeholder that MUST
    # be ignored by both the dedup and the quarantine queries
    svc = start_dedup_service(
        spark,
        config,
        str(tmp_path / "does_not_exist"),
        str(tmp_path / "override_ckpt"),
        exact_processing_ttl=True,
        dq_gate=True,
        messages=events_message_stream(spark, src),
    )
    try:
        svc.query.processAllAvailable()
        svc.quarantine_query.processAllAvailable()
        q = svc.quarantine().collect()
        assert {r["message_id"] for r in q} == {None}  # the null-id row
        forwarded = svc.output().filter(
            F.col("message_id").isNotNull()
        ).count()
        dropped = (
            svc.output().agg(F.sum("n_dropped")).collect()[0][0] or 0
        )
        assert forwarded == 2  # digest(1|2) once, digest(6) once
        assert dropped == 1
        assert forwarded + dropped + len(q) == len(rows)
        assert svc.counters().get("n_quarantined") == 1
    finally:
        svc.stop()


def _land(spark, src, rows):
    """Land one arrival: a parquet file written aside, then renamed into
    the watched directory in one atomic step. The query started against an
    empty directory, so ``ts`` is written in the current TIMESTAMP
    encoding (the schema fallback it pinned), not as epoch-ns longs."""
    import os
    import uuid

    stage = f"{src}_stage_{uuid.uuid4().hex[:8]}"
    _events_df(spark, rows).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    ).coalesce(1).write.parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.rename(os.path.join(stage, part), os.path.join(src, part))


def test_service_seed_set_is_a_snapshot(spark, tmp_path):
    """The warm-up is built once at start: with the prior-output directory
    deleted after start, the live query keeps running, still suppresses the
    seeded content and still forwards new content — it never reads the
    prior output again."""
    import os
    import shutil

    from pulsar_topic_deduplicator_spark.sources.io import messages_view
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    content = (3, "purchase", 3.0, '{"k": "3"}')
    base = str(tmp_path / "prior_base")  # sf-layout dir for messages_view
    _write_events(spark, f"{base}/events.parquet", [(4, BASE_TS, *content)])
    prior_dir = str(tmp_path / "prior_out")
    # the prior output on disk, in the service's own output shape
    messages_view(spark, base).withColumn("digest", message_digest()).select(
        "publish_ts", "event_ts", F.to_json(F.array("digest")).alias("origin")
    ).write.parquet(prior_dir)

    src = str(tmp_path / "snap_src")
    os.makedirs(src)
    svc = start_dedup_service(
        spark,
        EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"}),
        src,
        str(tmp_path / "snap_ckpt"),
        prior_output=spark.read.parquet(prior_dir),
        now_ts="2024-01-01 01:00:00",
    )
    try:
        shutil.rmtree(prior_dir)
        _land(
            spark,
            src,
            [
                (7, BASE_TS + 60 * NS, *content),  # seeded re-delivery
                (8, BASE_TS + 120 * NS, 5, "view", 5.0, '{"k": "5"}'),
            ],
        )
        svc.query.processAllAvailable()
        assert svc.query.isActive
        assert {r["message_id"] for r in svc.output().collect()} == {"8"}
    finally:
        svc.stop()
    assert svc.seeds is None  # released on stop


def test_service_one_batch_per_arrival_and_expiry(spark, tmp_path):
    """The default kernel's service query runs ONE micro-batch per landed
    file (no eviction-only batches), and an expired digest is still
    re-admitted: at most one arrival later than the kernel-level
    test_watermark_ttl_expiry_readmits, whose first replay after the
    filler batch is re-admitted."""
    import os
    import time

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    svc = start_dedup_service(
        spark,
        EngineConfig.from_env(
            {
                "DEDUPLICATION_WINDOW_IN_SECONDS": "1",
                "CACHE_WINDOW_IN_SECONDS": "0",
            }
        ),
        src,
        str(tmp_path / "arrivals_ckpt"),
        max_files_per_trigger=1,
    )
    q = svc.query

    def batches():
        # executed micro-batches only: an idle query also reports progress
        # (under the id of its next batch), but runs no addBatch
        return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]

    def arrive(event_id, content):
        n = len(batches())
        _land(spark, src, [(event_id, BASE_TS + event_id * NS, *content)])
        q.processAllAvailable()
        assert len(batches()) == n + 1, batches()[n:]

    def ids():
        return {r["message_id"] for r in svc.output().collect()}

    first = (1, "click", 1.0, '{"k": "1"}')
    try:
        arrive(1, first)
        arrive(2, (2, "view", 2.0, '{"k": "2"}'))
        arrive(3, first)  # inside the TTL: suppressed
        assert ids() == {"1", "2"}
        # the watermark trails the ingest clock by the TTL, so eviction
        # needs the clock to pass first_seen + 2 × TTL (1 s each)
        time.sleep(2.5)
        arrive(4, (4, "purchase", 4.0, '{"k": "4"}'))  # filler
        arrive(5, first)  # evicted at the end of this batch, may be held
        arrive(6, first)
        got = ids()
        assert got & {"5", "6"}, "expired digest was not re-admitted"
        assert got - {"5", "6"} == {"1", "2", "4"}
    finally:
        svc.stop()


def _prior_output(spark, base, contents):
    """The service's prior output in its own output shape (``publish_ts``,
    ``event_ts``, ``origin``), one row per content tuple."""
    from pulsar_topic_deduplicator_spark.sources.io import messages_view
    from pulsar_topic_deduplicator_spark.streaming.dedup import message_digest

    _write_events(
        spark,
        f"{base}/events.parquet",
        [(900 + i, BASE_TS, *c) for i, c in enumerate(contents)],
    )
    return (
        messages_view(spark, base)
        .withColumn("digest", message_digest())
        .select(
            "publish_ts", "event_ts", F.to_json(F.array("digest")).alias("origin")
        )
    )


def _plan_nodes(jvm, node) -> list:
    """Every node of an executed plan, depth first. ``InMemoryTableScan``
    is a leaf here: the cached relation's own (already run) plan hangs off
    it as an inner child and is not part of the per-batch plan."""
    children = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.children())
    return [node] + [n for c in children for n in _plan_nodes(jvm, c)]


def test_seeded_service_one_exchange_and_one_job_per_arrival(spark, tmp_path):
    """The warm-up seed set is cached hash-partitioned by ``digest`` at the
    state width, so the warm-up anti-join shares the stateful operator's
    exchange: the executed plan holds exactly one ``Exchange`` and no
    broadcast, the join builds its hash table from the cached partitions
    directly, and every arrival runs exactly one Spark job."""
    import os

    jvm = spark.sparkContext._jvm
    seeded = [(3, "purchase", 3.0, f'{{"k": "s{i}"}}') for i in range(20)]
    prior = _prior_output(spark, str(tmp_path / "prior"), seeded)
    src = str(tmp_path / "src")
    os.makedirs(src)
    svc = start_dedup_service(
        spark,
        EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"}),
        src,
        str(tmp_path / "ckpt"),
        prior_output=prior,
        now_ts="2024-01-01 01:00:00",
    )
    q = svc.query
    store = spark.sparkContext._jsc.sc().statusStore()

    def n_jobs():
        group = str(q.runId)
        jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.jobsList(None)
        )
        return sum(
            1
            for j in jobs
            if j.jobGroup().isDefined() and j.jobGroup().get() == group
        )

    try:
        for i in range(3):
            before = n_jobs()
            _land(
                spark,
                src,
                [
                    (10 * i + 1, BASE_TS, *seeded[i]),  # seeded re-delivery
                    (10 * i + 2, BASE_TS, 5, "view", 5.0, f'{{"k": "n{i}"}}'),
                ],
            )
            q.processAllAvailable()
            assert n_jobs() - before == 1, f"arrival {i}"
        assert {r["message_id"] for r in svc.output().collect()} == {
            "2", "12", "22"
        }

        nodes = _plan_nodes(jvm, q._jsq.streamingQuery().lastExecution().executedPlan())
        names = [n.nodeName() for n in nodes]
        assert names.count("Exchange") == 1, names
        assert "BroadcastExchange" not in names
        assert "BroadcastHashJoin" not in names
        (join,) = [n for n in nodes if n.nodeName() == "ShuffledHashJoin"]
        assert "LeftAnti, BuildRight" in join.simpleString(100)
        build = _plan_nodes(jvm, join.right())
        build_names = [n.nodeName() for n in build]
        assert "InMemoryTableScan" in build_names, build_names
        assert "Exchange" not in build_names, build_names
    finally:
        svc.stop()


def test_seed_set_width_mismatch_still_suppresses(spark, tmp_path):
    """A query resumed on a checkpoint keeps the shuffle width it was
    created with, so the seed set, cached at the session's current width,
    can be partitioned differently from the state. The anti-join then
    runs at the session width and Spark adds a second exchange to the
    state width: slower, but every seeded digest must still be suppressed
    and every fresh one forwarded."""
    import os

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    config = EngineConfig.from_env({"CACHE_WINDOW_IN_SECONDS": "172800"})
    src = str(tmp_path / "src")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    seeded = [(3, "purchase", 3.0, f'{{"k": "s{i}"}}') for i in range(30)]
    try:
        spark.conf.set(key, "2")
        _write_events(spark, src, [(1, BASE_TS, 1, "click", 1.0, '{"k": "0"}')])
        run_dedup_service_bounded(spark, config, src, ckpt, output_dir=out)

        spark.conf.set(key, "5")
        prior = _prior_output(spark, str(tmp_path / "prior"), seeded)
        fresh = [(5, "view", 5.0, f'{{"k": "n{i}"}}') for i in range(10)]
        _write_events(
            spark,
            src,
            [(100 + i, BASE_TS, *c) for i, c in enumerate(seeded + fresh)],
        )
        got = run_dedup_service_bounded(
            spark,
            config,
            src,
            ckpt,
            prior_output=prior,
            now_ts="2024-01-01 01:00:00",
            output_dir=out,
        )
        ids = {r["message_id"] for r in got.collect()}
    finally:
        spark.conf.set(key, old)
    # the resumed state kept its 2 partitions while the seeds were cached at 5
    assert sorted(os.listdir(f"{ckpt}/state/0")) == ["0", "1", "_metadata"]
    assert ids == {"1"} | {str(130 + i) for i in range(10)}
