"""Origin-parse validation — the reference's three warn-and-skip failure
branches (``src/cacheBuilding.ts:15-24``, ``:36-45``, ``:50-59``): not JSON,
not an array, non-string/empty elements. Validation is MESSAGE-granular: one
bad element rejects the whole array (the reference's getDigests returns
undefined for the entire message). Plus canonical-JSON robustness (escaping,
key-order invariance) beyond the happy path."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_topic_deduplicator_spark.functions.canonical import canonical_json
from pulsar_topic_deduplicator_spark.operators.lineage import (
    extract_origin_digests,
)


def test_malformed_origins_are_skipped(spark):
    rows = [
        ('["abc", "def"]',),  # valid, 2 digests
        ("not json at all",),  # branch 1: unparseable
        ('{"not": "an array"}',),  # branch 2: not an array
        ('["ok", ""]',),  # branch 3: one empty element rejects the message
        ('[null, "xyz"]',),  # null element rejects the message
        (None,),  # missing property
        ('["solo"]',),  # valid single-element (the write-path shape)
        ('["abc", 42]',),  # number element: typeof !== string -> whole
        #   message rejected (from_json alone would coerce 42 -> '42')
        ('["x", {"y": 1}]',),  # object element likewise
        ('["a", true]',),  # boolean element likewise
        ("[]",),  # valid-but-empty array seeds nothing (and drops nothing)
    ]
    df = spark.createDataFrame(rows, ["origin"])
    out = sorted(r["digest"] for r in extract_origin_digests(df).collect())
    assert out == ["abc", "def", "solo"]


def test_canonical_json_key_order_invariance(spark):
    """Same map content in different insertion orders -> identical canonical
    encoding (the safe-stable-stringify property, src/deduplication.ts:20-23)."""
    a = spark.createDataFrame([({"b": "2", "a": "1", "c": "3"},)], ["m"])
    b = spark.createDataFrame([({"c": "3", "a": "1", "b": "2"},)], ["m"])
    ca = a.select(canonical_json(F.col("m")).alias("c")).first()["c"]
    cb = b.select(canonical_json(F.col("m")).alias("c")).first()["c"]
    assert ca == cb == '{"a":"1","b":"2","c":"3"}'


def test_canonical_json_escaping(spark):
    """Quotes and backslashes in keys/values must escape, and distinct maps
    must never collide to the same canonical string."""
    import json

    tricky = [
        {'say "hi"': "v"},
        {"back\\slash": "v"},
        {"k": 'both " and \\'},
        {"k": "plain"},
        {"": "empty key"},
    ]
    df = spark.createDataFrame([(m,) for m in tricky], ["m"])
    canons = [r["c"] for r in df.select(canonical_json(F.col("m")).alias("c")).collect()]
    # each canonical form must parse back to the original map
    for m, c in zip(tricky, canons):
        assert json.loads(c) == m, (m, c)
    assert len(set(canons)) == len(tricky)


def test_session_window_activity(spark, tmp_path_factory):
    """Session windows split on >gap silence (streaming/windows.py)."""
    import pandas as pd

    from pulsar_topic_deduplicator_spark.streaming.windows import session_activity
    from .test_streaming import BASE_TS, NS, _events_pdf, _write_batch

    rows = [
        (1, BASE_TS + 0, 1, "click", 1.0, '{"k": 1}'),
        (2, BASE_TS + 60 * NS, 1, "click", 1.0, '{"k": 2}'),  # same session
        (3, BASE_TS + 7200 * NS, 1, "click", 1.0, '{"k": 3}'),  # after 2h gap
    ]
    src = None

    src = str(tmp_path_factory.mktemp("sess"))
    _write_batch(spark, src, rows)
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    name = "sess_test"
    q = (
        session_activity(
            events_message_stream(spark, src), gap="30 minutes", watermark="5 minutes"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("sess_ck")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).collect()
    # first session (2 messages) finalizes below the watermark; the second
    # session may be withheld (watermark), so assert on the first
    sessions = {(r["session_start"], r["n_messages"]) for r in got}
    assert any(n == 2 for _, n in sessions), sessions


def test_dq_report_counts_each_violation_kind(spark):
    """Every constraint's detection path, exercised on an injected-dirty
    fixture: one null id, one duplicated id, one out-of-range ts + one
    null ts, one unknown event_type, one negative value, one garbage
    props string."""
    import datetime as dt

    from pulsar_topic_deduplicator_spark.operators.lineage import dq_report

    ok_ts = dt.datetime(2024, 6, 1)
    rows = [
        (1, ok_ts, 10, "click", 1.0, '{"k": "1"}'),
        (1, ok_ts, 10, "click", 1.0, '{"k": "1"}'),  # dup id
        (None, ok_ts, 10, "view", 1.0, None),  # null id
        (3, dt.datetime(2031, 1, 1), 10, "view", 1.0, None),  # ts high
        (4, None, 10, "view", 1.0, None),  # ts null
        (5, ok_ts, 10, "mystery", 1.0, None),  # bad vocab
        (6, ok_ts, 10, "error", -2.0, None),  # negative
        (7, ok_ts, 10, "error", 1.0, "{not json"),  # bad props
        # valid NON-OBJECT JSON roots must NOT count as violations
        # (validity semantics, matching the oracle's try_cast AS JSON)
        (8, ok_ts, 10, "error", 1.0, "[1,2]"),
        (9, ok_ts, 10, "error", 1.0, "null"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["constraint"]: r["violations"] for r in dq_report(ev).collect()}
    assert got == {
        "event_id_not_null": 1,
        "event_id_unique": 1,
        "ts_in_range": 2,
        "event_type_in_vocab": 1,
        "value_non_negative": 1,
        "props_parseable": 1,
    }
    passes = {
        r["constraint"]: r["passes"] for r in dq_report(ev).collect()
    }
    assert not any(passes.values())
