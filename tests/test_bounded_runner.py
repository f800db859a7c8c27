"""Every bounded streaming run starts, drains and reads back through one
runner (``streaming.source.run_bounded``): one writer, one drain.

The guard scans the program's source, so a hand-written ``writeStream``
block or a second drain style fails here. The leak tests run a memory-sink
harness, the two registry service helpers and the foreachBatch entries with
the temp dir pointed at an empty directory: each must leave nothing behind,
neither in Python's temp dir nor as a Spark temporary checkpoint in the
JVM's.
"""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PROGRAM = sorted((ROOT / "pulsar_topic_deduplicator_spark").rglob("*.py")) + [
    ROOT / "__spark_entry__.py"
]


def _functions_using(attr: str) -> set[str]:
    """``file:function`` for every innermost function whose body reads
    attribute ``attr`` (``frame.writeStream``, ``q.processAllAvailable``)."""
    found = set()
    for path in PROGRAM:
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            inner = {
                id(n)
                for sub in ast.walk(fn)
                if sub is not fn
                and isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                for n in ast.walk(sub)
            }
            if any(
                isinstance(n, ast.Attribute) and n.attr == attr
                for n in ast.walk(fn)
                if id(n) not in inner
            ):
                found.add(f"{path.relative_to(ROOT)}:{fn.name}")
    return found


def test_one_writer_and_one_drain():
    source = "pulsar_topic_deduplicator_spark/streaming/source.py"
    assert _functions_using("writeStream") == {f"{source}:_write_stream"}
    assert _functions_using("processAllAvailable") == {f"{source}:drain"}
    assert _functions_using("awaitTermination") == {
        "pulsar_topic_deduplicator_spark/streaming/ops.py:graceful_stop"
    }


def test_no_available_now_trigger():
    for path in PROGRAM:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.keyword):
                assert node.arg != "availableNow", path
            if isinstance(node, ast.Constant) and node.value == "availableNow":
                pytest.fail(f"availableNow in {path}")


def _jvm_temporary_checkpoints(spark) -> set[str]:
    tmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
    return {n for n in os.listdir(tmp) if n.startswith("temporary-")}


@pytest.mark.parametrize(
    "entry",
    [
        "stream_windowed_counts",
        "stream_dedup_ttl",
        "service_counters_watermark",
        # foreachBatch entries: their work directory goes with the run
        "stream_media_dedup",
        "stream_rolling_actives",
        "stream_source_entropy",
        "stream_near_dup",
        "stream_quota_cap",
        "stream_latest_state",
        "stream_near_dup_contracts",
    ],
)
def test_bounded_run_leaves_no_directory(
    spark, sf_dir, tmp_path, monkeypatch, entry
):
    """A memory-sink harness run, the registry's service helpers and its
    foreachBatch entries leave no checkpoint or work directory behind: the
    runner lets Spark keep (and delete) its own temporary checkpoint, the
    service helpers remove theirs once the service has stopped, and the
    foreachBatch entries materialize their result before removing their
    work directory."""
    import __spark_entry__

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    before = _jvm_temporary_checkpoints(spark)
    rows = __spark_entry__.queries()[entry](spark, sf_dir).collect()
    assert rows
    assert os.listdir(tmp) == []
    assert _jvm_temporary_checkpoints(spark) - before == set()
