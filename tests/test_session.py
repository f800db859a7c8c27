"""The local session's checkpoint file manager, and the checkpoint integrity
it keeps: Hadoop ``.crc`` sidecars on the metadata logs, Spark's state
delta checksums, and an exactly-once resume from the same checkpoint. The
session's Python worker daemon (``worker_daemon``): Spark's archives are
read once per daemon, not once per task, and it starts from any working
directory."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import uuid

from pulsar_topic_deduplicator_spark.session import RUNTIME_CONFS
from pulsar_topic_deduplicator_spark.streaming.dedup import run_stream_dedup_bounded

from .test_streaming import BATCH1, _write_batch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = pkg.CheckpointFileManager.create(path, conf)
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    # sessions built by others keep their own manager (HDFS needs the
    # FileContext one's atomic overwrite-rename)
    assert "spark.sql.streaming.checkpointFileManagerClass" not in RUNTIME_CONFS


def test_checkpoint_keeps_checksums_and_resumes_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, BATCH1)
    first = run_stream_dedup_bounded(spark, src, checkpoint_dir=ckpt)
    assert sorted(r["message_id"] for r in first.collect()) == ["1", "2", "4"]

    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(ckpt, log))
        batches = [n for n in names if n.isdigit()]
        assert batches
        # Hadoop's checksum sidecar next to every committed log entry
        assert all(f".{b}.crc" in names for b in batches), (log, names)
    deltas = glob.glob(os.path.join(ckpt, "state", "0", "*", "*.delta"))
    assert deltas
    # Spark's state checksum file next to every state delta
    assert all(os.path.exists(f"{d}.crc") for d in deltas), deltas

    # same checkpoint, no new input: the resume re-emits nothing (new
    # input after a resume: test_streaming.py::
    # test_checkpoint_restart_keeps_state)
    again = run_stream_dedup_bounded(spark, src, checkpoint_dir=ckpt)
    assert sorted(r["message_id"] for r in again.collect()) == ["1", "2", "4"]


def test_worker_daemon_keeps_spark_archive_directories(spark, tmp_path):
    def archive_dirs(batches):
        import sys
        import zipimport

        import pandas as pd

        cache = zipimport._zip_directory_cache
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        rows = [
            (
                sys.argv[0],
                a,
                id(cache[a]),
                # every importer of the archive reads the one cached
                # directory; a per-task re-read gives each its own copy
                all(f._files is cache[a] for f in importers if f.archive == a),
            )
            for a in sys.path
            if a in cache
        ]
        for _ in batches:
            pass
        yield pd.DataFrame(rows, columns=["daemon", "archive", "dir_id", "shared"])

    schema = "daemon string, archive string, dir_id long, shared boolean"
    frame = spark.range(12, numPartitions=6).mapInPandas(archive_dirs, schema)
    jobs = [{tuple(r) for r in frame.collect()} for _ in range(2)]
    assert {r[0].endswith("worker_daemon.py") for r in jobs[0]} == {True}
    assert any(r[1].endswith("pyspark.zip") for r in jobs[0])
    assert all(r[3] for r in jobs[0] | jobs[1]), jobs
    # the same directory objects in every task of both jobs: read once,
    # in the daemon, before it forked the workers
    assert jobs[0] == jobs[1]
    assert len({r[1] for r in jobs[0]}) == len(jobs[0])

    # every other finder is still invalidated per task: a module shipped
    # after the workers are warm imports
    name = f"late_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def late_import(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield b.assign(id=value)

    got = spark.range(3, numPartitions=3).mapInPandas(late_import, "id long")
    assert [r.id for r in got.collect()] == [42, 42, 42]


DAEMON_RUNNER = """
import sys
sys.path.insert(0, {repo!r})
from pulsar_topic_deduplicator_spark.session import get_spark

def argv0(batches):
    import sys
    for b in batches:
        yield b.assign(daemon=sys.argv[0])

spark = get_spark("worker-daemon-cwd-test")
rows = spark.range(2).mapInPandas(argv0, "id long, daemon string").collect()
print("DAEMON", rows[0].daemon, flush=True)
spark.stop()
"""


def test_worker_daemon_starts_outside_the_repo(tmp_path):
    """``python -m`` runs in the JVM's working directory; a daemon that
    cannot import its module fails every Python UDF of the session."""
    script = tmp_path / "runner.py"
    script.write_text(DAEMON_RUNNER.format(repo=REPO))
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    } | {"SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    daemon = [l for l in proc.stdout.splitlines() if l.startswith("DAEMON")]
    assert daemon and daemon[0].endswith("worker_daemon.py"), proc.stdout
