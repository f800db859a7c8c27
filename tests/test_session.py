"""The local session's checkpoint file manager, and the checkpoint integrity
it keeps: Hadoop ``.crc`` sidecars on the metadata logs, Spark's state
delta checksums, and an exactly-once resume from the same checkpoint."""

from __future__ import annotations

import glob
import os

from pulsar_topic_deduplicator_spark.session import RUNTIME_CONFS
from pulsar_topic_deduplicator_spark.streaming.dedup import run_stream_dedup_bounded

from .test_streaming import BATCH1, _write_batch


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
