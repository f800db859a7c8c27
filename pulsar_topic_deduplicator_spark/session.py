"""SparkSession construction tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration below is chosen
so the same logical plans scale to a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), shuffle partitions sized to the machine,
Arrow for any Python exchange, and UTC session time so timestamp semantics are
deterministic and match the DuckDB oracle.

Streaming checkpoints on the local session are committed through Spark's
``FileSystem``-based checkpoint file manager instead of the default
``FileContext`` one: on ``file://`` the ``FileContext`` manager forks a
``readlink`` inside every rename, 72 forks per micro-batch of the warm
dedup service at 3 state partitions (reason in ``get_spark``).

Python workers of the local session fork from ``worker_daemon``, which
keeps the directories of Spark's own ``pyspark.zip`` and py4j zip read
once instead of re-reading them before every task: ~170 ms of worker CPU
per Python task, paid by every pandas/Arrow UDF task and, on the exact-TTL
dedup kernel, by each state task of every micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that the engine needs regardless of who built the
# session (the verify driver builds its own SparkSession, then calls into
# ``__spark_entry__``; ``apply_runtime_confs`` is invoked from every loader so
# those sessions behave identically to ours).
RUNTIME_CONFS: dict[str, str] = {
    # legacy events.parquet generations stored TIMESTAMP(NANOS), which Spark 4
    # refuses to read as a timestamp; with this conf they arrive as ns-longs
    # and the loaders convert explicitly. Current files are timestamp[us]
    # (read as TIMESTAMP_NTZ, cast in sources/io.py); the conf is inert there.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering; matches DuckDB's naive timestamps
    "spark.sql.session.timeZone": "UTC",
}


#: the directory that holds this package, for the worker daemon's import
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def default_shuffle_partitions(cpus: str) -> str:
    """Shuffle width scales with the session's cores instead of a constant
    tuned for one box: ``local[N]`` gets N shuffle partitions (one wave per
    shuffle stage; AQE coalescing shrinks small exchanges below that, so
    oversizing is the only real risk locally). A cluster deployment sets
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` explicitly (rule of thumb: 2-3x
    total executor cores, or ~largest_shuffle_bytes/128MB, whichever is
    larger — see OPTIMIZATION_r14.md); the env override wins outright."""
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        return explicit
    return str(int(cpus) if cpus.isdigit() else (os.cpu_count() or 8))


def get_spark(app_name: str = "pulsar_topic_deduplicator_spark") -> SparkSession:
    """Build (or fetch) the tuned local session.

    ``SPARK_GRAFT_CPUS`` controls parallelism (default: all cores); shuffle
    partitions match it so local shuffles don't create task-scheduling
    overhead, while AQE coalescing keeps small shuffles cheap at any scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = default_shuffle_partitions(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Hadoop's local ``FileContext`` forks ``readlink`` inside every
        # ``rename`` (its deprecated file-status path is always on in 3.4)
        # and ``chmod`` on every create, so the default checkpoint manager
        # paid 99 process forks per micro-batch commit of the warm dedup
        # service at 3 state partitions (offset WAL, commit log, state
        # deltas); the ``FileSystem`` manager forks only the 27 ``chmod``s.
        # Nothing is lost on ``file://``: the local rename is
        # check-then-``rename(2)`` either way, so a second writer still
        # gets ``FileAlreadyExistsException``, and the ``.crc`` sidecars
        # and Spark's state checksums are still written. Not in
        # ``RUNTIME_CONFS``: on HDFS the ``FileContext`` manager's
        # overwrite-rename is atomic and must stay.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Python workers fork from a daemon that keeps Spark's own zip
        # archives' directories instead of re-reading pyspark.zip's before
        # every task (``worker_daemon``; ~170 ms of worker CPU per task).
        # The daemon starts as ``python -m`` in the JVM's working
        # directory, so the package's parent goes on the workers' path.
        # Not in ``RUNTIME_CONFS``: a static conf, and sessions built by
        # others keep Spark's daemon.
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
