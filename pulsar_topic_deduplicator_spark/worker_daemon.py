"""Python worker daemon for ``session.get_spark`` sessions.

Spark starts it as ``python -m pulsar_topic_deduplicator_spark.worker_daemon
<worker module>`` (``spark.python.daemon.module``); it patches one import
cache, then runs ``pyspark.daemon``'s ``manager()``, which forks every
Python worker of the session from this process.

Why: before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.10+ that makes every cached
``zipimporter`` re-read its archive's central directory, and the workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``. Measured in the
exact-TTL dedup service's state tasks (4 cores, ``local[3]``, 51 tasks):
18 directory re-reads per task, a median 172 ms of worker CPU, paid on
every micro-batch; with this daemon, 0 re-reads and 0.2 ms. The archives
already on ``sys.path`` when the daemon starts are Spark's own (``pyspark``
and ``py4j`` zips, and on some installs a Spark jar), which nothing
rewrites while a worker runs, so their importers keep the directory read
once here. Every other finder is still invalidated per task: a module
shipped with ``addPyFile`` after the workers are warm still imports.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_startup_archive_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the archives on
    ``sys.path`` now. A zipimporter's ``archive`` is the path string it
    was built from, and the importers for these archives (and for package
    directories inside them) are built from these same entries."""
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if reread is None:
        return  # before Python 3.10 zip importers keep their directory
    archives = frozenset(p for p in sys.path if os.path.isfile(p))

    def invalidate_caches(self):
        if self.archive not in archives:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_startup_archive_directories()
    # pyspark.daemon reads the worker module from sys.argv[1] on import
    from pyspark import daemon

    daemon.manager()
