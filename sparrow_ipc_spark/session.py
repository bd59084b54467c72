"""SparkSession factory tuned for the codec engine.

Design point is a 1000-executor cluster over ~100 TB; the sandbox runs
local[N] single-JVM. Everything scale-relevant is expressed through conf
(shuffle partitions, Arrow batch size, AQE skew handling) so the same code
ships unchanged via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# The Arrow batch size is the direct analog of the reference's record-batch
# granularity (one IPC message per batch, serializer.hpp:36-263): every
# mapInPandas encode call sees one pa.RecordBatch of at most this many rows
# and emits exactly one encoded block row for it.
DEFAULT_ARROW_BATCH_ROWS = 65536


def get_spark(
    app_name: str = "sparrow-ipc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = DEFAULT_ARROW_BATCH_ROWS,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # AQE: runtime coalescing + skew-split for long transcripts
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # NB: very large heaps (48g) trigger a GC pathology on this host —
        # wall time degrades monotonically across jobs; 8g is flat and fast
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Python Data Source zone-map pushdown (sources/datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    return builder.getOrCreate()


def _skip_unchanged_zip_rescans() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task and every Python DataSource planner call
    (``worker_util.setup_spark_files``).  On CPython < 3.12 that re-reads
    the whole central directory of every cached ``zipimporter``: the
    worker's sys.path holds ``pyspark.zip``, the py4j zip and the Spark
    core jar, 16 importers in all, ~107 ms per task on a 4-vCPU host.
    CPython 3.12 made the invalidation lazy, so there this is a no-op.

    The guard keys each archive on ``(st_ino, st_size, st_mtime_ns)``, taken
    just before the last real re-read.  An archive whose key moved, or that
    cannot be stat'ed, goes through the original method, so a rewritten
    archive is still re-read (a rewrite that keeps inode, size and mtime is
    not seen, the limit of every stat-keyed cache).  The first call per
    archive re-reads it once.  Idempotent.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    original = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> key at last re-read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files  # unchanged since the last re-read, by any importer
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = key

    invalidate_caches.__wrapped__ = original
    cls.invalidate_caches = invalidate_caches


def _on_spark_worker() -> bool:
    """True inside a Python worker the JVM started: ``setup_spark_files``
    sets the flag before it unpickles any UDF or DataSource command."""
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # pyspark-connect client: no classic workers here
        return False
    return SparkFiles._is_running_on_worker


# every engine closure and the sparrow_ipc DataSource import this package
# in the worker, so the worker that runs them gets the guard; the driver's
# stdlib stays untouched
if _on_spark_worker():
    _skip_unchanged_zip_rescans()
