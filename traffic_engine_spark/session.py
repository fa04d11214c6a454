"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster; every setting
here is the one we'd ship in spark-submit --conf for the 1000-executor run
(AQE on, skew-join on, Arrow on, sane shuffle partitioning).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession


def _keep_zip_directories_in_workers() -> None:
    """Inside a Python worker, re-read a zip archive's directory only when
    the archive file changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task; on Python 3.11 that re-reads the directory of every cached
    ``zipimporter`` (``pyspark.zip`` under ~14 sub-paths, py4j, the
    5,359-entry spark-core jar): 0.13-0.24 s a task on a 4-core host.

    Safe: directory finders are still invalidated, so ``.py`` files
    shipped with ``addPyFile`` are found, and a new ``addPyFile`` /
    ``--py-files`` archive is a new ``sys.path`` entry with a fresh
    importer.  Spark rewrites a shipped archive in place only with
    ``spark.files.overwrite=true`` (a same-named file added from another
    path); the (inode, size, mtime) check re-reads it then, where a bare
    no-op would import from stale offsets.

    The worker sets the task context before it unpickles a command, and
    unpickling an engine kernel imports this package; the driver keeps
    the stdlib method."""
    if TaskContext.get() is None:
        return
    reread = zipimport.zipimporter.invalidate_caches

    def stamp(importer):
        try:
            st = os.stat(importer.archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def invalidate_if_rewritten(self):
        now = stamp(self)
        if getattr(self, "_archive_stamp", ...) != now:
            reread(self)
            self._archive_stamp = now

    # the worker re-read every cached directory just before this task
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._archive_stamp = stamp(finder)
    zipimport.zipimporter.invalidate_caches = invalidate_if_rewritten


_keep_zip_directories_in_workers()


def get_spark(
    app_name: str = "traffic_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Shuffle spill dir: this sandbox's /tmp sits on a throttled virtual
    # disk that serialises concurrent shuffle writers (measured: local[32]
    # slower than local[8]).  Use tmpfs when present — on a real cluster
    # this is the usual NVMe-backed spark.local.dir provisioning.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: 32k rows balances per-batch Python overhead
        # against memory (SURVEY §4 physical notes)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # Scan split size: the bench inputs are single ~5-125 MB parquet
        # files, which the 128 MB default plans as 1-2 splits — scans then
        # run on 1-2 of the 32 cores (measured: tpch_q1 0.55 s → 0.31 s at
        # 16m).  A production cluster reading TB-scale tables should pass
        # 128m-1g through extra_conf (guide §6) — more splits there only
        # adds scheduling overhead and map-task count (§2.2).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the one broadcast threshold: the planner sizes every engine dim
        # join against it from the dims' statistics
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
