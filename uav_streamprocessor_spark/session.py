"""SparkSession builder tuned for the engine.

Local testing runs on local[N]; the configuration is written for the
100 TB design point: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (pandas-UDF pixel path), explicit shuffle
partition count, UTC session time.

Importing this module (the package ``__init__`` does) also installs one
zip-directory hook per process, on Python < 3.13 only. Spark's Python
worker calls ``importlib.invalidate_caches()`` before every task, and
before 3.13 each ``zipimport.zipimporter`` then re-reads its archive's
whole directory at once: a reused worker holds ~16 importers over
``pyspark.zip`` (1,328 entries), so every task paid ~0.22 s of worker
CPU on a 4-core box before running any code (~0.04 s with the hook). The
hook re-reads an archive only when its (inode, size, mtime) changed
since the last read; a new or rewritten archive is still read, and
``FileFinder`` invalidation (which ``addPyFile`` and Spark files rely
on) is untouched. Python 3.13 made the re-read lazy, so the hook goes
once the minimum Python is 3.13. Workers install it on the first task
that unpickles package code.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import SparkSession


def _worker_pythonpath() -> str:
    """The directory holding this package, ahead of any PYTHONPATH the
    caller has: Python workers (data sources, UDFs) unpickle engine
    classes, and without it they import the package only when the JVM
    runs from the checkout."""
    root = str(Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH")
    return os.pathsep.join([root, existing]) if existing else root


def _install_zip_directory_hook() -> None:
    """Replace ``zipimporter.invalidate_caches`` with one that re-reads an
    archive's directory only when the archive changed since its last read,
    and otherwise rebinds the importer to the shared directory cache."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == stamps.get(self.archive) and files is not None:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_directory_hook()


def get_spark(
    app_name: str = "uav_streamprocessor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (32 if unset) with shuffle
    partitions matched to cores — at cluster scale shuffle partitions are
    instead sized so partitions fit executor memory (AQE coalescing handles
    the small-SF end automatically).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 1)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
