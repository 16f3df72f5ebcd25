"""SparkSession builder tuned for the engine.

Local testing runs on local[N]; the configuration is written for the
100 TB design point: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (pandas-UDF pixel path), explicit shuffle
partition count, UTC session time.
"""

from __future__ import annotations

import os
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
