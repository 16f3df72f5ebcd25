"""State-store backend agnosticism: the stateful streams produce
IDENTICAL results under RocksDBStateStoreProvider — the backend that
holds multi-TB state at production scale (incremental checkpoints,
off-heap, changelog) — as under the default HDFS-backed provider used
everywhere else in the suite. providerClass is a per-query runtime
conf, so the shared session flips it around each run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.ewma_stream import ewma_stream
from uav_streamprocessor_spark.streaming.session_stream import (
    fold_session_store,
    session_stream,
)
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


@pytest.fixture()
def rocksdb_conf(spark):
    had = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    yield
    if had is None:
        spark.conf.unset(_PROVIDER_KEY)
    else:
        spark.conf.set(_PROVIDER_KEY, had)


def _feed(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        F.col("value").cast("double").alias("value"),
    )
    # two time-ordered files -> two micro-batches with cross-batch state
    parts = ordered_slices(ev, 2, ("ts", "event_id"))
    return file_stream(spark, parts, tmp_path / "src", _SCHEMA)


def _run(spark, stream, tmp_path, name, transform):
    start_memory_sink(
        transform(stream), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return spark.table(name)


def test_session_store_identical_on_rocksdb(spark, tmp_path, rocksdb_conf):
    stream = _feed(spark, tmp_path)
    assert spark.conf.get(_PROVIDER_KEY) == _ROCKSDB
    rocks = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["total_value"])
        for r in fold_session_store(
            _run(spark, stream, tmp_path, "rocks_sess", session_stream)
        ).collect()
    }
    spark.conf.unset(_PROVIDER_KEY)  # default provider for the twin
    hdfs = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["total_value"])
        for r in fold_session_store(
            _run(spark, stream, tmp_path, "hdfs_sess", session_stream)
        ).collect()
    }
    assert rocks == hdfs and len(rocks) > 0


def test_ewma_store_identical_on_rocksdb(spark, tmp_path, rocksdb_conf):
    stream = _feed(spark, tmp_path)

    def snap(df):
        return {
            (r["user_id"], r["event_id"]): (
                None if r["ewma_prev"] is None else round(r["ewma_prev"], 9)
            )
            for r in df.collect()
        }

    rocks = snap(_run(spark, stream, tmp_path, "rocks_ewma", ewma_stream))
    spark.conf.unset(_PROVIDER_KEY)
    hdfs = snap(_run(spark, stream, tmp_path, "hdfs_ewma", ewma_stream))
    assert rocks == hdfs and len(rocks) > 0
