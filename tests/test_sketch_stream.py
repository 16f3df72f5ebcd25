"""Incremental streaming HLL maintenance == batch sketch over the full
feed, plus replay idempotence — the sketch-as-streaming-state contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.sinks import start_batch_store
from uav_streamprocessor_spark.streaming.sketch_stream import (
    daily_sketches,
    running_distinct_users,
)
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"


def _ts_as_timestamp(df):
    # mirror fixtures.register_base_tables: a nanos-variant corpus reads ts
    # as bigint (under nanosAsLong) and must go through timestamp_micros —
    # a bare cast("timestamp") would treat nanos as epoch SECONDS (off by
    # 1e9). The current corpus is TIMESTAMP_MICROS(isAdjustedToUTC=0) →
    # TIMESTAMP_NTZ, where cast is exact under the UTC session tz.
    if dict(df.dtypes).get("ts") == "bigint":
        return F.expr("timestamp_micros(ts div 1000)").alias("ts")
    return F.col("ts").cast("timestamp").alias("ts")


def _run_stream(spark, tmp_path, tag):
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev = raw.select(
        "event_id", _ts_as_timestamp(raw), "user_id", "event_type"
    )
    # two files -> two micro-batches; users appear on BOTH sides of the
    # split so the merge genuinely unions overlapping sketches
    parts = [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]
    stream = file_stream(
        spark,
        parts,
        tmp_path / f"ev_src_{tag}",
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    q = start_batch_store(
        stream, daily_sketches, tmp_path / "sketches", tmp_path / f"ckpt_{tag}"
    )
    q.awaitTermination(180)
    return {
        r["event_type"]: r["est_users"]
        for r in running_distinct_users(spark, str(tmp_path / "sketches")).collect()
    }


def test_incremental_sketches_equal_batch_and_replay_idempotent(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "event_type"
    )
    batch = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est")
        )
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }

    got = _run_stream(spark, tmp_path, "run1")
    # merged stream state == one sketch over everything (exact equality:
    # HLL union of subset sketches is the sketch of the union)
    assert got == batch
    # and the estimate is a real estimate of the truth
    for et, est in got.items():
        assert abs(est - exact[et]) / exact[et] < 0.05

    # full replay with a fresh checkpoint over the same store: every
    # batch re-fires, per-partition overwrite converges to identical state
    got2 = _run_stream(spark, tmp_path, "run2")
    assert got2 == batch
