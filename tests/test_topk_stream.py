"""Streaming space-saving top-k (applyInPandasWithState): exact at
capacity ≥ distinct items; equal to the sequential reference under
eviction pressure regardless of batch boundaries; replay idempotent;
the heavy-hitter guarantee (freq > n/m ⇒ tracked, est−err ≤ true ≤ est)
holds on a planted whale."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.topk_stream import (
    latest_snapshot,
    make_topk_processor,
    topk_batch_reference,
    topk_stream,
)
from uav_streamprocessor_spark.streaming.replay import _NoState
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def _events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )


def _feed(spark, src, n_files, scramble_within=False):
    parts = ordered_slices(_events(spark), n_files, ("ts", "event_id"))
    if scramble_within:
        parts = [p.orderBy(F.col("event_id").desc()) for p in parts]
    return file_stream(spark, parts, src, _SCHEMA)


def _run_stream(spark, stream, tmp_path, name, capacity):
    start_memory_sink(
        topk_stream(stream, capacity=capacity), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return _summary_set(latest_snapshot(spark.table(name)))


def _summary_set(df):
    return {
        (r["event_type"], r["user_id"], r["est_count"], r["error"], r["n_seen"])
        for r in df.collect()
    }


def test_exact_at_large_capacity(spark, tmp_path):
    """Capacity ≥ distinct users ⇒ no evictions: the final summary IS the
    exact per-(type, user) count with zero error."""
    stream = _feed(spark, tmp_path / "feed_exact", 3)
    got = _run_stream(spark, stream, tmp_path, "topk_exact", capacity=10_000)
    truth = {
        (r["event_type"], r["user_id"], r["n"], 0, r["tot"])
        for r in _events(spark)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "tot", F.sum("n").over(Window.partitionBy("event_type"))
        )
        .collect()
    }
    assert got == truth


def test_stream_equals_sequential_reference_under_eviction(spark, tmp_path):
    """Capacity 8 (well under distinct users) forces evictions; the final
    stream snapshot must still equal the one-pass sequential reference
    for every batching and intra-file arrival order."""
    expected = _summary_set(topk_batch_reference(_events(spark), capacity=8))
    for n_files, scramble in ((1, False), (4, False), (5, True)):
        src = tmp_path / f"feed_{n_files}_{scramble}"
        stream = _feed(spark, src, n_files, scramble)
        tag = f"topk_{n_files}_{scramble}"
        got = _run_stream(spark, stream, tmp_path, tag, capacity=8)
        assert got == expected, tag


def test_replay_idempotent(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed_replay", 3)
    a = _run_stream(spark, stream, tmp_path, "topk_replay_a", capacity=8)
    b = _run_stream(spark, stream, tmp_path, "topk_replay_b", capacity=8)
    assert a == b


def test_heavy_hitter_guarantee_on_planted_whale():
    """Pure-processor check: a whale with frequency > n/m survives any
    eviction pressure and its bounds bracket the true count; minor items
    carry honest error."""

    # 60 whale events + 40 spread over 20 minor users, capacity 4
    uids = []
    for i in range(100):
        uids.append(777 if i % 5 < 3 else 100 + (i % 20))
    pdf = pd.DataFrame(
        {
            "user_id": uids,
            "event_id": range(100),
            "ts_us": range(100),
        }
    )
    out = next(make_topk_processor(4)(("view",), iter([pdf]), _NoState()))
    rows = {int(r.user_id): r for r in out.itertuples()}
    true_whale = uids.count(777)
    assert true_whale > 100 / 4  # the guarantee's precondition
    assert 777 in rows
    w = rows[777]
    assert w.est_count - w.error <= true_whale <= w.est_count
    assert int(out.iloc[0]["user_id"]) == 777  # ranked first
    for r in rows.values():
        true = uids.count(int(r.user_id))
        assert r.est_count - r.error <= true <= r.est_count
    assert (out["n_seen"] == 100).all()
