"""Streaming Welford anomaly scoring (applyInPandasWithState) == the
sequential batch reference on a replayed feed; batch boundaries +
intra-batch arrival order irrelevant; replay idempotent; and the online
state reproduces the relational expanding-window query
(ev_prequential_zscore) to fp tolerance — Welford vs two-pass window
aggregates differ only in floating-point association order."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators import events_ops
from uav_streamprocessor_spark.streaming.anomaly_stream import (
    anomaly_batch_reference,
    anomaly_stream,
)
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )


def _feed(spark, src, n_files, scramble_within=False):
    parts = ordered_slices(_events(spark), n_files, ("ts", "event_id"))
    if scramble_within:
        parts = [p.orderBy(F.col("event_id").desc()) for p in parts]
    return file_stream(spark, parts, src, _SCHEMA)


def _key(r):
    return (r["user_id"], r["event_id"])


def _row_tuple(r):
    return (
        r["n_prior"],
        None if r["z"] is None else round(r["z"], 9),
    )


def _run_stream(spark, stream, tmp_path, name):
    start_memory_sink(
        anomaly_stream(stream), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return {_key(r): _row_tuple(r) for r in spark.table(name).collect()}


def _batch(spark):
    return {
        _key(r): _row_tuple(r)
        for r in anomaly_batch_reference(_events(spark)).collect()
    }


def test_stream_equals_batch_across_splits_and_order(spark, tmp_path):
    expected = _batch(spark)
    for n_files, scramble, name in [
        (1, False, "anom_one"),
        (4, False, "anom_four"),
        (3, True, "anom_scrambled"),
    ]:
        stream = _feed(spark, tmp_path / f"feed_{name}", n_files, scramble)
        got = _run_stream(spark, stream, tmp_path, name)
        assert got == expected, f"{name}: stream != sequential batch"


def test_stream_replay_idempotent(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed_replay", 2)
    first = _run_stream(spark, stream, tmp_path, "anom_replay_a")
    again = _run_stream(spark, stream, tmp_path, "anom_replay_b")
    assert first == again


def test_welford_matches_relational_expanding_window(spark):
    """The online state == the two-pass expanding-window query on every
    event the registered screen reports (fp tolerance only)."""
    register_uav_views(spark, SF_SMALL)
    relational = {
        (r["user_id"], r["event_id"]): r
        for r in events_ops.prequential_zscore(spark).collect()
    }
    assert relational  # the screen bites on this corpus (16 at sf0.001)
    welford = {
        _key(r): r
        for r in anomaly_batch_reference(_events(spark)).collect()
    }
    for k, rel in relational.items():
        w = welford[k]
        assert w["n_prior"] == rel["n_prior"]
        assert w["z"] is not None and abs(w["z"]) > 3
        assert math.isclose(w["z"], rel["z"], rel_tol=1e-6, abs_tol=1e-6)


def test_welford_textbook_unit_trace(spark):
    """Hand trace: values 1..9 then 100 for one user — the 10th event's
    z is (100 - mean(1..9)) / std(1..9) = (100 - 5) / sqrt(7.5)."""
    rows = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i:02d}", 1, float(v))
         for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100])],
        "event_id long, ts_s string, user_id long, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "value")
    out = {r["event_id"]: r for r in anomaly_batch_reference(rows).collect()}
    expected = (100 - 5.0) / math.sqrt(7.5)
    assert math.isclose(out[9]["z"], expected, rel_tol=1e-12)
    assert out[0]["z"] is None and out[1]["z"] is None  # no prior variance
    assert out[9]["n_prior"] == 9
