"""Streaming rate limiting (applyInPandasWithState) == the sequential
batch reference on a replayed feed; batch-boundary and intra-batch
arrival order are irrelevant (the processor sorts within batch and the
contract is ts-ordered replay across batches — mirroring the
order-rotation proofs in test_curation_stream.py at the boundary level);
debounce mode is the exact streaming twin of the relational lag rule;
throttle keeps a superset of debounce (VERDICT r4 #5)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.rate_limit_stream import (
    rate_limit_batch_reference,
    rate_limited_stream,
)
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"
_WINDOW_MIN = 1440  # 1 day: wide enough that throttling bites on sf0.001


def _events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )


def _feed(spark, src, n_files, scramble_within=False):
    """Split the feed into n time-range files (per-key ts order holds
    across batches — the module's ordering contract); optionally scramble
    row order WITHIN each file to prove intra-batch order is irrelevant."""
    parts = ordered_slices(_events(spark), n_files, ("ts", "event_id"))
    if scramble_within:
        parts = [p.orderBy(F.col("event_id").desc()) for p in parts]
    return file_stream(spark, parts, src, _SCHEMA)


def _run_stream(spark, stream, tmp_path, name, mode):
    start_memory_sink(
        rate_limited_stream(stream, window_minutes=_WINDOW_MIN, mode=mode),
        name,
        tmp_path / f"ckpt_{name}",
    ).awaitTermination(180)
    return {
        (r["user_id"], r["event_type"], r["event_id"]): r["kept"]
        for r in spark.table(name).collect()
    }


def _batch_flags(spark, mode):
    return {
        (r["user_id"], r["event_type"], r["event_id"]): r["kept"]
        for r in rate_limit_batch_reference(
            _events(spark), window_minutes=_WINDOW_MIN, mode=mode
        ).collect()
    }


def test_throttle_stream_equals_batch_and_boundaries_irrelevant(
    spark, tmp_path
):
    expected = _batch_flags(spark, "throttle")
    n_events = _events(spark).count()
    assert len(expected) == n_events
    # the limiter must BITE at this window: drops and keeps both present
    assert 0 < sum(expected.values()) < n_events

    got = {}
    for n_files, scramble in ((1, False), (3, False), (5, True)):
        src = tmp_path / f"feed_{n_files}_{scramble}"
        stream = _feed(spark, src, n_files, scramble)
        tag = f"throttle_{n_files}_{scramble}"
        got[tag] = _run_stream(spark, stream, tmp_path, tag, "throttle")
        assert got[tag] == expected, tag


def test_replay_idempotent(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed", 3)
    first = _run_stream(spark, stream, tmp_path, "replay_a", "throttle")
    again = _run_stream(spark, stream, tmp_path, "replay_b", "throttle")
    assert first == again
    assert first == _batch_flags(spark, "throttle")


def test_debounce_mode_equals_relational_lag_rule(spark, tmp_path):
    """mode='debounce' is the applyInPandasWithState twin of the batch
    window form (events_ops.debounce_events' keep flag) — equal
    per-event on the full feed."""
    ev = _events(spark)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    relational = {
        (r["user_id"], r["event_type"], r["event_id"]): r["kept"]
        for r in ev.withColumn(
            "kept",
            (gap.isNull() | (gap > _WINDOW_MIN * 60 * 1_000_000)).cast("int"),
        ).collect()
    }
    stream = _feed(spark, tmp_path / "feed", 3)
    streamed = _run_stream(spark, stream, tmp_path, "debounce_eq", "debounce")
    assert streamed == relational
    assert rate_limit_batch_reference(
        ev, window_minutes=_WINDOW_MIN, mode="debounce"
    ).count() == len(relational)


def test_throttle_keeps_superset_of_debounce(spark):
    """For the same window: the last KEPT event is never later than the
    last event, so throttle's gap >= debounce's gap — every
    debounce-kept event is throttle-kept. (Strictness checked too: the
    throttle keeps at least one event debounce drops somewhere on this
    corpus, or the two rules would be indistinguishable here.)"""
    throttle = _batch_flags(spark, "throttle")
    debounce = _batch_flags(spark, "debounce")
    assert set(throttle) == set(debounce)
    kept_t = {k for k, v in throttle.items() if v}
    kept_d = {k for k, v in debounce.items() if v}
    assert kept_d <= kept_t
    assert kept_d < kept_t
