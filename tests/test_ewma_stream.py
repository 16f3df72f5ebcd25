"""Streaming EWMA (applyInPandasWithState) == the sequential batch
reference on a replayed feed; batch boundaries + intra-batch arrival
order irrelevant; replay idempotent; and the TRUE recursion reconciles
with the batch finite-horizon screen (ev_ewma_deviation) within the
documented (1-alpha)^K truncation bound."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.ewma_stream import (
    ewma_batch_reference,
    ewma_stream,
    make_ewma_processor,
)
from uav_streamprocessor_spark.streaming.replay import _NoState
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "event_id long, ts timestamp, user_id long, value double"
_ALPHA = 0.4
_HORIZON = 8


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
        r["value"],
        None if r["ewma_prev"] is None else round(r["ewma_prev"], 9),
        None if r["deviation"] is None else round(r["deviation"], 9),
    )


def _run_stream(spark, stream, tmp_path, name):
    start_memory_sink(
        ewma_stream(stream, alpha=_ALPHA), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return {_key(r): _row_tuple(r) for r in spark.table(name).collect()}


def _batch(spark):
    return {
        _key(r): _row_tuple(r)
        for r in ewma_batch_reference(_events(spark), alpha=_ALPHA).collect()
    }


def test_stream_equals_batch_and_boundaries_irrelevant(spark, tmp_path):
    expected = _batch(spark)
    assert len(expected) == _events(spark).count()
    # first event per user carries no deviation; later events do
    n_null = sum(1 for v in expected.values() if v[2] is None)
    n_users = _events(spark).select("user_id").distinct().count()
    assert n_null == n_users
    for n_files, scramble in ((1, False), (3, False), (5, True)):
        src = tmp_path / f"feed_{n_files}_{scramble}"
        stream = _feed(spark, src, n_files, scramble)
        tag = f"ewma_{n_files}_{scramble}"
        assert _run_stream(spark, stream, tmp_path, tag) == expected, tag


def test_replay_idempotent(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed", 3)
    first = _run_stream(spark, stream, tmp_path, "ewma_replay_a")
    again = _run_stream(spark, stream, tmp_path, "ewma_replay_b")
    assert first == again


def test_recursion_matches_python_reference():
    """The processor's per-row arithmetic is the textbook recursion."""
    import pandas as pd

    xs = [5.0, 1.0, 4.0, 4.0, 0.0, 10.0]
    pdf = pd.DataFrame(
        {
            "user_id": 1,
            "event_id": range(len(xs)),
            "ts_us": range(len(xs)),
            "value": xs,
        }
    )
    out = next(make_ewma_processor(_ALPHA)((1,), iter([pdf]), _NoState()))
    ewma, prevs = xs[0], [None]
    for x in xs[1:]:
        prevs.append(ewma)
        ewma = _ALPHA * x + (1 - _ALPHA) * ewma
    got = [None if p is None or math.isnan(p) else p for p in out["ewma_prev"]]
    assert got[0] is None
    for g, e in zip(got[1:], prevs[1:]):
        assert abs(g - e) < 1e-12


def test_true_recursion_reconciles_with_batch_horizon_screen(spark):
    """ev_ewma_deviation restarts the recursion at the oldest available
    lag, so vs the TRUE recursion: (a) events with <= horizon prior
    events match EXACTLY (up to the query's 6dp rounding); (b) beyond
    that the error is bounded by (1-alpha)^(horizon-1) * the user's
    value range. Verify both for every event the batch screen scores."""
    from uav_streamprocessor_spark.fixtures import register_uav_views
    from uav_streamprocessor_spark.operators import events_ops

    register_uav_views(spark, SF_SMALL)
    bound_factor = (1 - _ALPHA) ** (_HORIZON - 1)
    true_prev = {
        _key(r): r["ewma_prev"]
        for r in ewma_batch_reference(_events(spark), alpha=_ALPHA).collect()
        if r["ewma_prev"] is not None
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    indexed = (
        _events(spark)
        .withColumn("idx", F.row_number().over(w) - 1)  # = # prior events
        .collect()
    )
    n_prior = {_key(r): r["idx"] for r in indexed}
    vrange = {
        r["user_id"]: r["mx"] - r["mn"]
        for r in _events(spark)
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.min("value").alias("mn"))
        .collect()
    }
    scored = events_ops.ewma_deviation(
        spark, alpha=_ALPHA, horizon=_HORIZON, top_n=None
    ).collect()
    assert len(scored) > 0
    n_exact = n_bounded = 0
    for r in scored:
        k = _key(r)
        err = abs(r["ewma_prev"] - true_prev[k])
        if n_prior[k] <= _HORIZON:
            assert err <= 1e-6, (k, err)
            n_exact += 1
        else:
            assert err <= bound_factor * vrange[r["user_id"]] + 1e-9, (k, err)
            n_bounded += 1
    # both regimes must actually occur on this corpus
    assert n_exact > 0 and n_bounded > 0
