"""Streaming gap-sessionization (applyInPandasWithState + read-time
max_by fold) == the batch lag-gap query (ev_sessionize_gap) EXACTLY on
a replayed feed, open sessions included; micro-batch boundaries and
intra-batch arrival order irrelevant; replay idempotent; and a
gap-knob perturbation control proving the boundary rule bites."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.session_stream import (
    fold_session_store,
    make_session_processor,
    session_stream,
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


def _run_stream(spark, stream, tmp_path, name, gap_minutes=30):
    start_memory_sink(
        session_stream(stream, gap_minutes=gap_minutes),
        name,
        tmp_path / f"ckpt_{name}",
    ).awaitTermination(180)
    folded = fold_session_store(spark.table(name))
    return {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start_epoch"],
            r["session_end_epoch"],
            r["total_value"],
        )
        for r in folded.collect()
    }


def _batch(spark, gap_minutes=30):
    from uav_streamprocessor_spark.fixtures import register_uav_views
    from uav_streamprocessor_spark.operators import events_ops

    register_uav_views(spark, SF_SMALL)
    return {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start_epoch"],
            r["session_end_epoch"],
            r["total_value"],
        )
        for r in events_ops.sessionize_gap_method(
            spark, gap_minutes=gap_minutes
        ).collect()
    }


def test_stream_equals_batch_and_boundaries_irrelevant(spark, tmp_path):
    expected = _batch(spark)
    assert len(expected) > 0
    n_events_total = _events(spark).count()
    assert sum(v[0] for v in expected.values()) == n_events_total
    for n_files, scramble in ((1, False), (4, False), (7, True)):
        src = tmp_path / f"feed_{n_files}_{scramble}"
        stream = _feed(spark, src, n_files, scramble)
        tag = f"sess_{n_files}_{scramble}"
        assert _run_stream(spark, stream, tmp_path, tag) == expected, tag


def test_replay_idempotent(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed", 4)
    first = _run_stream(spark, stream, tmp_path, "sess_replay_a")
    again = _run_stream(spark, stream, tmp_path, "sess_replay_b")
    assert first == again


def test_gap_knob_bites(spark, tmp_path):
    """Perturbation control: a tiny gap threshold must shatter sessions
    (more sessions than the 30-min run, same event total), and stream
    == batch must hold at the perturbed knob too."""
    expected_tight = _batch(spark, gap_minutes=1)
    expected_wide = _batch(spark, gap_minutes=30)
    assert len(expected_tight) > len(expected_wide)
    assert sum(v[0] for v in expected_tight.values()) == sum(
        v[0] for v in expected_wide.values()
    )
    stream = _feed(spark, tmp_path / "feed_tight", 3)
    got = _run_stream(spark, stream, tmp_path, "sess_tight", gap_minutes=1)
    assert got == expected_tight


def test_processor_splits_and_carries_state_across_batches():
    """Unit trace: a session spanning two micro-batches closes only when
    the later batch's first event exceeds the gap; aggregates carry."""

    class _State:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.exists = True
            self.get = v

    proc = make_session_processor(gap_minutes=1)  # gap = 60s
    st = _State()
    us = 1_000_000
    b1 = pd.DataFrame(
        {
            "user_id": 7,
            "event_id": [1, 2],
            "ts_us": [0 * us, 30 * us],
            "value": [1.0, 2.0],
        }
    )
    out1 = next(proc((7,), iter([b1]), st))
    # one open partial: session 1, 2 events
    assert list(out1["session_seq"]) == [1]
    assert list(out1["n_events"]) == [2]
    # batch 2: first event within gap (joins session 1), second far away
    b2 = pd.DataFrame(
        {
            "user_id": 7,
            "event_id": [3, 4],
            "ts_us": [80 * us, 500 * us],
            "value": [3.0, 4.0],
        }
    )
    out2 = next(proc((7,), iter([b2]), st))
    rows = list(
        zip(out2["session_seq"], out2["n_events"], out2["total_value"])
    )
    assert rows == [(1, 3, 6.0), (2, 1, 4.0)]
    # the fold keeps the 3-event version of session 1
    assert st.get[0] == 2 and st.get[3] == 1


# ---------------------------------------------------------------------------
# evict=True: watermark-driven state eviction (r7)
# ---------------------------------------------------------------------------

def _run_evicting(spark, stream, tmp_path, name, gap_minutes=30):
    start_memory_sink(
        session_stream(stream, gap_minutes=gap_minutes, evict=True),
        name,
        tmp_path / f"ckpt_{name}",
    ).awaitTermination(180)
    return spark.table(name)


def _by_start(df):
    from uav_streamprocessor_spark.streaming.session_stream import (
        fold_session_sessions,
    )

    return {
        (r["user_id"], r["session_start_epoch"]): (
            r["n_events"],
            r["session_end_epoch"],
            r["total_value"],
        )
        for r in fold_session_sessions(df).collect()
    }


def test_evicting_mode_matches_unbounded_results(spark, tmp_path):
    """Eviction changes the state footprint, never the sessions: the
    (user, start_epoch)-keyed fold of the evicting run must equal the
    unbounded run's — timeouts only finalize sessions the gap rule had
    already sealed."""
    stream = _feed(spark, tmp_path / "feed_evict_eq", 4)
    evicting = _by_start(_run_evicting(spark, stream, tmp_path, "sess_evict"))
    start_memory_sink(
        session_stream(stream),  # unbounded twin
        "sess_unbounded_twin",
        tmp_path / "ckpt_unb",
    ).awaitTermination(180)
    unbounded = _by_start(spark.table("sess_unbounded_twin"))
    assert evicting == unbounded
    assert len(evicting) > 0


def test_eviction_fires_and_emits_final_without_new_events(spark, tmp_path):
    """A user silent past gap + watermark gets their open session
    finalized by the TIMEOUT path: the evicting run emits an extra row
    for that user in a later batch with no new events — observable as
    more raw emissions than the unbounded twin — and the session
    content is unchanged."""
    rows = [
        # user 1: two events in batch 1, then silent forever
        (1, "2099-01-01 10:00:00", 1, 1.0),
        (2, "2099-01-01 10:05:00", 1, 2.0),
        # user 2: events far later (batch 2) push the watermark past
        # user 1's last event + gap
        (3, "2099-01-02 10:00:00", 2, 1.0),
        (4, "2099-01-02 10:01:00", 2, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "value")
    parts = [df.filter("event_id <= 2"), df.filter("event_id > 2")]
    stream = file_stream(spark, parts, tmp_path / "feed_evict_fire", _SCHEMA)
    raw = _run_evicting(spark, stream, tmp_path, "sess_evict_fire", gap_minutes=30)
    u1 = [r for r in raw.collect() if r["user_id"] == 1]
    # batch-1 partial + timeout-final = 2 emissions for the silent user
    assert len(u1) == 2
    assert all(
        (r["n_events"], r["total_value"]) == (2, 3.0) for r in u1
    )
    folded = _by_start(raw)
    assert len([k for k in folded if k[0] == 1]) == 1  # fold absorbs the dup
