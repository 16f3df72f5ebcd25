"""Streaming count-min sketch: one-sided error contract, deterministic
exactness for collision-free id sets, the classic ε·n bound on a planted
adversarial mix, exact stream⇔batch equivalence (the sketch is a
function of the event multiset), and replay idempotence."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.cms_stream import (
    cms_batch_reference,
    cms_rows,
    cms_stream,
    latest_estimates,
    make_cms_processor,
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


def _run_stream(spark, stream, tmp_path, name):
    start_memory_sink(
        cms_stream(stream), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return {
        (r["event_type"], r["user_id"]): r["est_count"]
        for r in latest_estimates(spark.table(name)).collect()
    }


def _true_counts(spark):
    return {
        (r["event_type"], r["user_id"]): r["n"]
        for r in _events(spark)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_estimates_one_sided_and_match_batch_reference(spark, tmp_path):
    """Every streamed estimate >= the true count (the CMS contract),
    and the final snapshot equals the one-pass batch reference EXACTLY
    — additivity makes the sketch order-independent, so unlike the
    eviction-based stores no sequencing caveat is needed."""
    stream = _feed(spark, tmp_path / "feed", n_files=4)
    got = _run_stream(spark, stream, tmp_path, "cms_a")
    true = _true_counts(spark)
    assert got  # non-empty
    for k, est in got.items():
        assert est >= true[k], k
    ref = {
        (r["event_type"], r["user_id"]): r["est_count"]
        for r in cms_batch_reference(_events(spark)).collect()
    }
    assert got == ref


def test_scrambled_batch_boundaries_irrelevant(spark, tmp_path):
    """2 files vs 4 scrambled files: identical final estimates — the
    sketch is a function of the event multiset alone."""
    a = _feed(spark, tmp_path / "a", n_files=2)
    b = _feed(spark, tmp_path / "b", n_files=4, scramble_within=True)
    assert _run_stream(spark, a, tmp_path, "cms_b1") == _run_stream(
        spark, b, tmp_path, "cms_b2"
    )


def test_replay_idempotent(spark, tmp_path):
    """Replaying the identical feed from a fresh checkpoint reproduces
    the same estimates bit-for-bit (the house replay-determinism
    contract; the memory sink cannot recover a checkpoint, so recovery
    itself is covered by the shared streaming suites)."""
    stream = _feed(spark, tmp_path / "feed", n_files=3)
    assert _run_stream(spark, stream, tmp_path, "cms_r1") == _run_stream(
        spark, stream, tmp_path, "cms_r2"
    )


def _estimate(proc_out, uid):
    row = proc_out[proc_out["user_id"] == uid]
    return int(row["est_count"].iloc[0])


def test_exact_for_verified_collision_free_ids():
    """Planted ids proven pairwise collision-free in every hash row
    (via cms_rows) must estimate EXACTLY — the deterministic exactness
    gate that needs no probability argument."""
    ids = [3, 17, 101, 9999, 123457]
    for d in range(4):
        buckets = [cms_rows(u)[d] for u in ids]
        assert len(set(buckets)) == len(ids), f"row {d} collides; repick ids"
    events = []
    for n, uid in zip((1, 5, 10, 2, 7), ids):
        events += [uid] * n
    pdf = pd.DataFrame({"user_id": events, "event_type": "t"})
    proc = make_cms_processor()
    out = next(proc(("t",), iter([pdf]), _NoState()))
    for n, uid in zip((1, 5, 10, 2, 7), ids):
        assert _estimate(out, uid) == n


def test_epsilon_n_bound_on_adversarial_mix():
    """10k events over 2k distinct ids at width 256: every estimate
    stays within the classic ε·n = (e/256)·n overestimate budget, and
    a planted whale's estimate is within the budget of its true 500."""
    rng = np.random.RandomState(7)
    uids = rng.randint(0, 2000, size=9500).tolist() + [777_777] * 500
    pdf = pd.DataFrame({"user_id": uids, "event_type": "t"})
    proc = make_cms_processor()
    out = next(proc(("t",), iter([pdf]), _NoState()))
    n = len(uids)
    budget = np.e / 256 * n  # ≈ 106
    true = pd.Series(uids).value_counts()
    merged = out.set_index("user_id")["est_count"]
    viol = [
        (u, int(merged[u]), int(true[u]))
        for u in true.index
        if merged[u] > true[u] + budget
    ]
    assert not viol, viol[:5]
    assert true[777_777] <= merged[777_777] <= true[777_777] + budget
