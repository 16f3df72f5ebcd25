"""Incremental streaming KLL quantile store: running estimates respect
the k=200 rank-error bound against EXACT percentiles of everything
ingested, n is exact, and replay is idempotent — the quantile member of
the streaming mergeable-sketch contract (HLL twin:
test_sketch_stream.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from uav_streamprocessor_spark.streaming.kll_stream import (
    per_type_sketches,
    running_quantiles,
)
from uav_streamprocessor_spark.streaming.sinks import start_batch_store
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "event_id long, ts timestamp, event_type string, value double"
# k=200 one-sided rank error ~1.65%; assert a looser 5% like the batch
# KLL tests so the gate is stable across sketch library versions
_RANK_TOL = 0.05


def _events(spark):
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    return raw.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )


def _run_stream(spark, tmp_path, tag, n_files=4):
    ev = _events(spark)
    parts = [ev.filter((F.col("event_id") % n_files) == i) for i in range(n_files)]
    stream = file_stream(spark, parts, tmp_path / f"src_{tag}", _SCHEMA)
    q = start_batch_store(
        stream,
        per_type_sketches,
        tmp_path / f"store_{tag}",
        tmp_path / f"ckpt_{tag}",
    )
    q.awaitTermination(180)
    return {
        r["event_type"]: r
        for r in running_quantiles(spark, str(tmp_path / f"store_{tag}")).collect()
    }


def _rank_of(spark, event_type, v):
    """Exact rank (fraction of values <= v) within one type's values."""
    ev = _events(spark).filter(F.col("event_type") == event_type)
    n = ev.count()
    le = ev.filter(F.col("value") <= v).count()
    return le / n, n


def test_running_quantiles_respect_rank_bound_and_exact_n(spark, tmp_path):
    got = _run_stream(spark, tmp_path, "main")
    types = [r["event_type"] for r in
             _events(spark).select("event_type").distinct().collect()]
    assert set(got) == set(types)
    for t, r in got.items():
        for q, est in ((0.5, r["p50"]), (0.9, r["p90"]), (0.99, r["p99"])):
            rank, n = _rank_of(spark, t, est)
            assert abs(rank - q) <= _RANK_TOL + 1.0 / n, (t, q, est, rank)
        assert r["n"] == _rank_of(spark, t, float("inf"))[1]  # n exact
        assert r["p50"] <= r["p90"] <= r["p99"]  # monotone


def test_replay_overwrites_not_doubles(spark, tmp_path):
    """At-least-once replay: reprocessing the whole feed against the SAME
    store (fresh checkpoint = full redelivery) must overwrite each
    batch's partition, not append — n stays exact, row count stays
    batches × types. Unlike the HLL twin, byte/estimate equality is NOT
    asserted: KLL compaction is randomized by design, so replayed
    sketches are statistically equivalent (bounds re-checked here), not
    bit-identical."""
    a = _run_stream(spark, tmp_path, "replay")
    store_dir = str(tmp_path / "store_replay")
    q = start_batch_store(
        file_stream(spark, [], tmp_path / "src_replay", _SCHEMA),
        per_type_sketches,
        store_dir,
        tmp_path / "ckpt_replay2",  # fresh -> full replay
    )
    q.awaitTermination(180)
    store = spark.read.parquet(store_dir)
    n_types = _events(spark).select("event_type").distinct().count()
    assert store.count() == 4 * n_types  # overwritten, not doubled
    b = {r["event_type"]: r
         for r in running_quantiles(spark, store_dir).collect()}
    for t, r in b.items():
        assert r["n"] == a[t]["n"]  # exact count unchanged by replay
        for qv, est in ((0.5, r["p50"]), (0.9, r["p90"]), (0.99, r["p99"])):
            rank, n = _rank_of(spark, t, est)
            assert abs(rank - qv) <= _RANK_TOL + 1.0 / n, (t, qv, est, rank)


def test_store_is_batch_partitioned_and_tiny(spark, tmp_path):
    """The store holds one sketch row per (type, batch) — state size is
    independent of event volume (the sketch-as-state contract)."""
    _run_stream(spark, tmp_path, "shape")
    store = spark.read.parquet(str(tmp_path / "store_shape"))
    n_types = _events(spark).select("event_type").distinct().count()
    assert store.count() == 4 * n_types
    assert set(store.columns) == {"event_type", "sketch", "src_batch"}
