"""Incrementally-maintained ANN index == batch ANN over the full feed,
plus replay idempotence — the online index-maintenance contract."""

from __future__ import annotations

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators.similarity import ann_lsh_topk
from uav_streamprocessor_spark.streaming.ann_stream import bucket_coded, index_topk
from uav_streamprocessor_spark.streaming.sinks import start_batch_store
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "vec_id long, embedding array<float>, label int"


def _run_stream(spark, tmp_path, tag):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    # three files -> three micro-batches; ids interleave so every batch
    # contributes candidates for every query
    parts = [emb.filter(f"vec_id % 3 = {m}") for m in range(3)]
    stream = file_stream(spark, parts, tmp_path / f"vec_src_{tag}", _SCHEMA)
    q = start_batch_store(
        stream, bucket_coded, tmp_path / "index", tmp_path / f"ckpt_{tag}"
    )
    q.awaitTermination(180)
    return {
        tuple(r)
        for r in index_topk(spark, str(tmp_path / "index")).collect()
    }


def test_incremental_index_equals_batch_ann_and_replay_idempotent(
    spark, tmp_path
):
    register_uav_views(spark, SF_SMALL)
    batch = {tuple(r) for r in ann_lsh_topk(spark).collect()}
    assert batch, "batch ANN should return results"

    got = _run_stream(spark, tmp_path, "run1")
    assert got == batch

    # index volume: one row per ingested vector, nothing else
    n_vec = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    assert spark.read.parquet(str(tmp_path / "index")).count() == n_vec

    # full replay with a fresh checkpoint over the same index dir:
    # every batch re-fires and rewrites its partition with identical
    # bytes -> identical query results
    got2 = _run_stream(spark, tmp_path, "run2")
    assert got2 == batch


def test_cross_batch_redelivery_dedups_at_read(spark, tmp_path):
    """ADVICE r4: source-level at-least-once can re-deliver a vec_id in
    a DIFFERENT (later) batch of the same feed — partition overwrite
    only covers same-batch replay. index_topk must keep one row per
    vec_id (latest src_batch) so candidate lists carry no duplicates."""
    register_uav_views(spark, SF_SMALL)
    batch = {tuple(r) for r in ann_lsh_topk(spark).collect()}
    got = _run_stream(spark, tmp_path, "run1")
    assert got == batch

    # simulate a late re-delivery: the SOURCE re-sends the first third
    # as a NEW file in the same feed directory; resuming the SAME
    # checkpoint picks it up as a later batch, so the rows land in a
    # fresh src_batch partition alongside their original delivery
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    src = tmp_path / "vec_src_run1"
    emb.filter("vec_id % 3 = 0").coalesce(1).write.mode("overwrite").parquet(
        str(src / "f3_redelivered")
    )
    q = start_batch_store(
        file_stream(spark, [], src, _SCHEMA),
        bucket_coded,
        tmp_path / "index",
        tmp_path / "ckpt_run1",
    )
    q.awaitTermination(180)

    # raw store now holds duplicates...
    raw = spark.read.parquet(str(tmp_path / "index"))
    n_vec = emb.count()
    assert raw.count() > n_vec
    # ...but the query surface is unchanged: same results as batch ANN,
    # and no (query_id, vec_id) appears twice
    after = index_topk(spark, str(tmp_path / "index")).collect()
    assert {tuple(r) for r in after} == batch
    keys = [(r["query_id"], r["vec_id"]) for r in after]
    assert len(keys) == len(set(keys))
