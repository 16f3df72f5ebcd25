"""Incremental streaming k-means == batch Lloyd on the replayed feed,
plus replay idempotence — the online-centroid-maintenance contract
(VERDICT r3 #5).

Round-by-round: each streaming round replays the feed through the fused
partial-sum sink against frozen centroids and merges the store into the
next centroids. After R rounds the centroids must match batch
kmeans_lloyd(iters=R) to fp-noise tolerance, and the induced final
cluster ASSIGNMENTS must match exactly (integers — no tolerance)."""

from __future__ import annotations

import numpy as np

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators.similarity import kmeans_lloyd
from uav_streamprocessor_spark.streaming.kmeans_stream import (
    load_centroids,
    merged_centroid_update,
    partial_sums,
    streaming_lloyd_round,
)
from uav_streamprocessor_spark.streaming.sinks import start_batch_store
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"
K = 5
ITERS = 3


def _feed(spark, tmp_path):
    """Split the embeddings corpus into 3 files -> 3 micro-batches;
    vec_ids interleave so every batch touches every generating region."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    parts = [emb.filter(f"vec_id % 3 = {m}") for m in range(3)]
    return file_stream(
        spark, parts, tmp_path / "vec_src", "vec_id long, embedding array<float>"
    )


def _seed_centroids(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(K)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def _assign_np(embs, centroids):
    C = np.asarray(centroids, dtype=np.float64)
    E = np.asarray(embs, dtype=np.float64)
    d2 = ((E[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return d2.argmin(axis=1)


def test_streaming_rounds_equal_batch_lloyd_and_replay_idempotent(
    spark, tmp_path
):
    register_uav_views(spark, SF_SMALL)
    stream = _feed(spark, tmp_path)
    work = str(tmp_path / "work")

    centroids = _seed_centroids(spark)
    for r in range(ITERS):
        centroids = streaming_lloyd_round(
            spark, lambda: stream, work, r, centroids
        )
        # model checkpoint is readable and exact
        assert load_centroids(f"{work}/centroids_r{r}.json") == centroids

    batch_assigned, batch_centroids = kmeans_lloyd(spark, k=K, iters=ITERS)

    # centroids equal to fp-noise (distributed sums associate differently)
    assert np.allclose(centroids, batch_centroids, rtol=1e-9, atol=1e-12)

    # induced assignments equal EXACTLY (integer ids, no tolerance)
    rows = batch_assigned.collect()
    embs = [[float(x) for x in r["embedding"]] for r in rows]
    got = _assign_np(embs, centroids)
    want = [r["cluster"] for r in rows]
    assert got.tolist() == want

    # state volume: <= k rows per Arrow batch per micro-batch, never the
    # row count (500 vectors -> a handful of partial rows)
    store = spark.read.parquet(f"{work}/partials_r0")
    assert store.count() <= K * 3 * 4
    assert "src_batch" in store.columns
    # besides the s* sum columns (and src_batch), only the narrow keys
    assert {c for c in store.columns if not c.startswith("s")} == {
        "cluster",
        "cnt",
    }

    # replay idempotence: re-fire ROUND 0 with a fresh checkpoint over the
    # same store; every batch rewrites its partition with identical bytes,
    # so the merged update is unchanged
    seed = _seed_centroids(spark)
    q = start_batch_store(
        stream, partial_sums(seed), f"{work}/partials_r0", tmp_path / "ckpt_replay"
    )
    q.awaitTermination(180)
    replay_update = merged_centroid_update(spark, f"{work}/partials_r0", seed)
    assert replay_update == load_centroids(f"{work}/centroids_r0.json")
