"""Incremental k-means centroid maintenance over a streaming vector feed.

The streaming twin of operators/similarity.kmeans_lloyd, built on the
same pattern as streaming/sketch_stream.py: sufficient statistics as
streaming state, never raw data.

Each micro-batch runs the SAME fused assignment+partial-sum reducer the
batch algorithm uses (similarity.partial_sum_reducer) against FROZEN
round centroids (`partial_sums`), written as its own partition of a
partial-sum store by `sinks.write_batch_partition`. A merge reader folds
the accumulated store into one Lloyd update. Because the partials are
plain per-cluster (count, sum) vectors over disjoint row sets,
merge-of-parts == partials-of-whole, so the incrementally-maintained
update equals the batch update over everything ingested — the
equivalence tests/test_kmeans_stream.py pins round-by-round against
kmeans_lloyd, down to identical final cluster assignments.

A full Lloyd ITERATION re-scores all data against new centroids, so each
round is one replay of the feed (availableNow) with the previous round's
merged centroids as the frozen model — exactly how a training pipeline
iterates over a continuously-arriving corpus: centroids are checkpointed
model state (O(k*dim), kept in a JSON sidecar here), data is never
rescanned within a round, and a round's scan is embarrassingly parallel.

Scale properties:
- State per batch is <= k * n_arrow_batches narrow rows (k counts + sums),
  independent of batch row volume.
- At-least-once replay converges: a re-fired batch rewrites its own
  partition with identical partials (sinks.write_batch_partition),
  asserted in tests.
- Merge cost for a reader is O(batches * k), not O(vectors).
- The online (Sculley mini-batch) variant — update centroids WITHIN a
  round from each batch's partials — drops the replay requirement at the
  cost of order-dependence; the store layout supports it unchanged (fold
  partitions in src_batch order), but the equivalence-to-batch-Lloyd
  contract is what this module pins.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from uav_streamprocessor_spark.operators.similarity import (
    centroid_update_from_partials,
    partial_sum_reducer,
)
from uav_streamprocessor_spark.streaming.sinks import start_batch_store


def partial_sums(centroids: list[list[float]]):
    """The per-batch reduction against frozen centroids: a function from
    one micro-batch to its fused assignment+partial-sum rows, the rows
    the batch writes to its store partition (sinks.start_batch_store)."""
    reduce_batch, schema = partial_sum_reducer(centroids)
    return lambda batch_df: batch_df.select("embedding").mapInPandas(
        reduce_batch, schema=schema
    )


def merged_centroid_update(
    spark: SparkSession, store_dir: str, centroids: list[list[float]]
) -> list[list[float]]:
    """One Lloyd update from the accumulated partial-sum store — a fold
    over O(batches * k) narrow rows, no vector rescan. Association-order
    independent up to fp rounding; the equivalence test pins it equal to
    the batch update to 1e-9 and the induced assignments exactly."""
    rows = spark.read.parquet(store_dir).drop("src_batch").collect()
    return centroid_update_from_partials(rows, centroids)


def save_centroids(path: str, centroids: list[list[float]]) -> None:
    """Checkpoint the O(k*dim) model state between rounds (atomic
    write-then-rename so a crashed round can't publish half a model)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(centroids, fh)
    os.replace(tmp, path)


def load_centroids(path: str) -> list[list[float]]:
    with open(path) as fh:
        return json.load(fh)


def streaming_lloyd_round(
    spark: SparkSession,
    make_stream,
    work_dir: str,
    round_no: int,
    centroids: list[list[float]],
) -> list[list[float]]:
    """One full Lloyd round as a streaming pass: replay the feed through
    the partial-sum sink (fresh store + checkpoint per round — a round is
    a new model version), then merge the store into the next centroids
    and checkpoint them. `make_stream()` builds the streaming DataFrame
    (streams are single-use)."""
    store = f"{work_dir}/partials_r{round_no}"
    ckpt = f"{work_dir}/ckpt_r{round_no}"
    q = start_batch_store(make_stream(), partial_sums(centroids), store, ckpt)
    q.awaitTermination()
    new_centroids = merged_centroid_update(spark, store, centroids)
    save_centroids(f"{work_dir}/centroids_r{round_no}.json", new_centroids)
    return new_centroids
