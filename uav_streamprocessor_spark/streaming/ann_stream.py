"""Incremental ANN index maintenance over a streaming vector feed.

The similarity stack's entry in the engine's streaming-state series
(dedup_stream: LSH doc index; sketch_stream: mergeable sketches;
kmeans_stream: centroid sufficient statistics; curation_stream: survivor
store): each micro-batch of vectors is coded with the SAME
random-hyperplane bucket expression the batch ANN query uses
(similarity.bucket_code_col — planes are plan constants, so batch and
streaming entries are bit-identical) and is written as its own
partition of a bucket-coded index store by `sinks.write_batch_partition`
(replay-idempotent; one checkpoint lineage per index dir). Queries probe
the ACCUMULATED store with the same multi-probe candidate join + exact
cosine re-rank as the batch operator — proven to return exactly
`ann_lsh_topk`'s results once the feed is fully ingested
(tests/test_ann_stream.py).

This is how a vector index rides an ingest feed: the index is an
append-only partitioned table of (vec_id, bucket, vector), additions
cost one bucket-code projection per batch (map-only — the code is a
per-row expression), and NO rebuild ever happens. Because a vector's
bucket depends only on the vector, arrival order and batch boundaries
cannot change the index contents — the same order-independence argument
as curation_stream's argmin, here by pure statelessness.

Scale properties:
- Per-batch write is batch-sized; the store compacts/re-clusters by
  `bucket` periodically (storage.compact_parquet) so probes read few
  files — the standard index-maintenance pattern.
- A probe broadcasts the (tiny) query set against the store and prunes
  by bit_count(bucket XOR qbucket) <= h BEFORE any distance math; scan
  fraction ≈ C(planes, <=h) / 2^planes, same as batch ANN.
- Re-deliveries within a feed (a later batch re-sending an earlier
  vector — the source-level at-least-once case) land in a new partition
  and are collapsed at read time by index_topk's latest-src_batch dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.similarity import (
    _cosine,
    bucket_code_col,
)


def bucket_coded(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's vectors with their bucket codes: the rows a
    batch writes to its index partition (sinks.start_batch_store)."""
    return batch_df.select(
        "vec_id",
        "label",
        "embedding",
        bucket_code_col(F.col("embedding")).alias("bucket"),
    )


def index_topk(
    spark: SparkSession,
    index_dir: str,
    n_queries: int = 5,
    k: int = 5,
    max_hamming: int = 2,
) -> DataFrame:
    """Multi-probe top-k against the accumulated index — the streaming
    twin of similarity.ann_lsh_topk, column-for-column: candidates are
    index entries within `max_hamming` bucket bits of the query's code,
    re-ranked by exact cosine. Queries are drawn from the index itself
    (vec_id < n_queries), matching the batch operator's query set.

    Read-time dedup (ADVICE r4): partition overwrite makes SAME-batch
    replay idempotent, but a source-level at-least-once feed can
    re-deliver a vec_id in a DIFFERENT batch, leaving the vector in two
    partitions and duplicating it in every candidate list. One row per
    vec_id is kept — the max src_batch (latest delivery wins, so an
    upstream update also supersedes cleanly). The bucket code is a pure
    function of the vector, so for true re-deliveries the kept row is
    bit-identical to the dropped one."""
    raw = spark.read.parquet(index_dir)
    latest = Window.partitionBy("vec_id").orderBy(F.col("src_batch").desc())
    coded = (
        raw.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "src_batch")
    )
    queries = coded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    cands = coded.join(
        F.broadcast(queries),
        (
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))
            <= max_hamming
        )
        & (F.col("vec_id") != F.col("query_id")),
    )
    sim = F.round(_cosine(F.col("qvec"), F.col("embedding")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cands.select("query_id", "vec_id", "label", sim.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
