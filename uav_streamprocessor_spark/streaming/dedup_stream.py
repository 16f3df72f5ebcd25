"""Incremental streaming near-duplicate detection.

A pretraining ingest pipeline can't re-run batch LSH over the whole
corpus per arrival; the scalable shape is an accumulated BUCKET INDEX:
each micro-batch computes its MinHash band signatures, joins them
against the signatures of everything ingested before it (cross-batch
pairs) and against itself (within-batch pairs), then appends its own
signatures to the index. The union of pairs over all batches equals the
batch LSH candidate set over the full corpus — asserted in
tests/test_dedup_stream.py against operators/dedup.minhash_candidates.

Scale properties:
- The index stores (doc_id, band, band_sig) — 16 narrow rows per doc,
  never text. The per-batch join is band-bucket-keyed, exactly like the
  batch operator; index-side partition pruning keeps replayed batches
  out (`src_batch < current`).
- Idempotent under foreachBatch replay: each batch writes its pairs and
  its index rows as its own partition of each store
  (sinks.write_batch_partition), so an at-least-once retry converges to
  the same state. `candidate_pairs` reads the pairs store.
- At 100 TB the index compacts periodically (many small src_batch dirs →
  bucketed-by-band_sig files); noted here, not needed at test scale.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.dedup import (
    band_signatures,
    minhash_signature,
)
from uav_streamprocessor_spark.operators.partitioning import spread_scan
from uav_streamprocessor_spark.streaming.sinks import write_batch_partition


def batch_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, band, band_sig) for one micro-batch.

    r17: the micro-batch usually arrives as ONE file (maxFilesPerTrigger
    pacing), which would run the 64-permutation signature UDF on one
    core — spread_scan parallelizes it exactly like the batch operator's
    pre-UDF repartition (no-op when the trigger batched many files)."""
    sigs = spread_scan(docs, "doc_id").select(
        "doc_id", minhash_signature("text").alias("sig")
    )
    return band_signatures(sigs)


def _index_before(spark, index_dir: str, batch_id: int) -> DataFrame | None:
    """The index partitions of the batches before batch_id, or None when
    no batch has written index rows yet: the directory is absent, or
    holds no data file because every earlier batch was empty. Any other
    read error (a corrupt or unreadable index) propagates and fails the
    query: treating it as "no index yet" would silently drop every
    cross-batch pair."""
    try:
        store = spark.read.parquet(index_dir)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return None
    return store.filter(F.col("src_batch") < F.lit(batch_id))


def neardup_sink(index_dir: str, pairs_dir: str):
    """foreachBatch function: detect near-dup candidate pairs of this
    batch against (index ∪ itself), then extend the index. Both the pairs
    and the index extension are this batch's partition of their store
    (sinks.write_batch_partition), so a replayed batch converges."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bands = batch_band_signatures(batch_df).persist()
        try:
            new = bands.alias("new")
            # within-batch pairs (a < b)
            pairs = new.join(
                bands.alias("b"),
                (F.col("new.band") == F.col("b.band"))
                & (F.col("new.band_sig") == F.col("b.band_sig"))
                & (F.col("new.doc_id") < F.col("b.doc_id")),
            ).select(
                F.col("new.doc_id").alias("doc_id_a"),
                F.col("b.doc_id").alias("doc_id_b"),
            )
            store = _index_before(batch_df.sparkSession, index_dir, batch_id)
            if store is not None:
                cross = (
                    store.alias("old")
                    .join(
                        new,
                        (F.col("old.band") == F.col("new.band"))
                        & (F.col("old.band_sig") == F.col("new.band_sig"))
                        & (F.col("old.doc_id") != F.col("new.doc_id")),
                    )
                    .select(
                        F.least("old.doc_id", "new.doc_id").alias("doc_id_a"),
                        F.greatest("old.doc_id", "new.doc_id").alias("doc_id_b"),
                    )
                )
                pairs = pairs.union(cross)
            write_batch_partition(pairs.distinct(), batch_id, pairs_dir)
            write_batch_partition(bands, batch_id, index_dir)
        finally:
            bands.unpersist()

    return process


def candidate_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """(doc_id_a, doc_id_b) over every batch's partition of the pairs
    store. The schema is given, not inferred: a batch that finds no pair
    writes no file, so a feed without near-duplicates leaves a store with
    nothing to infer it from, and it reads as empty."""
    return (
        spark.read.schema("doc_id_a long, doc_id_b long")
        .parquet(pairs_dir)
        .select("doc_id_a", "doc_id_b")
    )
