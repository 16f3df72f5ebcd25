"""Incremental corpus curation over a streaming document feed: exact
dedup + quality gating as streaming state, resolved at read time.

The third instance of the engine's streaming-state pattern (after
dedup_stream's LSH index and sketch_stream/kmeans_stream's mergeable
summaries): each micro-batch reduces its documents to ONE row per
text-hash — (md5(text), min doc_id in batch, that doc's quality flag) —
written as its own partition of a survivor store by
`sinks.write_batch_partition`.
Readers resolve the GLOBAL survivor per hash with an argmin fold over
the accumulated partitions, then apply the stored quality flag.

Resolving at read time (instead of first-batch-wins at write time) is
what makes the result ORDER-INDEPENDENT: min(doc_id) over batches is
associative-commutative, so the accepted set equals the batch curation
funnel's keep-lowest-id + Gopher-gate stages no matter how the feed is
split or which order batches arrive/replay — asserted in
tests/test_curation_stream.py against both the batch rules and the
oracle-proven curation funnel's stage counts.

Scale properties:
- Per-batch state is one narrow row per DISTINCT text in the batch
  (hash, id, flag) — payload text never enters the store.
- A replayed batch rewrites its own partition with identical rows
  (sinks.write_batch_partition).
- The read-time fold shuffles on the 16-byte hash only; at 100 TB the
  store compacts like any partitioned table and the fold is a
  map-side-combinable min.
- The quality gate is per-doc (no cross-doc state), so it rides inside
  the per-batch reduction for free — the same rules the batch
  `repetition.curation_funnel` proves against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.repetition import _grams_col, _with_tokens


def _staged_flags(df: DataFrame) -> DataFrame:
    """Per-doc (h, doc_id, q): text hash + the funnel's Gopher-style
    quality rules (word count >= 30, mean word length <= 5.5, 'the'
    ratio >= 0.02, zero duplicate trigrams) — expression-identical to
    repetition.curation_funnel's 20_quality stage."""
    n_words = F.size("ws")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    the_hits = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" the ")))
    ) / 5
    grams3 = _grams_col(3)
    q = (
        (n_words >= 30)
        & (F.length("text") / n_words.cast("double") <= 5.5)
        & (the_hits / n_words >= 0.02)
        & (F.size(F.array_distinct(grams3)) == F.size(grams3))
    )
    return _with_tokens(df).select(
        F.md5("text").alias("h"), "doc_id", q.cast("int").alias("q")
    )


def _min_doc_per_hash(df: DataFrame) -> DataFrame:
    """(h, doc_id, q) keeping the lowest doc_id per text-hash."""
    return (
        df.groupBy("h")
        .agg(F.min(F.struct("doc_id", "q")).alias("m"))
        .select("h", F.col("m.doc_id").alias("doc_id"), F.col("m.q").alias("q"))
    )


def per_hash_survivors(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to one survivor candidate per text-hash:
    the rows a batch writes to its store partition
    (sinks.start_batch_store)."""
    return _min_doc_per_hash(_staged_flags(batch_df))


def resolved_survivors(spark: SparkSession, store_dir: str) -> DataFrame:
    """(h, doc_id, q) with the GLOBAL minimum doc per hash — the
    order-independent argmin fold over every accumulated partition."""
    return _min_doc_per_hash(spark.read.parquet(store_dir))


def accepted_doc_ids(spark: SparkSession, store_dir: str) -> DataFrame:
    """Documents that survive exact dedup AND pass the quality gate."""
    return resolved_survivors(spark, store_dir).filter("q = 1").select("doc_id")


def curation_stream_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """(stage, n_docs) funnel report from the store — comparable row for
    row with the batch curation_funnel's dedup/quality stages."""
    surv = resolved_survivors(spark, store_dir)
    return surv.agg(
        F.count(F.lit(1)).alias("n_exact_dedup"),
        F.sum("q").cast("long").alias("n_quality"),
    )
