"""Incremental KLL quantile maintenance over a streaming event feed —
the quantile member of the streaming mergeable-sketch pair (HLL distinct
counts live in sketch_stream.py; the batch trio incl. approx-top-k is
operators/sketches.py). Running p50/p90/p99 of `value` per event type
WITHOUT sorting or rescanning events.

Same store shape as the HLL sink: each micro-batch reduces to one KLL
sketch per event_type (`per_type_sketches`), written as its own
partition of a parquet store by `sinks.write_batch_partition`, so a
replayed batch replaces its partition and never double-counts. One
contract difference from the HLL twin: KLL compaction is RANDOMIZED by
design, so a replayed partition holds a statistically equivalent
sketch, not identical bytes — convergence is "n exact + rank bounds
hold", not bit equality (asserted exactly that way in tests). Readers
fold-merge the tiny stored sketches. k=200 gives ~1.65% one-sided rank
error (DataSketches bound) — the read-time assertion target.

Scale properties:
- State per batch is |event_types| sketches (~KB each), independent of
  event volume; reader merge cost is O(batches × types), not O(events).
- The fold uses the same collect_list + aggregate() merge as the batch
  rollup (kll_sketch_merge_double has no union-agg form yet); fan-in is
  batches × types — bounded — and KLL rank-error bounds hold under ANY
  merge order, which is what the tests assert (estimates are
  order-sensitive in the last ULP, bounds are not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_K = 200


def per_type_sketches(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to one KLL sketch of `value` per
    event_type: the rows a batch writes to its store partition
    (sinks.start_batch_store)."""
    return batch_df.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", F.lit(_K)).alias("sketch")
    )


def running_quantiles(spark: SparkSession, store_dir: str) -> DataFrame:
    """Running p50/p90/p99 + exact n per event_type from the accumulated
    store — a fold-merge of tiny sketches, no event rescan."""
    merged = (
        spark.read.parquet(store_dir)
        .groupBy("event_type")
        .agg(F.collect_list("sketch").alias("sks"))
        .select(
            "event_type",
            F.aggregate(
                F.expr("slice(sks, 2, greatest(size(sks) - 1, 0))"),
                F.element_at("sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk"),
        )
    )
    return merged.select(
        "event_type",
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 6).alias("p50"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 6).alias("p90"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 6).alias("p99"),
        F.kll_sketch_get_n_double("sk").alias("n"),
    )
