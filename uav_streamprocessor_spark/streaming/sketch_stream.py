"""Incremental sketch maintenance over a streaming event feed.

The streaming twin of operators/sketches.py: each micro-batch reduces to
per-(event_type, day) HLL sketches of user_id (`daily_sketches`), written
as its own partition of a sketch store by `sinks.write_batch_partition`;
readers answer running distinct-user questions by union-merging the
stored sketches — never by rescanning events. Because HLL union is
associative and a replayed batch writes the same sketches again, the
accumulated store equals the batch sketch over everything ingested —
asserted exactly in tests/test_sketch_stream.py.

Scale properties:
- State per batch is |event_types| x |days-touched| sketches (~2 KB
  each), independent of event volume — the whole point of sketches as
  streaming state.
- At-least-once replay converges: a replayed batch rewrites its own
  partition with identical sketches (sinks.write_batch_partition).
- The store compacts like any partitioned table; merge cost for a reader
  is O(batches x types), not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LG_K = 12


def daily_sketches(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to one HLL sketch of user_id per
    (event_type, day): the rows a batch writes to its store partition
    (sinks.start_batch_store)."""
    return batch_df.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(_LG_K)).alias("sketch")
    )


def running_distinct_users(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Running distinct users per event_type from the accumulated store —
    a union-merge of tiny sketches, no event rescan."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"))
    )
