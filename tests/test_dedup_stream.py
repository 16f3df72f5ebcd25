"""Incremental streaming near-dup detection == batch LSH on the full
corpus, plus replay idempotence (the two properties that make it safe
to run on an unbounded ingest feed)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators.dedup import minhash_candidates
from uav_streamprocessor_spark.streaming.dedup_stream import (
    candidate_pairs,
    neardup_sink,
)
from uav_streamprocessor_spark.streaming.sinks import start_foreach_batch
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"


def _run_stream(spark, tmp_path, tag, empty_first=False, splits=None):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    # two files -> two micro-batches; split leaves near-dup pairs on
    # BOTH sides of the batch boundary (ids interleave)
    splits = splits or ["doc_id % 2 = 0", "doc_id % 2 = 1"]
    parts = [docs.filter(s) for s in splits]
    if empty_first:  # a feed file with no rows: batch 0 writes no index
        parts.insert(0, docs.filter("doc_id < 0"))
    stream = file_stream(
        spark, parts, tmp_path / f"docs_src_{tag}", "doc_id long, text string"
    )
    q = start_foreach_batch(
        stream,
        neardup_sink(str(tmp_path / "index"), str(tmp_path / "pairs")),
        tmp_path / f"ckpt_{tag}",
    )
    q.awaitTermination(180)
    return {
        (r["doc_id_a"], r["doc_id_b"])
        for r in candidate_pairs(spark, str(tmp_path / "pairs")).collect()
    }


def test_incremental_equals_batch_and_replay_is_idempotent(spark, tmp_path):
    register_uav_views(spark, SF_SMALL)
    batch_pairs = {
        (r["doc_id_a"], r["doc_id_b"]) for r in minhash_candidates(spark).collect()
    }
    assert batch_pairs, "corpus should contain LSH candidate pairs"

    got = _run_stream(spark, tmp_path, "run1")
    assert got == batch_pairs

    # cross-batch coverage: at least one pair must span the even/odd split
    assert any(a % 2 != b % 2 for a, b in got), "no cross-batch pair exercised"

    # full replay with a fresh checkpoint over the same index/pairs dirs:
    # every batch re-fires; per-batch overwrite must converge to the
    # identical state (at-least-once -> effectively exactly-once)
    got2 = _run_stream(spark, tmp_path, "run2")
    assert got2 == batch_pairs

    # an empty first batch leaves an index directory with no data file;
    # the next batch reads that as "no index yet", not as a failure
    got3 = _run_stream(spark, tmp_path / "empty", "run3", empty_first=True)
    assert got3 == batch_pairs


def test_corrupt_index_fails_the_stream(spark, tmp_path):
    """A missing index is the first batch's "no index yet"; an index that
    cannot be read is a failure. A garbage file in a partition no batch
    overwrites must fail the query, not silently drop every cross-batch
    pair."""
    bad = tmp_path / "index" / "src_batch=99"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(StreamingQueryException):
        _run_stream(spark, tmp_path, "corrupt")


def test_feed_without_pairs_reads_empty(spark, tmp_path):
    """Batches that find no pair write no pairs file; the reader still
    returns an empty pair set, not a schema-inference error."""
    got = _run_stream(spark, tmp_path, "none", splits=["doc_id = 1", "doc_id = 2"])
    assert got == set()
