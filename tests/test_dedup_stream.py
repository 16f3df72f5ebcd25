"""Incremental streaming near-dup detection == batch LSH on the full
corpus, plus replay idempotence (the two properties that make it safe
to run on an unbounded ingest feed)."""

from __future__ import annotations

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators.dedup import minhash_candidates
from uav_streamprocessor_spark.streaming.dedup_stream import (
    run_incremental_neardup,
)
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"


def _run_stream(spark, tmp_path, tag):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    # two files -> two micro-batches; split leaves near-dup pairs on
    # BOTH sides of the batch boundary (ids interleave)
    parts = [docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")]
    stream = file_stream(
        spark, parts, tmp_path / f"docs_src_{tag}", "doc_id long, text string"
    )
    q = run_incremental_neardup(
        stream,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
    )
    q.awaitTermination(180)
    return {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
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
