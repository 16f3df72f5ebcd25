"""Streaming sequence packing == the batch window packer on the full
feed (shared pack_summary roll-up); intra-batch arrival order and batch
boundaries are irrelevant under the doc_id-ordered-feed contract;
a full replay of the feed reproduces identical assignments; budget
conservation holds row-by-row."""

from __future__ import annotations

from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.packing import (
    pack_summary,
    sequence_packing,
)
from uav_streamprocessor_spark.streaming.packing_stream import packed_stream
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices

SF_SMALL = "/root/testdata/sf0.001"
_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _feed(spark, src, n_files, scramble_within=False):
    """Split documents into n doc_id-range files (per-shard doc_id order
    holds across batches — the module's ordering contract); optionally
    scramble row order WITHIN files."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    parts = ordered_slices(docs, n_files, ("doc_id",))
    if scramble_within:
        parts = [p.orderBy(F.col("doc_id").desc()) for p in parts]
    return file_stream(spark, parts, src, _SCHEMA)


def _run(spark, stream, tmp_path, name):
    start_memory_sink(
        packed_stream(stream), name, tmp_path / f"ckpt_{name}"
    ).awaitTermination(180)
    return spark.table(name)


def test_streaming_packing_equals_batch_and_conserves_budget(spark, tmp_path):
    stream = _feed(spark, tmp_path / "feed", 3)
    staged = _run(spark, stream, tmp_path, "pack_run1")

    got = {tuple(r) for r in pack_summary(staged).collect()}
    spark.read.parquet(f"{SF_SMALL}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    want = {tuple(r) for r in sequence_packing(spark).collect()}
    assert got == want and got

    # row-level invariants: every doc assigned once; seq ids consistent
    # with the running total (budget conservation)
    rows = staged.orderBy("shard", "doc_id").collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    cum = {}
    for r in rows:
        c = cum.get(r["shard"], 0)
        assert r["seq_id"] == c // 512
        c += r["n_tokens"]
        assert r["seq_id_last"] == (c - 1) // 512
        cum[r["shard"]] = c

    # full replay (fresh checkpoint, same feed): identical assignments
    replay = _run(spark, stream, tmp_path, "pack_replay")
    assert {tuple(r) for r in replay.collect()} == {
        tuple(r) for r in staged.collect()
    }


def test_streaming_packing_order_rotation(spark, tmp_path):
    """Different batch boundaries AND scrambled intra-batch order give
    the identical summary — only the cross-batch doc_id contract
    matters."""
    stream_a = _feed(spark, tmp_path / "feed_a", 2)
    stream_b = _feed(spark, tmp_path / "feed_b", 5, scramble_within=True)
    sa = pack_summary(_run(spark, stream_a, tmp_path, "pack_a"))
    sb = pack_summary(_run(spark, stream_b, tmp_path, "pack_b"))
    assert {tuple(r) for r in sa.collect()} == {tuple(r) for r in sb.collect()}
