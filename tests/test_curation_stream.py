"""Incremental streaming curation == batch exact-dedup + quality gate,
order-independent and replay-idempotent. The corpus plants no exact
duplicates at sf0.001, so the tests AUGMENT it with cross-batch twins
(copies whose ids land in a different micro-batch than their originals)
— the dedup stage must bite, and the accepted set is checked against an
independent batch computation, the oracle-proven curation funnel's
stage counts, and a REVERSED feed order (read-time argmin resolution
makes arrival order irrelevant — the property first-batch-wins designs
don't have)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators.repetition import curation_funnel
from uav_streamprocessor_spark.streaming.curation_stream import (
    accepted_doc_ids,
    curation_stream_report,
    per_hash_survivors,
)
from uav_streamprocessor_spark.streaming.sinks import start_batch_store
from uav_streamprocessor_spark.streaming.sources import file_stream

SF_SMALL = "/root/testdata/sf0.001"
_COPY_OFFSET = 100_000  # 100000 % 3 == 1: a copy of id≡0 lands in file ≡1


@pytest.fixture()
def aug_docs(spark):
    """Corpus + 20 planted exact twins under shifted ids (cross-batch by
    construction for the %3 feed split)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    twins = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + _COPY_OFFSET
    )
    return docs.unionByName(twins)


def _batch_expected(aug):
    """Independent re-derivation of keep-lowest-id + Gopher gate (same
    rules, separate code path from the module under test)."""
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    ws = F.split(F.lower("text"), " ")
    n_words = F.size(ws)
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    the_hits = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" the ")))
    ) / 5
    grams = F.transform(
        F.sequence(F.lit(1), n_words - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    grams = F.when(n_words >= 3, grams).otherwise(F.array().cast("array<string>"))
    q = (
        (n_words >= 30)
        & (F.length("text") / n_words.cast("double") <= 5.5)
        & (the_hits / n_words >= 0.02)
        & (F.size(F.array_distinct(grams)) == F.size(grams))
    )
    return {
        r["doc_id"]
        for r in aug.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & q)
        .select("doc_id")
        .collect()
    }


def _run(spark, aug, tmp_path, tag, mods):
    docs = aug.select("doc_id", "text")
    parts = [docs.filter(f"doc_id % 3 = {m}") for m in mods]
    stream = file_stream(
        spark, parts, tmp_path / f"docs_{tag}", "doc_id long, text string"
    )
    q = start_batch_store(
        stream, per_hash_survivors, tmp_path / "store", tmp_path / f"ckpt_{tag}"
    )
    q.awaitTermination(180)
    return {
        r["doc_id"] for r in accepted_doc_ids(spark, str(tmp_path / "store")).collect()
    }


def test_streaming_curation_equals_batch_and_funnel(spark, tmp_path, aug_docs):
    register_uav_views(spark, SF_SMALL)
    expected = _batch_expected(aug_docs)
    assert expected, "gate should accept something"
    # every planted twin loses to its lower-id original
    assert not {d for d in expected if d >= _COPY_OFFSET}

    got = _run(spark, aug_docs, tmp_path, "fwd", [0, 1, 2])
    assert got == expected

    # the store's funnel report matches the oracle-proven batch funnel
    # over the same augmented corpus (view swapped in, restored after)
    try:
        aug_docs.createOrReplaceTempView("documents")
        funnel = {
            r["stage"]: r["n_docs"] for r in curation_funnel(spark).collect()
        }
        n_docs = aug_docs.count()
    finally:
        spark.read.parquet(f"{SF_SMALL}/documents.parquet").createOrReplaceTempView(
            "documents"
        )
    report = curation_stream_report(spark, str(tmp_path / "store")).first()
    assert report["n_exact_dedup"] == funnel["10_exact_dedup"]
    assert report["n_quality"] == funnel["20_quality"]
    # non-vacuity: both stages actually bite
    assert report["n_exact_dedup"] == n_docs - 20  # the 20 twins collapse
    assert report["n_quality"] < report["n_exact_dedup"]

    # replay idempotence: re-fire every batch over the same store
    got2 = _run(spark, aug_docs, tmp_path, "replay", [0, 1, 2])
    assert got2 == expected


def test_streaming_curation_is_arrival_order_independent(spark, tmp_path, aug_docs):
    """Read-time argmin resolution: feeding the batches in a rotated
    order must produce the identical accepted set — a first-batch-wins
    design would keep the wrong (higher-id) twin whenever a twin's batch
    precedes its original's, which this rotation arranges for every twin
    of a doc_id≡0 original (twin ≡1 lands in the first file, original ≡0
    in the last)."""
    register_uav_views(spark, SF_SMALL)
    expected = _batch_expected(aug_docs)
    got = _run(spark, aug_docs, tmp_path, "rev", [1, 2, 0])
    assert got == expected


@pytest.mark.fast
def test_restart_replays_the_uncommitted_batch_into_its_own_partition(
    spark, tmp_path
):
    """Stop after 2 of 3 feed files with batch 1's commit lost, add the
    last file and restart from the same checkpoint: Spark re-runs batch
    1, which replaces its own store partition, then runs batch 2. The
    store equals an uninterrupted run's, partition by partition, and so
    does the reader output."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    parts = [docs.filter(f"doc_id % 3 = {m}") for m in range(3)]
    schema = "doc_id long, text string"

    def run(src, parts, store, ckpt):
        q = start_batch_store(
            file_stream(spark, parts, src, schema), per_hash_survivors, store, ckpt
        )
        q.awaitTermination(180)
        return q

    run(tmp_path / "whole_src", parts, tmp_path / "whole", tmp_path / "whole_ckpt")

    src, store, ckpt = tmp_path / "src", tmp_path / "store", tmp_path / "ckpt"
    run(src, parts[:2], store, ckpt)
    for lost in ("1", ".1.crc"):  # batch 1's commit and its checksum
        (ckpt / "commits" / lost).unlink()
    parts[2].coalesce(1).write.parquet(str(src / "f2"))
    q = run(src, [], store, ckpt)
    assert [p.batchId for p in q.recentProgress] == [1, 2]

    def per_partition(d):
        counts = spark.read.parquet(str(d)).groupBy("src_batch").count()
        return sorted(tuple(r) for r in counts.collect())

    def accepted(d):
        return sorted(r["doc_id"] for r in accepted_doc_ids(spark, str(d)).collect())

    # one partition per batch, and the replayed one holds one copy
    whole = per_partition(tmp_path / "whole")
    assert [b for b, _ in whole] == [0, 1, 2]
    assert per_partition(store) == whole
    assert accepted(store) == accepted(tmp_path / "whole")
