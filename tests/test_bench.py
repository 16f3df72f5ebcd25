"""The bench harness (bench.py): run-count arithmetic, the canary set,
write-once stamped run records and the one `compare` that turns two
records into per-lane canary-normalized ratios and fuses."""

from __future__ import annotations

import json

import pytest

import bench

STAMP = {"cpus": 32, "sf": 0.1, "runs_per_query": 3, "warm": True, "method": 1}


def _canary_dict(jvm_each: float, udf: float) -> dict:
    out = {q: jvm_each for q in bench.CANARY if q != "uav_pixel_detections"}
    out["uav_pixel_detections"] = udf
    return out


def _rec(queries: dict, jvm_each: float, udf: float, **stamp) -> dict:
    return {
        "queries": queries,
        "canary": _canary_dict(jvm_each, udf),
        "stamp": {**STAMP, **stamp},
    }


def test_runs_for_override_tolerates_garbage_and_respects_global(monkeypatch):
    """ADVICE r11 bench.py: a malformed RUNS_OVERRIDE entry must not
    crash the whole bench, and EXTRA_RUNS is a floor — a global N above
    the boost wins (the adjudication-session case)."""
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_RUNS_OVERRIDE", "dedup_winnowing=oops,tpch_q1_pricing=4"
    )
    # malformed value ignored → EXTRA_RUNS floor (7) survives
    assert bench._runs_for("dedup_winnowing", 3) == 7
    # valid even override rounds up to odd
    assert bench._runs_for("tpch_q1_pricing", 3) == 5
    monkeypatch.delenv("SPARK_GRAFT_BENCH_RUNS_OVERRIDE")
    # global ask above the boost is honored, not pinned back to 7
    assert bench._runs_for("dedup_winnowing", 9) == 9
    # boost still floors a smaller global default
    assert bench._runs_for("dedup_winnowing", 3) == 7
    # unboosted query follows the global default (odd-forced)
    assert bench._runs_for("tpch_q1_pricing", 2) == 3


def test_ngram_novelty_on_wide_median_list():
    assert bench.EXTRA_RUNS["text_ngram_novelty"] == 7
    assert bench._runs_for("text_ngram_novelty", 3) == 7


def test_repaired_r12_artifact_carries_both_sets():
    d = json.load(open("BENCH_full_r12.json"))
    assert len(d["queries"]) == 69
    assert len(d["retained_queries"]) == 32
    assert "repair_note" in d


def test_canary_queries_are_headline_members():
    """The canary set must cost nothing: every member is already in
    HEADLINE so the driver's headline-only run records it too."""
    assert len(bench.CANARY) == 6
    for q in bench.CANARY:
        assert q in bench.HEADLINE
    # the Python-UDF lane drifts independently of the JVM lane (r14
    # session-excursion adjudication) — the canary set must fingerprint
    # both: at least one Arrow/UDF-path member
    assert "uav_pixel_detections" in bench.CANARY


def test_compare_lane_split():
    """UDF-lane queries normalize against the pixel canary, JVM queries
    against the 5-query total — the lanes drift independently (r14)."""
    base = _rec({"emb_kmeans_profile": 1.0, "rel_orders_rollup": 1.0}, 0.2, 0.5)
    # new: JVM lane unchanged (1.0 total), UDF lane 2x slower (1.0)
    new = _rec({"emb_kmeans_profile": 2.0, "rel_orders_rollup": 2.0}, 0.2, 1.0)
    table = bench.compare(base, new)
    nr = table["ratios"]
    assert nr["emb_kmeans_profile"]["lane"] == "udf"
    # udf: (2.0/1.0)/(1.0/0.5) = 1.0 — excused by the pixel canary
    assert nr["emb_kmeans_profile"]["normalized"] == 1.0
    # jvm: (2.0/1.0)/(1.0/1.0) = 2.0 — a real fuse
    assert nr["rel_orders_rollup"]["lane"] == "jvm"
    assert nr["rel_orders_rollup"]["normalized"] == 2.0
    assert table["fuses"] == ["rel_orders_rollup"]


def test_compare_skips_trivia_and_missing():
    """Sub-0.2s readings never open fuses (jitter), and queries absent
    from the base record are skipped."""
    base = _rec({"tiny_q": 0.05}, 0.2, 0.5)
    table = bench.compare(base, _rec({"tiny_q": 0.15, "new_q": 1.0}, 0.2, 0.5))
    assert table["ratios"]["tiny_q"]["normalized"] == 3.0
    assert table["fuses"] == []  # 3x but sub-0.2s both sides
    assert "new_q" not in table["ratios"]


def test_compare_without_lane_canary_falls_back_to_raw():
    base = _rec({"rel_orders_rollup": 1.0}, 0.2, 0.5)
    del base["canary"]
    table = bench.compare(base, _rec({"rel_orders_rollup": 1.6}, 0.2, 0.5))
    assert table["ratios"]["rel_orders_rollup"] == {
        "raw": 1.6, "lane": "jvm", "unnormalized": True,
    }
    assert table["fuses"] == ["rel_orders_rollup"]


def test_compare_refuses_8_vs_32_cpus():
    """The r18 scaling run (local[8]) read dedup_edit_distance 6.741 s
    against 2.888 s at local[32]; normalized against each other they
    opened a spurious 1.885 fuse. The committed pair now refuses."""
    c32 = json.load(open("BENCH_full_r18.json"))
    c8 = json.load(open("BENCH_full_r18_c8.json"))
    assert (c32["stamp"]["cpus"], c8["stamp"]["cpus"]) == (32, 8)
    with pytest.raises(ValueError, match="cpus"):
        bench.compare(c32, c8)
    # each is a valid reference at its own core count
    assert bench.compare(c8, c8)["fuses"] == []


def test_compare_refuses_method_1_vs_2():
    base = _rec({"q": 1.0}, 0.2, 0.5)
    with pytest.raises(ValueError, match="method"):
        bench.compare(base, _rec({"q": 1.0}, 0.2, 0.5, method=2))


def test_compare_refuses_unstamped_record():
    base = _rec({"q": 1.0}, 0.2, 0.5)
    unstamped = {k: v for k, v in base.items() if k != "stamp"}
    with pytest.raises(ValueError, match="stamp"):
        bench.compare(unstamped, base)
    partial = {**base, "stamp": {"cpus": 32, "sf": 0.1}}
    with pytest.raises(ValueError, match="stamp"):
        bench.compare(base, partial)


def test_write_record_never_overwrites(tmp_path):
    rec = {**_rec({"q": 1.0}, 0.2, 0.5), "source": "builder"}
    path = bench.record_path(rec)
    assert path.parent == bench.RECORD_DIR
    assert path.name.endswith("_builder_c32_sf0.1.json")
    assert bench.record_path(
        {**rec, "stamp": {**rec["stamp"], "method": bench.STREAM_METHOD}}
    ).name.endswith("_builder_c32_sf0.1_streaming.json")

    target = tmp_path / "runs" / path.name
    bench.write_record(rec, target)
    first = target.read_bytes()
    assert json.loads(first) == rec
    with pytest.raises(FileExistsError):
        bench.write_record({**rec, "queries": {"q": 2.0}}, target)
    assert target.read_bytes() == first
