"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

    python bench.py                 # headline (+ rotation when
                                    #   SPARK_GRAFT_BENCH_FULL=1) + streaming
    python bench.py --streaming     # the streaming stores alone

Every run also writes ONE new record,
bench_runs/<UTC time>_<source>_c<cpus>_sf<sf>[_streaming].json, opened
write-once: no run rewrites or merges into another run's record. Its
"stamp" says how the reading was taken (cores, scale factor, runs per
query, warm pass, methodology version, git sha, Spark/Python/Java
versions), and compare(base, new) refuses two records whose stamps differ
in cores, scale factor, warm pass or method.

Each query is timed over a full execution (collect of a bounded result —
aggregates/top-k, so driver transfer is negligible). A warmup query runs
first so JVM/codegen startup isn't attributed to the first measurement.

Each headline query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and
reports the MEDIAN — BASELINE.md documents a 17-23s container-noise band
on single runs, so medians are what make round-over-round comparisons
trustworthy. Per-query min/max land in "spread" (stderr + JSON) so noisy
queries are visible; "value"/"queries" stay median-based and
schema-compatible with earlier rounds.

Each query additionally gets ONE untimed warmup execution before its
timed runs ($SPARK_GRAFT_BENCH_WARM=0 disables): r5-r6 flagged a
[1.34, 4.27]s spread on dedup_minhash_neardups whose root cause (r7
measurement session) is first-EXECUTION cost of each distinct UDF/codegen
path (~2.5s for the minhash signature + gram-verify subtrees), paid once
per session, not an AQE/plan regression — warm runs sit in a tight
1.2-1.7s band. Spreads therefore measure steady-state variance, the
quantity that actually predicts cluster behavior, where any hot operator
runs far more than three times per session.
"""

from __future__ import annotations

import gc
import json
import os
import platform
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from py4j.protocol import Py4JError

sys.path.insert(0, str(Path(__file__).resolve().parent))

from uav_streamprocessor_spark import registry
from uav_streamprocessor_spark.session import get_spark
from uav_streamprocessor_spark.streaming.ann_stream import bucket_coded
from uav_streamprocessor_spark.streaming.anomaly_stream import anomaly_stream
from uav_streamprocessor_spark.streaming.cms_stream import cms_stream
from uav_streamprocessor_spark.streaming.curation_stream import per_hash_survivors
from uav_streamprocessor_spark.streaming.dedup_stream import neardup_sink
from uav_streamprocessor_spark.streaming.ewma_stream import ewma_stream
from uav_streamprocessor_spark.streaming.kll_stream import per_type_sketches
from uav_streamprocessor_spark.streaming.packing_stream import packed_stream
from uav_streamprocessor_spark.streaming.rate_limit_stream import rate_limited_stream
from uav_streamprocessor_spark.streaming.session_stream import session_stream
from uav_streamprocessor_spark.streaming.sinks import (
    start_batch_store,
    start_foreach_batch,
    start_memory_sink,
)
from uav_streamprocessor_spark.streaming.sketch_stream import daily_sketches
from uav_streamprocessor_spark.streaming.sources import file_stream, ordered_slices
from uav_streamprocessor_spark.streaming.topk_stream import topk_stream

# headline set: the flagship + one representative per operator family
HEADLINE = [
    "uav_class_stats",          # flagship: filter+groupBy on detections
    "uav_frames_detections_join",  # equi-join + agg
    "uav_segment_stats",        # broadcast range join
    "uav_detection_rank",       # window rank
    "tpch_q1_pricing",          # wide aggregation
    "tpch_q3_priority",         # 3-way join + top-k
    "tpch_q5_region_revenue",   # 5-way join
    "ev_session_windows",       # session windows
    "dedup_docs_exact",         # hash dedup
    "dedup_minhash_neardups",   # minhash LSH + verify
    "dedup_simhash_neardups",   # banded simhash + hamming verify
    "text_tfidf_top_terms",     # explode + two-level agg
    "emb_knn_bruteforce",       # vector top-k
    "emb_ann_lsh",              # hyperplane-LSH ANN (multi-probe)
    "uav_pixel_detections",     # Arrow UDF pixel hot path
    # r3 breadth (VERDICT r2 #7): the heavier join/agg paths
    "ev_asof_clicks_views",     # as-of join (time-bounded backward match)
    "tpch_q18_large_volume",    # fact-fact agg + semi-join HAVING
    "tpch_q8_market_share",     # 6-way join + conditional agg
    # r3 additions: iterative + LM-join paths
    "dedup_doc_clusters",       # blocking graph -> iterative hash-min CC
    "text_unigram_cross_entropy",  # corpus-LM token join
    "emb_kmeans_profile",       # iterative Lloyd (Arrow partial-sum update)
    "text_curation_funnel",     # end-to-end dedup->quality->decontam->split
    # r4 (VERDICT r3 #8): heaviest TPC-H join chain
    "tpch_q21_waiting_suppliers",  # 4-way fact join + exists/not-exists
    # r4 additions: training-batch assembly + substring-dedup approximation
    "text_sequence_packing",       # per-shard cumsum packing window
    "text_substring_dup_spans",    # tuple-hashed 8-gram span coverage
    # r5 additions: retrieval + iterative graph centrality
    "text_bm25_topk",              # inverted-index build + BM25 top-k
    "dedup_pagerank_centrality",   # 10-round power iteration over dup graph
    # late-r5 additions: iterative tokenizer training + triangle census
    "text_bpe_train",              # 6 argmax+merge rounds on the vocab table
    "dedup_graph_triangles",       # degree-ordered wedge join + closure
    # r5 session-3 additions: LM-ratio selection + composite ANN
    "text_dsir_weights",           # dual-LM build + vocab join back
    "emb_ivfpq_topk",              # IVFADC: encode pass + LUT scoring
    # r5 session-3b additions: blocked-DP verify + gram-novelty shuffles
    "dedup_edit_distance",         # length-band blocked Levenshtein DP
    "text_ngram_novelty",          # first-occurrence gram attribution
    # late-r7 addition: char-gram fingerprint selection + fp-keyed pair join
    "dedup_winnowing",             # MOSS winnowing near-dup pairs
    # r11 addition: the data-layout family's representative
    "rel_zorder_layout",           # min-max-scaled Morton layout audit
    # r12 addition (VERDICT r11 #3): correctness anchor next to the
    # widest-spread bench query — full-probe IVFPQ recall contract
    "emb_ivfpq_recall_bound",      # degenerate-PQ recall@5 vs exact kNN
    # r12: the pure-numpy JPEG codec's accuracy contract — tracks the
    # per-image encode+decode cost of the real-pixel MJPG lane
    "media_jpeg_roundtrip",
    # r13 (VERDICT r12 #7): the pixel path over REAL MJPG AVI containers
    # — RIFF demux + T.81 entropy decode per frame, the S2 cost the
    # synthetic uav_pixel_detections twin skips; fixture built once per
    # box from the same seeds (registry._mjpeg_fixture_paths)
    "uav_pixel_detections_mjpeg",
]

# Retired to a quarterly rotation (VERDICT r3 #8): consistently sub-0.25s at
# sf0.1, so they cost headline slots without moving the total. Re-measured
# when SPARK_GRAFT_BENCH_FULL=1.
ROTATION = [
    "rel_orders_rollup",        # grouping sets
    "ev_hourly_tumbling",       # time windows
    "text_stratified_downsample",  # sampling path (hash-deterministic)
    # round-7 curation additions
    "dedup_split_leakage",      # cross-split near-dup contamination
    "text_source_overlap",      # exact pairwise source-overlap matrix
    "text_source_quota",        # per-source anti-dominance cap
    "text_length_buckets",      # padding-waste bucketing stats
    "dedup_containment",        # directional containment dedup
    "rel_compaction_plan",      # small-file compaction planner
    "ev_mad_outliers",          # median/MAD robust outlier days
    "emb_cosine_histogram",     # cosine calibration histogram
    "ev_bounce_rate",           # daily single-event-session rate
    "text_chunk_manifest",      # context-window chunk planning
    "emb_pca_spectrum",         # covariance eigenspectrum (D² reduction)
    # late-round-7 additions
    "ev_kaplan_meier",          # per-variant KM survival curve
    "ev_diff_in_diff",          # DiD causal readout (balanced panel)
    "text_distinct_ngrams",     # distinct-n diversity per source
    "text_kneser_ney",          # interpolated KN bigram LM
    "emb_silhouette",           # centroid-based silhouette per label
    "rel_zone_map_pruning",     # zone-map data-skipping audit
    "emb_random_projection",    # JL sign-projection distortion histogram
    "text_burstiness",          # Church-Gale Poisson burstiness
    "text_keyness",             # Dunning G^2 source keyness
    "rel_bloom_join_audit",     # runtime bloom-filter payoff audit
    "emb_knn_label_agreement",  # 1-NN label agreement on pair sample
    "ev_cohort_ltv",            # weekly-cohort cumulative LTV curve
    "ev_wilson_ci",             # Wilson conversion interval
    "ev_behavior_entropy",      # event-mix entropy bot screen
    "text_js_divergence",       # pairwise source JSD matrix
    "text_distinct_ngrams_approx",  # HLL swap for distinct-n
    "ev_funnel_windowed",       # attribution-window funnel
    "ev_markov_absorption",     # absorbing-chain conversion solve
    # r16 (VERDICT r15 #4): the pixel-path content-signing twins — the
    # md5-source exact-moments signature and the MJPG roundtrip contract
    # (both keyframe-pruned via the new frame_number source pushdown)
    "uav_pixel_moments",
    "uav_pixel_moments_mjpeg",
    # r16: real WAV containers → PCM features (the codec-free audio lane)
    "media_wav_features",
    "media_audio_vad",
]


# Plan-frozen canary set (VERDICT r13 #2): five trivial queries whose
# plans have been frozen for many rounds and whose warm medians move ONLY
# with box speed — their total is a per-run box fingerprint that lets a
# reader NORMALIZE cross-box comparisons (the r13 driver box read ~1.23x
# the builder's on identical code, opening three phantom TPC-H fuses;
# the r7 1.68x session shift was adjudicated the same way by hand). All
# five are HEADLINE members, so every run — including the driver's
# headline-only end-of-round run — records them at no extra cost.
# Round-over-round rule (BASELINE.md): before calling a >1.5x reading a
# regression, divide both rounds' per-query medians by their run's
# canary_total_sec; a fuse only opens on the normalized ratio.
#
# uav_pixel_detections is the PYTHON-UDF-lane canary (r14): two same-day
# same-code runs read six UDF/iterative queries 2.1-5.6x apart while the
# JVM-trivia canaries read FASTER in the slow run — the two lanes drift
# independently, so a JVM-only canary cannot normalize Arrow-path
# readings. Compare UDF-heavy queries against the pixel canary, JVM-side
# queries against the other five.
CANARY = [
    "uav_class_stats",
    "uav_segment_stats",
    "uav_detection_rank",
    "tpch_q1_pricing",
    "dedup_docs_exact",
    "uav_pixel_detections",
]

# Python/Arrow-lane queries (VERDICT r14 #4): timings dominated by
# pandas-UDF / mapInPandas / Python-iterative work, which the r14
# same-day excursion proved drifts INDEPENDENTLY of the JVM lane. These
# normalize against the uav_pixel_detections canary; everything else
# against the 5-query JVM canary total. Membership = the r14 adjudicated
# drift set + the decode/Arrow paths (media_*, uav_pixel_*) + the
# mapInPandas embedding kernels.
UDF_LANE_PREFIXES = ("media_", "uav_pixel")
UDF_LANE_QUERIES = {
    "emb_kmeans_profile",
    "emb_ivfpq_topk",
    "emb_ivfpq_recall_bound",
    "emb_ivf_topk",
    "emb_pq_quantization",
    "emb_procrustes_drift",
    "emb_pca_spectrum",
    "dedup_edit_distance",
    "text_bpe_train",
    "text_ngram_novelty",
    "rel_zorder_layout",
}


def _udf_lane(name: str) -> bool:
    return name.startswith(UDF_LANE_PREFIXES) or name in UDF_LANE_QUERIES


def _canary_fingerprints(rec: dict) -> tuple[float | None, float | None]:
    """(jvm_canary_total, udf_canary) box fingerprints of one bench
    record — the five plan-frozen JVM trivia vs the Python-UDF-lane
    pixel canary (the two lanes drift independently, r14). The JVM
    fingerprint requires ALL five members (ADVICE r15): a record
    carrying only a subset would produce a silently partial total that
    skews every normalized ratio compared against a full-total run —
    None makes the caller's 'unnormalized' fallback engage instead."""
    c = rec.get("canary") or {}
    jvm_members = [k for k in CANARY if k != "uav_pixel_detections"]
    if all(isinstance(c.get(k), (int, float)) for k in jvm_members):
        jvm = round(sum(c[k] for k in jvm_members), 3)
    else:
        jvm = None
    udf = c.get("uav_pixel_detections")
    return (jvm if jvm else None), (
        udf if isinstance(udf, (int, float)) and udf else None
    )


# Two records are comparable only when their stamps agree on these
# fields: a reading from 8 cores divided by one from 32 measures the core
# count, not the code, and the lane canaries cannot correct for it (they
# are per-job-floor bound, so they scale ≈1 with cores).
COMPARABLE = ("cpus", "sf", "warm", "method")

# Methodology versions. 1: a query's timing covers building its plan and
# collecting its bounded result (after one untimed pass when `warm`).
# 2, the streaming stores: each store's feed files are written before the
# clock starts, so a timing covers only the micro-batch loop (method-1
# streaming readings, up to r18, also covered writing the feed).
QUERY_METHOD = 1
STREAM_METHOD = 2

ROOT = Path(__file__).resolve().parent
RECORD_DIR = ROOT / "bench_runs"


def stamp(spark, sf: float, runs_per_query: int, warm: bool, method: int) -> dict:
    """The setup a reading was taken under; see COMPARABLE."""
    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
    ).stdout.strip()
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "sf": sf,
        "runs_per_query": runs_per_query,
        "warm": warm,
        "method": method,
        "git_sha": sha or None,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def record_path(rec: dict) -> Path:
    """bench_runs/<UTC time>_<source>_c<cpus>_sf<sf>[_streaming].json"""
    s = rec["stamp"]
    utc = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    kind = "_streaming" if s["method"] == STREAM_METHOD else ""
    return RECORD_DIR / f"{utc}_{rec['source']}_c{s['cpus']}_sf{s['sf']:g}{kind}.json"


def write_record(rec: dict, path: Path) -> None:
    """Write one run's record. Mode "x" raises FileExistsError on an
    existing path, so no run can rewrite another run's record."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "x") as f:
        f.write(json.dumps(rec, indent=1) + "\n")


def check_comparable(base: dict, new: dict) -> None:
    """Raise ValueError unless both records carry a stamp and the stamps
    agree on every COMPARABLE field."""
    stamps = []
    for rec in (base, new):
        s = rec.get("stamp")
        if not isinstance(s, dict) or any(s.get(k) is None for k in COMPARABLE):
            raise ValueError(f"bench record has no stamp with {COMPARABLE}")
        stamps.append(s)
    diff = {
        k: (stamps[0][k], stamps[1][k])
        for k in COMPARABLE
        if stamps[0][k] != stamps[1][k]
    }
    if diff:
        raise ValueError(f"bench records are not comparable (base, new): {diff}")


def compare(base: dict, new: dict) -> dict:
    """Per-lane canary-normalized ratios of two comparable records
    (check_comparable raises otherwise).

    For each query both records measured: raw = new/base and normalized
    = (new/new_canary) / (base/base_canary), with the canary chosen by
    lane — UDF-lane queries (_udf_lane) against uav_pixel_detections, the
    rest against the 5-query JVM canary total, because the two lanes
    drift independently (r14). When a side lacks the lane canary the raw
    ratio stands in, flagged "unnormalized". A fuse opens above 1.5,
    except for canary members and pairs whose readings are both under
    0.2 s (jitter, not a fuse)."""
    check_comparable(base, new)
    base_jvm, base_udf = _canary_fingerprints(base)
    new_jvm, new_udf = _canary_fingerprints(new)
    base_q = base.get("queries") or {}
    ratios: dict[str, dict] = {}
    fuses: list[str] = []
    for q, cur in (new.get("queries") or {}).items():
        prev = base_q.get(q)
        if not isinstance(prev, (int, float)) or prev <= 0 or cur <= 0:
            continue
        lane = "udf" if _udf_lane(q) else "jvm"
        nc, bc = (new_udf, base_udf) if lane == "udf" else (new_jvm, base_jvm)
        entry: dict = {"raw": round(cur / prev, 3), "lane": lane}
        if nc and bc:
            entry["normalized"] = round((cur / nc) / (prev / bc), 3)
        else:
            entry["unnormalized"] = True
        ratio = entry.get("normalized", entry["raw"])
        if ratio > 1.5 and q not in CANARY and max(cur, prev) >= 0.2:
            fuses.append(q)
        ratios[q] = entry
    return {
        "ratios": ratios,
        "fuses": sorted(fuses),
        "canaries": {
            "base": {"jvm": base_jvm, "udf": base_udf},
            "new": {"jvm": new_jvm, "udf": new_udf},
        },
    }


def _odd(n: int) -> int:
    """Round an even run count up, so the median of the runs is a true
    median and never the lower middle value (ADVICE r10)."""
    return n + 1 if n % 2 == 0 else n


N_STREAM_BATCHES = 4

# Per-query run-count boosts (VERDICT r10 #1): queries whose single-box
# median-of-3 readings opened perf fuses on UNTOUCHED code (the dedup-UDF
# cluster, r9→r10) get a wider median by default so one noisy session
# stops looking like a regression. Merged with (and overridable by)
# $SPARK_GRAFT_BENCH_RUNS_OVERRIDE="name=N,name=N"; even values are
# rounded up to odd so the median stays exact.
EXTRA_RUNS = {
    "dedup_simhash_neardups": 7,
    "dedup_winnowing": 7,
    "dedup_minhash_neardups": 7,
    # widest spread in the r11 full bench ([3.0, 5.4]s around a 3.46
    # median, VERDICT r11 "What's wrong" #2): median-of-7 adjudicates
    # the variance the same way the dedup trio's r10 fuse was closed
    "emb_ivfpq_topk": 7,
    # noisiest query in the r12 set (0.84s builder vs 3.27s driver on
    # identical code; 4 documented same-code excursions since r7) —
    # VERDICT r12 #4
    "text_ngram_novelty": 7,
}


def _runs_for(name: str, default: int) -> int:
    # EXTRA_RUNS is a floor, not a ceiling (ADVICE r11): an adjudication
    # session asking for N=9 globally must not get quietly pinned back to
    # 7 on exactly the noisy queries it targets.
    n = max(EXTRA_RUNS.get(name, 1), default)
    for item in os.environ.get("SPARK_GRAFT_BENCH_RUNS_OVERRIDE", "").split(","):
        if "=" in item:
            k, v = item.split("=", 1)
            if k.strip() == name:
                try:
                    n = max(1, int(v))
                except ValueError:
                    pass  # malformed entry: ignore, keep the computed N
    return _odd(n)


def _memory_sink(transform):
    """start() for a stateful store whose output rows go to a memory sink."""

    def start(stream, work: Path):
        return start_memory_sink(
            transform(stream), f"bench_{work.parent.name}", work / "ckpt"
        )

    return start


def _batch_store(reduce):
    """start() for a store that writes each micro-batch's reduction as
    its own partition of a parquet store."""
    return lambda stream, work: start_batch_store(
        stream, reduce, work / "store", work / "ckpt"
    )


_EVENTS = "event_id long, ts timestamp, user_id long, event_type string"
_VALUES = "event_id long, ts timestamp, user_id long, value double"
_TS_ORDER = ("ts", "event_id")

# One row per streaming store: (store, input table, feed schema,
# ordered_by, start). The feed is the table's schema columns split into
# N_STREAM_BATCHES files; start(stream, work) starts the store's
# availableNow query over that file stream, writing under `work`.
STREAM_STORES = [
    ("dedup_lsh_index", "documents", "doc_id long, text string", None,
     lambda s, w: start_foreach_batch(
         s, neardup_sink(str(w / "index"), str(w / "pairs")), w / "ckpt")),
    ("curation_store", "documents", "doc_id long, text string", None,
     _batch_store(per_hash_survivors)),
    ("ann_index", "embeddings",
     "vec_id long, embedding array<float>, label int", None,
     _batch_store(bucket_coded)),
    ("hll_sketch_store", "events", _EVENTS, None, _batch_store(daily_sketches)),
    ("kll_sketch_store", "events",
     "event_id long, ts timestamp, event_type string, value double", None,
     _batch_store(per_type_sketches)),
    ("rate_limit_state", "events", _EVENTS, _TS_ORDER,
     _memory_sink(rate_limited_stream)),
    ("packing_state", "documents",
     "doc_id long, text string, lang string, source string, n_chars long",
     ("doc_id",), _memory_sink(packed_stream)),
    ("ewma_state", "events", _VALUES, _TS_ORDER, _memory_sink(ewma_stream)),
    ("anomaly_state", "events", _VALUES, _TS_ORDER,
     _memory_sink(anomaly_stream)),
    ("session_state", "events", _VALUES, _TS_ORDER,
     _memory_sink(session_stream)),
    ("topk_state", "events", _EVENTS, _TS_ORDER, _memory_sink(topk_stream)),
    ("cms_state", "events", _EVENTS, _TS_ORDER, _memory_sink(cms_stream)),
]


def bench_streaming(spark, sf_dir: str, n_runs: int) -> dict[str, dict]:
    """Throughput of the streaming state stores (VERDICT r4 #6), method
    STREAM_METHOD: each store's feed is written before the clock starts,
    then ingested with maxFilesPerTrigger=1 under availableNow, so a
    timing covers the whole micro-batch loop (per-batch joins and state
    writes included) and nothing else. Reported as rows-ingested /
    wall-sec plus per-batch latency; the equivalence suites prove these
    paths correct, this records how fast the state maintenance runs.

    Each store reports the median of n_runs runs (VERDICT r11 #6: single
    readings produced the r10 false fuse). Every run gets its own
    checkpoint and store directories, so runs 2+ do not no-op against
    run 1's committed availableNow offsets."""
    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="bench_stream_") as tmp:
        for store, table, schema, ordered_by, start in STREAM_STORES:
            df = spark.read.schema(schema).parquet(f"{sf_dir}/{table}.parquet")
            rows = df.count()
            # N_STREAM_BATCHES files, by time range where the store needs
            # per-key order across batches, else by the first column mod n
            n = N_STREAM_BATCHES
            if ordered_by is not None:
                parts = ordered_slices(df, n, ordered_by)
            else:
                parts = [df.filter(df[df.columns[0]] % n == i) for i in range(n)]
            stream = file_stream(spark, parts, Path(tmp) / store / "src", schema)
            runs = []
            for i in range(n_runs):
                t0 = time.perf_counter()
                q = start(stream, Path(tmp) / store / f"run{i}")
                q.awaitTermination(600)
                sec = round(time.perf_counter() - t0, 3)
                # micro-batches that ingested rows, as the query reports them
                batches = sum(p.numInputRows > 0 for p in q.recentProgress)
                runs.append((sec, batches))
            sec, batches = sorted(runs)[n_runs // 2]
            results[store] = {
                "rows": rows,
                "batches": batches,
                "sec": sec,
                "rows_per_sec": round(rows / sec, 1),
                "sec_per_batch": round(sec / batches, 3),
            }
            if n_runs > 1:
                results[store]["runs"] = [s for s, _ in runs]
                results[store]["stat"] = "median"
            print(
                f"# streaming {store}: {rows} rows / {sec}s "
                f"= {results[store]['rows_per_sec']} rows/s",
                file=sys.stderr,
            )
    return results


def _session_hygiene(spark) -> dict:
    """Clear what a loaded session can clear before the next section and
    report what the block manager still holds. After the headline load,
    localCheckpoint blocks stay pinned (r14: 232 MB across 5 RDDs
    survived an explicit GC), and readings taken in such a session drift
    1.2-9x above dedicated-session medians (r14 streaming, r15 rotation)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    try:
        rdds = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    except Py4JError:
        return {}  # diagnostic only: must not fail a bench
    return {
        "cached_rdds": len(rdds),
        "cached_mb": round(sum(i.memSize() for i in rdds) / 1e6, 1),
    }


def _bench_one(qmap, spark, sf_dir, name, n_runs, warm, timings, spread):
    """Warm (optional) + median-of-n_runs timing for one query; medians
    land in `timings`, [min, max] in `spread`."""
    if warm:
        # one untimed pass: first execution of a UDF/codegen path costs
        # ~1-3s extra once per session (see module docstring) — exclude
        # it so spreads reflect steady-state variance
        df = qmap[name](spark, sf_dir)
        df.count() if name.startswith("uav_keyframe") else df.collect()
    q_runs = _runs_for(name, n_runs)
    runs: list[float] = []
    for _ in range(q_runs):
        t0 = time.perf_counter()
        df = qmap[name](spark, sf_dir)
        n = df.count() if name.startswith("uav_keyframe") else len(df.collect())
        runs.append(round(time.perf_counter() - t0, 3))
    runs.sort()
    timings[name] = runs[len(runs) // 2]  # median (q_runs forced odd)
    spread[name] = [runs[0], runs[-1]]
    print(
        f"# {name}: median {timings[name]}s "
        f"[{runs[0]}..{runs[-1]}, n={q_runs}] ({n} rows)",
        file=sys.stderr,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    # provenance (VERDICT r13 #2): the builder labels its runs with
    # SPARK_GRAFT_BENCH_SOURCE=builder; an unlabeled run is the driver's
    source = os.environ.get("SPARK_GRAFT_BENCH_SOURCE", "driver")
    stream_runs = _odd(max(1, int(os.environ.get("SPARK_GRAFT_BENCH_STREAM_RUNS", "3"))))
    spark = get_spark(app_name="bench")

    if "--streaming" in sys.argv:
        # a dedicated session is the authoritative streaming reading (r14:
        # stores measured after the headline load in the same session read
        # 3-9x their dedicated-session medians on identical code)
        streaming = bench_streaming(spark, sf_dir, stream_runs)
        compact = {
            "metric": "streaming_ingest",
            "value": round(sum(s["sec"] for s in streaming.values()), 3),
            "unit": "sec",
            "streaming": streaming,
            "sf": sf,
        }
        rec = {
            **compact,
            "source": source,
            "stamp": stamp(spark, sf, stream_runs, False, STREAM_METHOD),
        }
        path = record_path(rec)
        write_record(rec, path)
        print(f"# bench record: {path}", file=sys.stderr)
        print(json.dumps(compact))
        return

    qmap = registry.queries()
    # warmup: build views + run the flagship once (JVM/codegen warm), then
    # one pixel-path pass so Python worker + DataSource startup (a per-
    # session cost, ~6s) isn't attributed to the first UDF measurement
    qmap["uav_class_stats"](spark, sf_dir).collect()
    qmap["uav_pixel_detections"](spark, sf_dir).collect()

    n_runs = _odd(max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))))
    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    hygiene: dict[str, dict] = {}
    for name in HEADLINE:
        _bench_one(qmap, spark, sf_dir, name, n_runs, warm, timings, spread)
    if os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1":
        hygiene["rotation"] = _session_hygiene(spark)
        for name in ROTATION:
            _bench_one(qmap, spark, sf_dir, name, n_runs, warm, timings, spread)
    canary = {q: timings[q] for q in CANARY if q in timings}
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "runs_per_query": n_runs,
        "sf": sf,
        "source": source,
        "canary": canary,
        "canary_total_sec": round(sum(canary.values()), 3),
        "stamp": stamp(spark, sf, n_runs, warm, QUERY_METHOD),
    }
    # streaming-state throughput section (VERDICT r4 #6);
    # SPARK_GRAFT_BENCH_STREAMING=0 skips it
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        hygiene["streaming"] = _session_hygiene(spark)
        out["streaming"] = bench_streaming(spark, sf_dir, stream_runs)
        out["stamp"]["streaming_method"] = STREAM_METHOD
        out["stamp"]["streaming_runs"] = stream_runs
    if hygiene:
        out["section_hygiene"] = hygiene
    path = record_path(out)
    write_record(out, path)
    print(f"# bench record: {path}", file=sys.stderr)

    # VERDICT r5 #2/#3: the driver records only the LAST 2000 chars of
    # stdout, so the record file carries everything and stdout ONE
    # compact medians-only line (~1.2 KB) that always parses
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": n_runs,
        "source": source,
        "canary_total_sec": out["canary_total_sec"],
    }
    if "streaming" in out:
        compact["streaming_total_sec"] = round(
            sum(s["sec"] for s in out["streaming"].values()), 3
        )
    rel = path.relative_to(ROOT)
    if sf == 0.1:
        # the driver-scale line names its record, the same key set the
        # driver has always parsed at sf0.1
        compact["full"] = str(rel)
    # past the stdout budget (rotation + BENCH_FULL), drop the per-query
    # dict from the compact line — the totals still parse and the record
    # carries every timing (r6 ADVICE)
    line = json.dumps(compact)
    if len(line) > 1800:
        compact["queries"] = {"_elided": f"{len(timings)} timings in {rel}"}
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
