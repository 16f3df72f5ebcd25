#!/bin/bash
# Round-gate test runner (VERDICT r12 #8 / r13 #6): the full suite, same
# coverage as `python -m pytest tests/`, in HALF the wall-clock by
# running two independent pytest processes concurrently — each with its
# own SparkSession (local[16] × 2 on the 32-cpu box) — when MemAvailable
# covers two driver heaps; otherwise the two shards run one after the
# other (the script prints which mode it chose).
#
# Shard A: the streaming/state/source/sink modules (availableNow
#          micro-batch loops dominate their time, CPU-light).
# Shard B: everything else (oracle parity, plan audits, operator
#          behavior, properties — CPU-heavy Spark jobs).
#
# The split is BY MODULE and exhaustive-by-construction: shard B is
# "tests/ minus shard A's files" via --ignore, so a new test module is
# automatically in shard B and nothing can silently fall between the
# shards. `python -m pytest tests/` remains the canonical serial form
# and is what CI-style environments should run when wall-clock doesn't
# matter.
set -u
cd "$(dirname "$0")/.."

SHARD_A=(
  tests/test_streaming.py
  tests/test_ann_stream.py
  tests/test_anomaly_stream.py
  tests/test_avi_sink.py
  tests/test_avi_source.py
  tests/test_cms_stream.py
  tests/test_curation_stream.py
  tests/test_dedup_stream.py
  tests/test_ewma_stream.py
  tests/test_jsonl_sink.py
  tests/test_kll_stream.py
  tests/test_kmeans_stream.py
  tests/test_packing_stream.py
  tests/test_rate_limit_stream.py
  tests/test_rocksdb_state.py
  tests/test_session_stream.py
  tests/test_sketch_stream.py
  tests/test_topk_stream.py
  tests/test_tws_twin.py
  tests/test_video_source.py
  tests/test_pipeline_ops.py
  tests/test_codec_seam.py
  tests/test_codec_present_smoke.py
  # balance ballast: CPU-heavy non-streaming modules moved from shard B
  # so both shards land ~11-12 min (first cut measured A 7:02 / B 15:12)
  tests/test_graph.py
  tests/test_multimodal_sources.py
  tests/test_jpeg_codec.py
  tests/test_storage.py
  tests/test_kmeans.py
  # r15 rebalance (VERDICT r14 #7): the suite grew to 818 tests and the
  # shards drifted to A 8:33 / B 12:46 — gate wall == max(shards), so
  # moving ~2 min of operator tests keeps the wall ~10:30-11 with the
  # same exhaustive-by-construction coverage. The r15 durations profile
  # found NO redundant per-SF sweeps to gate behind an env var: the
  # weight is parity (the core value check, one run per query) and the
  # 87s shared plan-audit fixture (all 290 plans built once).
  tests/test_round5_ops.py
  # r16: the pixel content-signing module is source/pixel-themed and
  # shard B is the wall — keep the new ~90s in A's headroom
  tests/test_pixel_signing.py
  tests/test_wav_source.py
  # r16 rebalance (VERDICT r15 #7 trigger hit): the final r16 close
  # measured B 14:16 vs A 10:33 (B grew with the 293-plan audit fixture
  # and the r16 additions) — move ~2:10 of operator ballast so the wall
  # stays ≤15 min with ≥2 min headroom
  tests/test_round7_ops.py
  tests/test_round7b_ops.py
)

IGNORES=()
for f in "${SHARD_A[@]}"; do IGNORES+=("--ignore=$f"); done

# per-invocation log paths (ADVICE r14 #3): fixed /tmp names let two
# concurrent gate runs clobber each other's logs and cross-report
LOG_A=$(mktemp /tmp/test_gate_shard_a.XXXXXX.log)
LOG_B=$(mktemp /tmp/test_gate_shard_b.XXXXXX.log)

# Two sessions at once only when the free memory covers both drivers
# (SPARK_DRIVER_MEMORY, default 8g, as session.get_spark sets it) plus
# 4 GiB for Python workers and pytest; otherwise the kernel OOM-killer
# can take one shard's JVM half way through. Else: one after the other.
to_kib() {
  local v=${1,,}
  v=${v%b}  # Spark also takes kb/mb/gb/tb
  case $v in
    *t) echo $(( ${v%t} * 1024 * 1024 * 1024 )) ;;
    *g) echo $(( ${v%g} * 1024 * 1024 )) ;;
    *m) echo $(( ${v%m} * 1024 )) ;;
    *k) echo $(( ${v%k} )) ;;
    *) echo $(( v / 1024 )) ;;
  esac
}
DRIVER_KIB=$(to_kib "${SPARK_DRIVER_MEMORY:-8g}")
NEED_KIB=$(( 2 * DRIVER_KIB + 4 * 1024 * 1024 ))
AVAIL_KIB=$(awk '/^MemAvailable:/ {print $2}' /proc/meminfo)
if [ "${AVAIL_KIB:-0}" -ge "$NEED_KIB" ]; then
  MODE=concurrent
else
  MODE=serial
fi
echo "--- gate mode: $MODE (MemAvailable $((AVAIL_KIB / 1024)) MiB, two shards need $((NEED_KIB / 1024)) MiB) ---"

start=$(date +%s)
rc=0
if [ "$MODE" = concurrent ]; then
  python -m pytest "${SHARD_A[@]}" -q "$@" > "$LOG_A" 2>&1 &
  PID_A=$!
  python -m pytest tests/ "${IGNORES[@]}" -q "$@" > "$LOG_B" 2>&1 &
  PID_B=$!
  wait $PID_A || rc=1
  wait $PID_B || rc=1
else
  python -m pytest "${SHARD_A[@]}" -q "$@" > "$LOG_A" 2>&1 || rc=1
  python -m pytest tests/ "${IGNORES[@]}" -q "$@" > "$LOG_B" 2>&1 || rc=1
fi
end=$(date +%s)

echo "--- shard A (streaming/sources/sinks): $LOG_A ---"
tail -2 "$LOG_A"
echo "--- shard B (parity/plans/operators): $LOG_B ---"
tail -2 "$LOG_B"
echo "--- gate wall: $((end - start))s, rc=$rc ---"
exit $rc
