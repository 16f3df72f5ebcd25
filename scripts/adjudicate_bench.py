"""Dedicated perf-fuse adjudication session (the r7/r11 protocol):
fresh session, standard warmup, then median-of-N timed runs for ONLY
the queries under adjudication — no other bench load in the session.

    python scripts/adjudicate_bench.py dedup_winnowing=9 text_ngram_novelty=9

The session also times the 6-query CANARY set to fingerprint this box
and applies `bench.compare` against a reference record
($SPARK_GRAFT_REF_BENCH, any stamped bench record; default the newest
non-streaming bench_runs/*.json): per query raw + lane-normalized ratios
and an open/closed fuse verdict. `compare` raises when the reference was
taken at another core count, scale factor or methodology, so that check
runs before any timing.

Prints one JSON line {"query": {"median": s, "runs": [...], "raw": r,
"normalized": n, "lane": ..., "fuse": bool}, "_canary": {...}} suitable
for pasting into the BASELINE.md adjudication table."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench as bench_mod
from uav_streamprocessor_spark import registry
from uav_streamprocessor_spark.session import get_spark


def _median_runs(qmap, spark, sf_dir, name: str, n: int) -> dict:
    n = bench_mod._odd(n)
    qmap[name](spark, sf_dir).collect()  # per-query untimed warmup
    runs: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        qmap[name](spark, sf_dir).collect()
        runs.append(round(time.perf_counter() - t0, 3))
    srt = sorted(runs)
    return {"median": srt[n // 2], "min": srt[0], "max": srt[-1], "runs": runs}


def _reference_path() -> Path | None:
    env = os.environ.get("SPARK_GRAFT_REF_BENCH")
    if env:
        return Path(env)
    runs = [
        p for p in sorted(bench_mod.RECORD_DIR.glob("*.json"))
        if not p.stem.endswith("_streaming")
    ]
    return runs[-1] if runs else None


def main() -> None:
    targets: dict[str, int] = {}
    for a in sys.argv[1:]:
        name, _, n = a.partition("=")
        targets[name] = max(1, int(n or "9"))
    if not targets:
        raise SystemExit("usage: adjudicate_bench.py query=N [query=N ...]")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    spark = get_spark(app_name="adjudicate")
    ref_path = _reference_path()
    ref = json.loads(ref_path.read_text()) if ref_path else None
    # canaries run median-of-3; canaries and targets get one warm pass
    cur = {"stamp": bench_mod.stamp(spark, sf, 3, True, bench_mod.QUERY_METHOD)}
    if ref is not None:
        bench_mod.check_comparable(ref, cur)

    qmap = registry.queries()
    # the bench's standard warmup: views + flagship + one pixel pass
    qmap["uav_class_stats"](spark, sf_dir).collect()
    qmap["uav_pixel_detections"](spark, sf_dir).collect()

    # box fingerprint: median-of-3 canary timings for this session
    cur["canary"] = {}
    for name in bench_mod.CANARY:
        cur["canary"][name] = _median_runs(qmap, spark, sf_dir, name, 3)["median"]
        print(f"# canary {name}: {cur['canary'][name]}s", file=sys.stderr)

    out = {name: _median_runs(qmap, spark, sf_dir, name, n) for name, n in targets.items()}
    cur["queries"] = {name: rec["median"] for name, rec in out.items()}
    table = bench_mod.compare(ref, cur) if ref is not None else None
    for name, rec in out.items():
        line = f"# {name}: median {rec['median']}s [{rec['min']}..{rec['max']}, n={len(rec['runs'])}]"
        if table and name in table["ratios"]:
            rec.update(table["ratios"][name], ref=ref["queries"][name], fuse=name in table["fuses"])
            line += (
                f" raw {rec['raw']}x norm {rec.get('normalized', 'n/a')}x vs "
                f"{ref_path.name} -> {'FUSE OPEN' if rec['fuse'] else 'closed'}"
            )
        print(line, file=sys.stderr)
    out["_canary"] = {
        "timings": cur["canary"],
        "ref_record": ref_path.name if ref_path else None,
        **(table["canaries"] if table else {}),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
