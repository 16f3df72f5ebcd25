"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload archive_raw --seed 1 --seconds 10 --trace 0

Workloads: archive_raw, archive_mjpeg (closed-loop replay of a recorded
flight) and live_stream (open-loop live feed). Inputs are generated from
`--seed`; every output is checked outside the timed window. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics (and
turns on spans and Spark's event log). Scratch data lives under
`.perfbench_runs/<run id>/` in the checkout; only `result.json` and, when
tracing, `spans.jsonl` are kept there.

`--smoke` shrinks the inputs; `--expect-wrong` corrupts one expected
output on purpose, so the run must report a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402  (sets the process start reference first)


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _workload(name: str, ctx):
    if name in ("archive_raw", "archive_mjpeg"):
        from archive import Archive

        return Archive(name, ctx)
    if name == "live_stream":
        from live import Live

        return Live(name, ctx)
    raise SystemExit(f"unknown workload {name!r}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--expect-wrong", action="store_true")
    args = ap.parse_args(argv)

    root = harness.ROOT
    if not (root / "uav_streamprocessor_spark" / "session.py").is_file():
        print(f"no uav_streamprocessor_spark package under {root}", file=sys.stderr)
        return 2
    declared = _declared(bool(args.trace))
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = root / ".perfbench_runs" / run_id
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    try:
        return _measure(args, run_id, run_dir, declared)
    finally:  # keep only result.json and spans.jsonl
        for sub in run_dir.iterdir():
            if sub.is_dir():
                shutil.rmtree(sub, ignore_errors=True)


def _measure(args, run_id: str, run_dir: Path, declared: dict[str, str]) -> int:
    trace = bool(args.trace)
    ctx = SimpleNamespace(seed=args.seed, seconds=args.seconds, run_dir=run_dir,
                          smoke=args.smoke, expect_wrong=args.expect_wrong,
                          tracer=harness.Tracer(trace, run_id))
    wl = _workload(args.workload, ctx)
    spark = None
    try:
        t = time.perf_counter()
        with ctx.tracer.span("session.start"):
            spark = harness.start_session(run_dir, trace)
        session_s = time.perf_counter() - t
        ctx.tracer.sc = spark.sparkContext
        res = wl.run(spark, harness.PROCESS_T0)
        res["metrics"]["peak_rss_mb"] = (harness.peak_rss_mb(spark), "MB")
        stamp = harness.stamp(spark, args.workload, args.seed, res["params"], args.seconds, trace)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)

    layers = dict(wl.layers)
    layers["session.start_s"] = (session_s, "s")
    layers["trace.latency_p50_s"] = res["metrics"]["latency_p50_s"]
    if trace:
        totals = harness.reduce_eventlog(run_dir / "eventlog", getattr(wl, "query_labels", None))
        layers.update(wl.eventlog_layers(totals))
        ctx.tracer.write(run_dir / "spans.jsonl")

    source = layers if trace else res["metrics"]
    wrong = [m for m, unit in declared.items() if m not in source or source[m][1] != unit]
    if wrong:
        print(f"metrics not measured in their declared unit: {wrong}", file=sys.stderr)
        return 1
    result = {
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": float(source[m][0]), "unit": unit} for m, unit in declared.items()},
    }
    detail = {
        "stamp": stamp,
        "error_rate": res["failed"] / res["attempted"],
        "samples": res["samples"],
        **res["detail"],
        "problems": res["problems"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())} if trace else {},
    }
    (run_dir / "result.json").write_text(json.dumps(detail | {"result": result}, indent=1))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
