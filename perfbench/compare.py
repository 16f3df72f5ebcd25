"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory is searched for the `result.json` files that `run.py`
leaves in `.perfbench_runs/<run id>/`. For every workload and end-to-end
metric it prints both medians, the quartile spread of each side as a
share of its median, and whether the new median is worse than the base
by more than the metric's bound in BENCHMARK.json. Results taken at
different core counts, masters or trace modes are refused: their numbers
are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

STAMP_KEYS = ("cpus", "master", "trace", "seconds")


def load(directory: Path) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for path in sorted(directory.rglob("result.json")):
        r = json.loads(path.read_text())
        by_workload.setdefault(r["stamp"]["workload"], []).append(r)
    return by_workload


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    base, new = load(Path(argv[0])), load(Path(argv[1]))
    stamps = {tuple(r["stamp"][k] for k in STAMP_KEYS)
              for side in (base, new) for runs in side.values() for r in runs}
    if len(stamps) > 1:
        print(f"refused: results differ in {STAMP_KEYS}: {sorted(stamps)}", file=sys.stderr)
        return 1
    regressed = False
    for workload in sorted(set(base) & set(new)):
        for m in spec["end_to_end"]:
            name, sign = m["name"], (1 if m["better"] == "lower" else -1)
            b = [r["result"]["metrics"][name]["value"] for r in base[workload]]
            n = [r["result"]["metrics"][name]["value"] for r in new[workload]]
            mb, mn = statistics.median(b), statistics.median(n)
            worse = sign * (mn - mb) / mb > m["bound"]
            regressed |= worse
            print(f"{workload:14s} {name:16s} base {mb:10.4f} (spread {spread(b):.3f}, n={len(b)}) "
                  f"new {mn:10.4f} (spread {spread(n):.3f}, n={len(n)}) {m['unit']:6s}"
                  f"{'  WORSE than bound ' + str(m['bound']) if worse else ''}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
