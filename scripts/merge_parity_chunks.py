"""Merge the 4 sf0.1 chunk reports into PARITY_sf0.1_full.json.

The `note` names the commit the sweep ran on (`git rev-parse HEAD`), so
a later sweep that reuses the template never inherits a stale label."""
import json
import subprocess
from pathlib import Path

queries, fails = {}, []
n_ok = n_rows_only = 0
for i in range(4):
    d = json.load(open(f"/tmp/PARITY_sf0.1_chunk_{i}.json"))
    queries.update(d["queries"])
    fails += d["fails"]
    n_ok += d["n_oracle_matched"]
    n_rows_only += d["n_rows_only"]
sha = subprocess.run(
    ["git", "rev-parse", "HEAD"], cwd=Path(__file__).resolve().parents[1],
    capture_output=True, text=True,
).stdout.strip() or "unknown"
out = {
    "sf_dir": "/root/testdata/sf0.1",
    "n_queries": len(queries),
    "n_oracle_matched": n_ok,
    "n_rows_only": n_rows_only,
    "fails": fails,
    "note": (
        f"commit-{sha} FULL-registry sweep at 10x the sf0.01 gate scale "
        f"over the registry state at sweep time ({len(queries)} queries), "
        "run in 4 back-to-back single-session chunks "
        "(scripts/sweep_sf01_full.sh)."
    ),
    "queries": queries,
}
with open("/root/repo/PARITY_sf0.1_full.json", "w") as fh:
    json.dump(out, fh, indent=1)
print(f"MERGED: {len(queries)} queries, {n_ok} matched, "
      f"{n_rows_only} rows-only, fails={fails}")
