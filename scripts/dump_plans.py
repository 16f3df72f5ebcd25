"""Dump `.explain("formatted")` for a named set of queries to
plans/r<N>/<query>_<tag>.txt — the before/after plan evidence of an
optimization round. Run:

    python scripts/dump_plans.py --round 18 before query1 query2 ...

Queries whose builders run driver-side iterative work (bpe/kmeans/ivfpq)
still produce their FINAL plan; the iterative jobs run during build and
are the part the bench times, so the committed plan shows the terminal
shape plus whatever the builder left lazy.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from uav_streamprocessor_spark import registry
from uav_streamprocessor_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_r{args.round}")
    qmap = registry.queries()
    for name in args.names:
        df = qmap[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = out_dir / f"{name}_{args.tag}.txt"
        path.write_text(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
