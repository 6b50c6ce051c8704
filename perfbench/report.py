"""Run every workload once and print the nine end-to-end figures by the
names the roadmap uses, with units, one row per workload (``-`` where a
figure does not apply to the workload).

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.metrics import RUN_SECONDS, WORKLOADS  # noqa: E402

FIGURES = (("setup_s", "s"), ("build_rows_per_s", "1/s"),
           ("query_suite_s", "s"), ("query_p50_s", "s"), ("query_p75_s", "s"),
           ("dedup_events_per_s", "1/s"), ("dedup_batch_p50_s", "s"),
           ("py_peak_rss_mb", "MB"), ("error_rate", "ratio"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    rows = {}
    for w in args.workloads.split(","):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds)],
            capture_output=True, text=True, check=True).stdout
        info, result = (json.loads(x) for x in out.strip().splitlines()[-2:])
        rows[w] = {**info, **{k: v["value"]
                              for k, v in result["metrics"].items()}}
    width = max(len(w) for w in rows)
    print(f"{'metric':20s} {'unit':6s} " + " ".join(f"{w:>{width}s}"
                                                    for w in rows))
    for name, unit in FIGURES:
        cells = [f"{rows[w][name]:>{width}.4g}" if name in rows[w]
                 else f"{'-':>{width}s}" for w in rows]
        print(f"{name:20s} {unit:6s} " + " ".join(cells))
    return 0


if __name__ == "__main__":
    sys.exit(main())
