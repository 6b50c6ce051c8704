"""sparksketch benchmark: one workload per run, in a fresh process and JVM
at local[4], one client in a closed loop.

    python3 perfbench/run.py --workload build-repeated-keys --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Prints one informational JSON line (input
sizes, cores, host steal, the per-workload figures by their usual names,
output-check failures), then as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``, the run with Spark's event log on).  Workloads, metrics and
which layer should move which end-to-end metric are in ``metrics.py``.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workload_fn(name: str):
    from perfbench import build, queries, stream
    return {"build-repeated-keys": build.run, "query-suite": queries.run,
            "stream-dedup": stream.run}[name]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("sparksketch/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found beside the benchmark: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.metrics import END_TO_END, LAYERS, WORKLOADS
    from perfbench.trace import EventLog
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = args.trace == 1

    work = harness.Workdir(ROOT, args.workload)
    try:
        harness.configure_env(ROOT, work)
        procs = harness.Procs()
        steal0 = harness.cpu_steal()
        t0 = time.monotonic()
        spark = harness.start_session(work, event_log=traced)
        try:
            ctx = harness.Ctx(spark, args.seed, args.seconds, traced, work,
                              procs, t0)
            res = _workload_fn(args.workload)(ctx, args.workload)
            procs.sample()
        finally:
            harness.stop_session(spark, procs)
        steal1 = harness.cpu_steal()
        if traced and "from_log" in res:
            res["layers"].update(res["from_log"](EventLog(work.sub("events"))))
    finally:
        work.close()

    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    attempted, failed = res["attempted"], res["failed"]
    e2e = {"setup_s": res["setup_s"],
           "throughput_per_s": res["throughput_per_s"],
           "op_p50_s": res["op_p50_s"], "op_p75_s": res["op_p75_s"],
           "cpu_s_per_op": res["cpu_s_per_op"],
           "py_peak_rss_mb": procs.py_peak_rss_mb()}
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host.cores": harness.CORES, "host.steal_pct": steal_pct,
            "spark.jvm_peak_rss_mb": procs.jvm_peak_kb / 1024.0,
            "error_rate": failed / max(attempted, 1), **res["info"],
            "failures": res["failures"][:20]}
    print(json.dumps(info))
    for f in res["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    if traced:
        metrics = dict.fromkeys(LAYERS, 0.0)
        metrics.update(res.get("layers", {}))
        metrics.update({
            "host.steal_pct": steal_pct, "host.cores": harness.CORES,
            "input.rows": res["info"]["input.rows"],
            "spark.jvm_peak_rss_mb": procs.jvm_peak_kb / 1024.0,
            "traced.error_rate": failed / max(attempted, 1),
            **{f"traced.{k}": v for k, v in e2e.items()}})
        units = {k: u for k, (u, _, _) in LAYERS.items()}
    else:
        metrics = e2e
        units = {k: u for k, (u, _, _, _) in END_TO_END.items()}
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from metrics.py: {unknown}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
