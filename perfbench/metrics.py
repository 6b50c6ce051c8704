"""The benchmark's workloads and metrics, and which end-to-end metric each
layer metric should move on which workload.  ``BENCHMARK.json`` at the
repository root is generated from this file:

    python3 -m perfbench.metrics > BENCHMARK.json

Every workload reports every metric.  A layer that does not run on a
workload (the streaming state store on a build, say) reports 0 there.
"""
from __future__ import annotations

import json

from .queries import HEADLINE

RUN_SECONDS = 8

WORKLOADS = {
    "build-repeated-keys":
        "~50 turns per conversation: the JVM pre-reduce removes most rows "
        "before the Arrow crossing, so scan, agg, ship and merge changes "
        "show here and kernel changes do not",
    "query-suite":
        "15 small headline queries: fixed per-job cost dominates (planning, "
        "job submission, Python-worker turnaround, broadcast), the overhead "
        "the builds amortise away",
    "stream-dedup":
        "the paper's operator: the per-key stable-filter state codec, the "
        "per-row insert loop and the state store run only here",
}

# name -> (unit, better, bound, meaning per workload)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "session start, input generation and persist, warm pass"),
    "throughput_per_s": ("1/s", "higher", 0.25,
                         "builds: turns / median pass (build_rows_per_s); "
                         "query-suite: 15 / query_suite_s; stream-dedup: "
                         "events / drain time (dedup_events_per_s)"),
    "op_p50_s": ("s", "lower", 0.25,
                 "median build pass / query execution (query_p50_s) / "
                 "micro-batch triggerExecution (dedup_batch_p50_s)"),
    "op_p75_s": ("s", "lower", 0.25,
                 "p75 of the same (query_p75_s on query-suite)"),
    "cpu_s_per_op": ("s", "lower", 0.2,
                     "CPU seconds of driver, JVM and Python workers per build "
                     "pass / query execution / micro-batch; steal-free"),
    "py_peak_rss_mb": ("MB", "lower", 0.1,
                       "summed peak RSS of the driver and Python workers"),
}

_BUILD = "throughput_per_s@build-repeated-keys"
_STREAM = ("throughput_per_s,op_p50_s@stream-dedup, "
           "nothing@build-*")
_QUERY = "throughput_per_s,op_p50_s@query-suite"

# name -> (unit, better, the end-to-end metric@workload it should move)
LAYERS = {
    "agg.plan_s": ("s", "lower", _BUILD),
    "agg.scan_prereduce.task_s": ("s", "lower", _BUILD),
    "agg.scan_prereduce.cpu_s": ("s", "lower", _BUILD),
    "agg.shuffle.bytes": ("bytes", "lower", _BUILD),
    "agg.shuffle.fetch_wait_s": ("s", "lower", _BUILD),
    "agg.result_bytes": ("bytes", "lower", _BUILD),
    "agg.driver_gap_s": ("s", "lower", _BUILD),
    "agg.gc_s": ("s", "lower", _BUILD),
    "agg.crossing_kernels.task_s": ("s", "lower", _BUILD),
    "agg.rows_crossed": ("count", "lower", _BUILD),
    "agg.prereduce_ratio": ("ratio", "lower", _BUILD),
    "agg.tasks": ("count", "lower", _BUILD),
    "agg.task_skew": ("ratio", "lower", _BUILD),
    "hashing.edh_indices.ns_per_row": ("ns", "lower", _BUILD),
    "sketches.hll.add_hashes.ns_per_row": ("ns", "lower", _BUILD),
    "sketches.bloom.add_hashes.ns_per_row": ("ns", "lower", _BUILD),
    "sketches.cms.add_hashes.ns_per_row": ("ns", "lower", _BUILD),
    "sketches.kll.add_values.ns_per_row": ("ns", "lower", _BUILD),
    "sketches.partial_bytes.hll": ("bytes", "lower", _BUILD),
    "sketches.partial_bytes.bloom": ("bytes", "lower", _BUILD),
    "sketches.partial_bytes.cms": ("bytes", "lower", _BUILD),
    "sketches.partial_bytes.kll": ("bytes", "lower", _BUILD),
    "sketches.merge_blob_list_s": ("s", "lower", _BUILD),
    "sketches.stable.insert_flagged.us_per_row": ("us", "lower", _STREAM),
    "sketches.stable.codec.us_per_blob": ("us", "lower", _STREAM),
    "streaming.trigger_s": ("s", "lower", _STREAM),
    "streaming.add_batch_s": ("s", "lower", _STREAM),
    "streaming.wal_commit_s": ("s", "lower", _STREAM),
    "streaming.state.rows_total": ("count", "lower", _STREAM),
    "streaming.state.memory_bytes": ("bytes", "lower", _STREAM),
    "streaming.state.commit_s": ("s", "lower", _STREAM),
    "streaming.state.rows_updated": ("count", "lower", _STREAM),
}
for _q in HEADLINE:
    LAYERS[f"query.{_q}.s"] = ("s", "lower", _QUERY)
    LAYERS[f"query.{_q}.jobs"] = ("count", "lower", _QUERY)
    LAYERS[f"query.{_q}.jvm_cpu_s"] = ("s", "lower", _QUERY)
    LAYERS[f"query.{_q}.py_worker_cpu_s"] = (
        "s", "lower", "op_p75_s@query-suite")
    LAYERS[f"query.{_q}.driver_s"] = ("s", "lower", _QUERY)
LAYERS.update({
    "host.steal_pct": ("%", "lower", "diagnostic, not a gate"),
    "host.cores": ("count", "higher", "diagnostic, not a gate"),
    "input.rows": ("count", "higher", "diagnostic, not a gate"),
    "spark.jvm_peak_rss_mb": ("MB", "lower", "diagnostic, not a gate"),
})
# the traced run's own end-to-end figures: against the untraced run's,
# they state the tracing overhead
for _m, (_unit, _better, _b, _d) in END_TO_END.items():
    LAYERS[f"traced.{_m}"] = (_unit, _better, f"tracing overhead on {_m}")
LAYERS["traced.error_rate"] = ("ratio", "lower", "tracing overhead")


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, (u, b, bd, _) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b, _) in LAYERS.items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
