"""Traced-run instruments, all outside ``sparksketch``:

- ``Tags``: one ``SparkSession.addTag`` per workload phase and per query,
  with the wall interval of each tagged call;
- ``EventLog``: Spark's event log (on only in traced runs), with jobs,
  stages and tasks attributed to those tags;
- ``time_build_kernels``, ``time_stable_kernels``: the public sketch
  kernels timed in this process over the workload's own hash columns.
"""
from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

import numpy as np

from .harness import median


class Tags:
    """Runs calls under a job tag and keeps each tag's epoch-ms interval."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: dict[str, tuple[float, float]] = {}

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` under tag ``name``; usable from any
        thread (a tag applies to the thread that sets it)."""
        with self.tag(name):
            return fn(*args, **kwargs)

    @contextmanager
    def tag(self, name: str):
        self.spark.addTag(name)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans[name] = (t0, time.time() * 1000.0)
            self.spark.removeTag(name)


def _union_ms(intervals) -> float:
    total, end = 0.0, -float("inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _rows_into_python(plan: dict) -> set[int]:
    """Accumulator ids of 'number of output rows' of the operator feeding
    each MapInPandas node: the rows that cross into the Python workers."""
    ids: set[int] = set()

    def first_rows(n):
        for m in n.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        for c in n.get("children", []):
            r = first_rows(c)
            if r is not None:
                return r
        return None

    def walk(n):
        if n["nodeName"] == "MapInPandas":
            for c in n.get("children", []):
                r = first_rows(c)
                if r is not None:
                    ids.add(r)
        for c in n.get("children", []):
            walk(c)
    walk(plan)
    return ids


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, events_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list] = {}
        self.py_rows_acc: dict[str, set] = {}
        pattern = os.path.join(events_dir, "**", "events*")
        files = sorted(f for f in glob.glob(pattern, recursive=True)
                       if os.path.isfile(f))
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "stages": e["Stage IDs"],
                "tags": (props.get("spark.job.tags") or "").split(","),
                "exec": props.get("spark.sql.execution.id")}
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                "submit": si.get("Submission Time"),
                "done": si.get("Completion Time")}
        elif ev == "SparkListenerTaskEnd":
            self.tasks.setdefault(e["Stage ID"], []).append(
                (e["Task Info"], e.get("Task Metrics") or {}))
        elif ev.endswith("SQLExecutionStart") or ev.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self.py_rows_acc.setdefault(str(e["executionId"]), set()).update(
                _rows_into_python(e["sparkPlanInfo"]))

    def jobs_tagged(self, tag: str) -> list[int]:
        suffix = "-" + tag
        return [j for j, d in self.jobs.items()
                if any(t.endswith(suffix) for t in d["tags"])]

    def layer(self, tags: list[str], span: tuple[float, float]) -> dict:
        """Layer figures for the jobs under ``tags`` within one call of
        wall interval ``span`` (epoch ms)."""
        jobs = sorted({j for t in tags for j in self.jobs_tagged(t)})
        stage_ids = sorted({s for j in jobs for s in self.jobs[j]["stages"]
                            if s in self.tasks})
        acc = set()
        for j in jobs:
            acc |= self.py_rows_acc.get(self.jobs[j]["exec"], set())
        out = dict.fromkeys(
            ["scan_task_ms", "scan_cpu_ns", "py_task_ms", "shuffle_bytes",
             "fetch_wait_ms", "result_bytes", "gc_ms", "rows_crossed",
             "tasks"], 0)
        py_task_times, intervals = [], []
        for s in stage_ids:
            st = self.stages.get(s, {})
            if st.get("submit") and st.get("done"):
                intervals.append((st["submit"], st["done"]))
            tasks = self.tasks[s]
            w = sum(m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0) for _, m in tasks)
            run = [m.get("Executor Run Time", 0) for _, m in tasks]
            out["tasks"] += len(tasks)
            out["shuffle_bytes"] += w
            out["gc_ms"] += sum(m.get("JVM GC Time", 0) for _, m in tasks)
            out["fetch_wait_ms"] += sum(
                m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                for _, m in tasks)
            out["rows_crossed"] += sum(
                int(a.get("Update", 0)) for ti, _ in tasks
                for a in ti.get("Accumulables", []) if a.get("ID") in acc)
            if w > 0:  # a map stage: scan, JVM hashing, partial agg
                out["scan_task_ms"] += sum(run)
                out["scan_cpu_ns"] += sum(m.get("Executor CPU Time", 0)
                                          for _, m in tasks)
            else:  # a result stage: the Python crossing and kernels
                out["py_task_ms"] += sum(run)
                out["result_bytes"] += sum(m.get("Result Size", 0)
                                           for _, m in tasks)
                py_task_times += run
        submits = [self.jobs[j]["submit"] for j in jobs]
        out["jobs"] = len(jobs)
        out["plan_ms"] = (min(submits) - span[0]) if submits else 0.0
        out["driver_ms"] = (span[1] - span[0]) - _union_ms(intervals)
        out["skew"] = (max(py_task_times) / max(median(py_task_times), 1)
                       if py_task_times else 0.0)
        return out


# ---------------------------------------------------------------------------
# kernel replay
# ---------------------------------------------------------------------------

def _ns_per_row(fn, n: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return median(times) / max(n, 1)


def time_build_kernels(h_a: np.ndarray, h_b: np.ndarray,
                       values: np.ndarray) -> dict[str, float]:
    """Per-row cost of the build kernels, timed through their public calls
    over the given sample columns."""
    from sparksketch.hashing import combine_hashes, edh_indices
    from sparksketch.shape import Shape
    from sparksketch.sketches.bloom import BloomFilter
    from sparksketch.sketches.cms import CountMinSketch
    from sparksketch.sketches.hll import HyperLogLog
    from sparksketch.sketches.kll import KLLSketch
    n = len(h_a)
    shape = Shape.from_np(1 << 18, 1e-6)
    mixed = combine_hashes(h_a, h_b)
    return {
        "hashing.edh_indices.ns_per_row": _ns_per_row(
            lambda: edh_indices(mixed, None, shape.k, shape.m), n),
        "sketches.hll.add_hashes.ns_per_row": _ns_per_row(
            lambda: HyperLogLog(14).add_hashes(h_a), n),
        "sketches.bloom.add_hashes.ns_per_row": _ns_per_row(
            lambda: BloomFilter(shape).add_hashes(mixed), n),
        "sketches.cms.add_hashes.ns_per_row": _ns_per_row(
            lambda: CountMinSketch(1 << 14, 4).add_hashes(h_b), n),
        "sketches.kll.add_values.ns_per_row": _ns_per_row(
            lambda: KLLSketch(400).add_values(values), len(values)),
    }


def time_stable_kernels(h1: np.ndarray, sshape) -> dict[str, float]:
    """Per-row insert cost of the stable filter and one round trip through
    its codec, as the stream's state store does for every key in every
    micro-batch."""
    from sparksketch.sketches import sketch_from_bytes
    from sparksketch.sketches.stable import StableBloomFilter
    m = min(len(h1), 2000)
    sb = StableBloomFilter(sshape, seed=7)
    return {
        "sketches.stable.insert_flagged.us_per_row": _ns_per_row(
            lambda: sb.insert_hashes_flagged(h1[:m]), m, reps=3) / 1000.0,
        "sketches.stable.codec.us_per_blob": _ns_per_row(
            lambda: sketch_from_bytes(sb.to_bytes()), 1, reps=50) / 1000.0,
    }
