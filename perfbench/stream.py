"""The stream-dedup workload: ``stable_dedup_stream`` (the paper's stable
Bloom filter as a per-key stateful operator) over a file stream of
micro-batches written at set-up, drained with ``availableNow`` into a
``noop`` sink.

The output check rides on the timed query itself through ``observe``: per
micro-batch it reports the row count and, for a seeded sample of keys, the
number of ``is_dup`` rows and the sum of their ``turn_idx``.  Set-up
computes the same digests from a one-process replay of the filter.
"""
from __future__ import annotations

import random
import time

import numpy as np

from . import checks, data
from .harness import median, p75

BATCHES, ROWS, KEYS = 10, 6000, 1200
WARM_BATCHES = 1
SAMPLE_KEYS = 20


def stable_shape():
    from sparksketch.shape import Shape, StableShape
    return StableShape.builder(Shape.from_np(2000, 1e-3)).set_max(3).build()


def _expected(batches: list[dict], replay, sample: set) -> list[tuple]:
    dup = dict(zip(replay["turn_idx"].to_numpy().tolist(),
                   replay["is_dup"].to_numpy().tolist()))
    out = []
    for b in batches:
        t = b["turn_idx"]
        sampled = np.array([k in sample for k in b["conv_id"]])
        flags = np.array([dup.get(int(x), False) for x in t])
        out.append(checks.batch_digest(t, flags, sampled))
    return out


def run(ctx, workload: str) -> dict:
    from pyspark.sql import functions as F
    from sparksketch.streaming import stable_dedup_stream
    spark, tags = ctx.spark, ctx.tags
    sshape = stable_shape()
    src, warm_src = ctx.work.sub("stream_src"), ctx.work.sub("stream_warm")
    with tags.tag("pb.setup.input"):
        batches = data.stream_batches(ctx.seed, BATCHES, ROWS, KEYS)
        data.write_stream(src, batches)
        data.write_stream(warm_src, data.stream_batches(
            ctx.seed + 1, WARM_BATCHES, ROWS, KEYS))
        sample = sorted(f"conv-{k:09d}" for k in
                        random.Random(ctx.seed).sample(range(KEYS),
                                                       SAMPLE_KEYS))
        hashed = (spark.read.parquet(src)
                  .select("conv_id", "turn_idx",
                          F.xxhash64("text").alias("h1"))
                  .toPandas())
    replay = checks.replay_flags(hashed[hashed["conv_id"].isin(sample)],
                                 sshape)
    expected = _expected(batches, replay, set(sample))

    def drain(path: str, label: str):
        stream = (spark.readStream.schema(data.STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(path))
        flags = stable_dedup_stream(stream, sshape, ["text"])
        sampled = F.col("conv_id").isin(sample)
        dup = sampled & F.col("is_dup")
        observed = flags.observe(
            "pb_check", F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(sampled, 1).otherwise(0)).alias("sampled"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("dups"),
            F.sum(F.when(dup, F.col("turn_idx")).otherwise(0))
            .alias("dup_turns"))
        with tags.tag(label):
            t0 = time.monotonic()
            q = (observed.writeStream.format("noop")
                 .option("checkpointLocation", ctx.work.sub(f"ck_{label}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            wall = time.monotonic() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, [p for p in q.recentProgress if p.numInputRows > 0]

    drain(warm_src, "pb.warm")
    setup_s = time.monotonic() - ctx.t0
    ctx.procs.sample()

    attempted, failed, failures = 0, 0, []

    walls, progress = [], []
    cpu0, split0 = ctx.cpu_mark(), ctx.procs.cpu_seconds()
    started = time.monotonic()
    while ctx.more(started, walls):
        attempted += len(expected)
        try:  # each drain starts from its own empty checkpoint
            wall, prog = drain(src, f"pb.drain{len(walls)}")
        except Exception as e:  # every batch of a failed drain failed
            failed += len(expected)
            failures.append(repr(e)[:300])
            break
        walls.append(wall)
        progress += prog
        got = [tuple(int(r[k] or 0) for k in ("rows", "sampled", "dups",
                                                "dup_turns"))
               for r in (p.observedMetrics["pb_check"] for p in prog)]
        bad = checks.check_stream_batches(got, expected)
        failed += min(len(bad), len(expected))
        failures.extend(bad)
        ctx.procs.sample()
    loop_cpu = ctx.cpu_mark() - cpu0
    # the operator's Python (codec, insert loop, per-group frames) is the
    # only Python in the stream plan: its share of the drains' CPU
    py_share = (ctx.procs.cpu_seconds()[1] - split0[1]) / max(loop_cpu, 1e-9)

    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    events = BATCHES * ROWS
    res = {
        "setup_s": setup_s,
        "throughput_per_s": events / median(walls) if walls else 0.0,
        "op_p50_s": median(trig) if trig else 0.0,
        "op_p75_s": p75(trig) if trig else 0.0,
        "cpu_s_per_op": loop_cpu / max(len(trig), 1),
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "info": {"dedup_events_per_s": events / median(walls) if walls else 0,
                 "dedup_batch_p50_s": median(trig) if trig else 0,
                 "dedup_py_worker_cpu_share": py_share,
                 "input.rows": events, "input.keys": KEYS,
                 "batches": len(trig)},
    }
    if ctx.traced:
        from .trace import time_stable_kernels
        res["layers"] = _streaming_layers(progress)
        res["layers"].update(time_stable_kernels(hashed["h1"].to_numpy(),
                                                 sshape))
    return res


def _streaming_layers(progress) -> dict:
    def dur(key):
        return median([p.durationMs.get(key, 0) for p in progress]) / 1000.0
    state = [p.stateOperators[0] for p in progress]
    return {
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state.rows_total": state[-1].numRowsTotal,
        "streaming.state.memory_bytes": state[-1].memoryUsedBytes,
        "streaming.state.commit_s": median(
            [s.commitTimeMs for s in state]) / 1000.0,
        "streaming.state.rows_updated": median(
            [s.numRowsUpdated for s in state]),
    }
