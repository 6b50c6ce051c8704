"""The build workload: the one-pass 4-sketch build of bench.py (HLL,
MixKey Bloom and CMS through the pre-reduced crossing, KLL over
conversation lengths), merged with ``tree_aggregate_multi``.

``build-repeated-keys`` has ~50 turns per conversation, so the JVM
pre-reduce removes most rows before the Arrow crossing.
"""
from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import checks, data
from .harness import CORES, median, p75

N_TURNS = 2_000_000
WARM_PASSES = 2
PROBE_MOD = 500  # about 1 in 500 turns is probed in the Bloom filter
KERNEL_SAMPLE = 200_000


def specs(n_convs: int) -> tuple[dict, dict]:
    """(pre-reduced trio, KLL) specs, sized as bench.py sizes them."""
    from sparksketch.agg import CMSSpec, HLLSpec, KLLSpec, MixKeyBloomSpec
    from sparksketch.shape import Shape
    bloom = Shape.from_np(min(max(16 * n_convs, 1 << 14), 1 << 18), 1e-6)
    trio = {"hll_conv": (HLLSpec(p=14), ["conv_id"]),
            "bloom_conv_tool": (MixKeyBloomSpec(bloom), ["conv_id", "tool"]),
            "cms_tool": (CMSSpec(w=1 << 14, d=4), ["tool"])}
    kll = {"kll_conv_turns": (KLLSpec(k=400, col="turns"), ["conv_id"])}
    return trio, kll


def run(ctx, workload: str) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from sparksketch.agg import build_partials_multi, tree_aggregate_multi
    spark, tags = ctx.spark, ctx.tags

    with tags.tag("pb.setup.input"):
        tr = data.transcripts(spark, N_TURNS, ctx.seed).persist(
            StorageLevel.MEMORY_ONLY)
        # one job materialises the cache and takes the facts the output
        # check needs: exact counts and a seeded sample of inserted keys
        probe = F.when(F.pmod(F.xxhash64(F.lit(ctx.seed), "conv_id",
                                         "turn_idx"), F.lit(PROBE_MOD)) == 0,
                       F.struct(F.xxhash64("conv_id").alias("a"),
                                F.xxhash64("tool").alias("b")))
        convs, turns, probes = tr.agg(F.countDistinct("conv_id"),
                                      F.count(F.lit(1)),
                                      F.collect_list(probe)).first()
    probe_a = np.array([p["a"] for p in probes], dtype=np.int64)
    probe_b = np.array([p["b"] for p in probes], dtype=np.int64)
    trio, kll = specs(N_TURNS // 50)
    conv_len = (tr.groupBy("conv_id").agg(F.count(F.lit(1)).alias("turns"))
                .sortWithinPartitions(F.xxhash64("conv_id")))
    pool = ThreadPoolExecutor(2)

    def one_pass(label: str) -> dict:
        # Each pass builds its plans: re-running an action on the same
        # DataFrame reuses that plan's shuffle output, which would skip
        # the scan and the pre-reduce agg in every pass but the first.
        def build(tag, df, sp, **kw):
            return tags.call(tag, lambda: tree_aggregate_multi(
                build_partials_multi(df, sp, **kw), list(sp),
                est_parts=CORES))
        fr = pool.submit(build, f"pb.{label}.trio", tr, trio, prereduce=True)
        fk = pool.submit(build, f"pb.{label}.kll", conv_len, kll)
        out = fr.result()
        out.update(fk.result())
        return out

    attempted, failed, failures = 0, 0, []

    def checked(label: str, reference: dict | None):
        """One pass and its output check; returns (pass seconds, pass CPU
        seconds, blobs).  The check runs after the clock and the CPU
        count stop."""
        nonlocal attempted, failed
        attempted += 1
        c0 = ctx.cpu_mark()
        t0 = time.monotonic()
        try:
            blobs = one_pass(label)
            dt, cpu = time.monotonic() - t0, ctx.cpu_mark() - c0
            bad = checks.check_build(blobs, convs, turns, probe_a, probe_b,
                                     reference)
        except Exception as e:  # a failed pass is counted, not fatal
            dt, cpu = time.monotonic() - t0, ctx.cpu_mark() - c0
            blobs, bad = None, [repr(e)[:300]]
        if bad:
            failed += 1
            failures.extend(f"{label}: {b}" for b in bad)
        return dt, cpu, blobs

    # a few warm passes: pass times still fall over the first passes of a
    # fresh JVM (JIT, worker start, heap sizing)
    first = checked("warm0", None)[2]
    for i in range(1, WARM_PASSES):
        checked(f"warm{i}", first)
    setup_s = time.monotonic() - ctx.t0
    ctx.procs.sample()

    secs, cpus, spans = [], [], []
    started = time.monotonic()
    while ctx.more(started, secs):
        w0 = time.time() * 1000.0
        dt, cpu, _ = checked(f"pass{len(secs)}", first)
        spans.append((w0, w0 + dt * 1000.0))
        secs.append(dt)
        cpus.append(cpu)
        ctx.procs.sample()
    pool.shutdown()

    res = {
        "setup_s": setup_s,
        "throughput_per_s": N_TURNS / median(secs),
        "op_p50_s": median(secs),
        "op_p75_s": p75(secs),
        "cpu_s_per_op": sum(cpus) / len(cpus),
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "info": {"build_rows_per_s": N_TURNS / median(secs),
                 "input.rows": turns, "input.conversations": convs,
                 "passes": len(secs)},
    }
    if ctx.traced:
        res["layers"] = _trace_extras(ctx, tr, conv_len, trio, kll)
        res["from_log"] = lambda ev: _layers_from_log(ev, len(secs), spans)
    tr.unpersist()
    return res


def _trace_extras(ctx, tr, conv_len, trio, kll) -> dict:
    """Partial blob sizes and the merge over the run's real partials, and
    the kernels over a sample of this workload's own hash columns."""
    from pyspark.sql import functions as F
    from sparksketch.agg import build_partials_multi
    from sparksketch.sketches import merge_blob_list
    from .trace import time_build_kernels
    with ctx.tags.tag("pb.trace.partials"):
        parts = build_partials_multi(tr, trio, prereduce=True).toPandas()
        parts_k = build_partials_multi(conv_len, kll).toPandas()
    out = {}
    merge_s = 0.0
    for name, col in (("hll", "hll_conv"), ("bloom", "bloom_conv_tool"),
                      ("cms", "cms_tool"), ("kll", "kll_conv_turns")):
        blobs = [bytes(b) for b in (parts_k if col in kll else parts)[col]]
        out[f"sketches.partial_bytes.{name}"] = sum(len(b) for b in blobs)
        t0 = time.perf_counter()
        merge_blob_list(blobs)
        merge_s += time.perf_counter() - t0
    out["sketches.merge_blob_list_s"] = merge_s
    with ctx.tags.tag("pb.trace.sample"):
        s = (tr.select(F.xxhash64("conv_id").alias("a"),
                       F.xxhash64("tool").alias("b"))
             .limit(KERNEL_SAMPLE).toPandas())
        v = conv_len.select("turns").limit(KERNEL_SAMPLE).toPandas()
    out.update(time_build_kernels(s["a"].to_numpy(), s["b"].to_numpy(),
                                  v["turns"].to_numpy().astype("float64")))
    return out


def _layers_from_log(ev, passes: int, spans: list) -> dict:
    per = [ev.layer([f"pb.pass{i}.trio", f"pb.pass{i}.kll"], spans[i])
           for i in range(passes)]
    trio = [ev.layer([f"pb.pass{i}.trio"], spans[i]) for i in range(passes)]

    def med(key, scale=1.0, src=per):
        return median([p[key] for p in src]) * scale
    crossed = med("rows_crossed", src=trio)
    return {
        "agg.plan_s": med("plan_ms", 1e-3),
        "agg.scan_prereduce.task_s": med("scan_task_ms", 1e-3),
        "agg.scan_prereduce.cpu_s": med("scan_cpu_ns", 1e-9),
        "agg.shuffle.bytes": med("shuffle_bytes"),
        "agg.shuffle.fetch_wait_s": med("fetch_wait_ms", 1e-3),
        "agg.result_bytes": med("result_bytes"),
        "agg.driver_gap_s": med("driver_ms", 1e-3),
        "agg.gc_s": med("gc_ms", 1e-3),
        "agg.crossing_kernels.task_s": med("py_task_ms", 1e-3),
        "agg.rows_crossed": crossed,
        "agg.prereduce_ratio": crossed / N_TURNS,
        "agg.tasks": med("tasks"),
        "agg.task_skew": med("skew"),
    }
