"""The query-suite workload: the 15 headline queries of bench.py
(``__spark_entry__.queries()``) over seeded tables at sf0.01 size, one
query at a time in a seed-shuffled order.

Set-up runs each query once, collecting its result; those results are
checked against ``__spark_entry__.oracle_sql()`` in DuckDB outside the
timed loop.  ``stable_dedup_partitions`` has no oracle: its check is
``stable_replay_check``, which compares the same stable-filter build byte
for byte with a one-process replay, run once beside the oracle check.
Timed passes then write each query to the ``noop`` sink, as bench.py
times them.
"""
from __future__ import annotations

import random
import time

from . import checks, data
from .harness import median, p75

HEADLINE = ("bloom_semijoin_customers", "kmv_distinct_convs",
            "cms_tool_counts", "kll_lineitem_qty_quantiles",
            "hll_distinct_users_bound", "layered_daily_distinct_users",
            "setops_role_similarity", "dedup_exact_documents",
            "ngram_jaccard_pairs", "ann_topk_cosine",
            "minhash_lsh_candidates", "simhash_near_dups",
            "stable_dedup_partitions", "grouped_conv_distinct_texts",
            "pipeline_training_yield")
# Two timed passes at least: p50 and p75 then rest on 30 executions, two
# of each query, instead of 15 that a single noisy query can move.
TIMED_PASSES = 2


def _oracle_check(results: dict, replay, sf: str,
                  rows: dict) -> dict[str, list]:
    import duckdb
    import __spark_entry__ as entry
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in data.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        out = {}
        for name, got in results.items():
            if name in oracles:
                out[name] = checks.check_query(name, got,
                                               con.sql(oracles[name]).df())
            else:  # stable_dedup_partitions: order-dependent, no oracle
                out[name] = checks.check_row_total(name, got, "rows",
                                                   rows["events"])
                out[name] += (checks.check_query(
                    "stable_replay_check", replay,
                    con.sql(oracles["stable_replay_check"]).df())
                    if replay is not None
                    else ["stable_replay_check did not run"])
        return out
    finally:
        con.close()


def run(ctx, workload: str) -> dict:
    import __spark_entry__ as entry
    spark, tags, procs = ctx.spark, ctx.tags, ctx.procs
    sf = ctx.work.sub("tables")
    rows = data.write_tables(sf, ctx.seed)
    qs = entry.queries()
    rng = random.Random(ctx.seed)

    def order() -> list[str]:
        o = list(HEADLINE)
        rng.shuffle(o)
        return o

    attempted, failed, failures = 0, 0, []
    results = {}
    for name in order():
        attempted += 1
        try:
            with tags.tag(f"pb.warm.{name}"):
                results[name] = qs[name](spark, sf).toPandas()
        except Exception as e:  # counted as a failed operation
            failed += 1
            failures.append(f"warm {name}: {e!r}"[:300])
    setup_s = time.monotonic() - ctx.t0
    procs.sample()
    try:
        with tags.tag("pb.check.stable_replay"):
            replay = qs["stable_replay_check"](spark, sf).toPandas()
    except Exception as e:  # fails stable_dedup_partitions' check
        replay = None
        failures.append(f"stable_replay_check: {e!r}"[:300])
    for name, bad in _oracle_check(results, replay, sf, rows).items():
        if bad:
            failed += 1
            failures += bad

    lat = {n: [] for n in HEADLINE}
    cpu = {n: [] for n in HEADLINE}
    spans, samples, pass_times = [], [], []
    cpu0 = ctx.cpu_mark()
    started = time.monotonic()
    while ctx.more(started, pass_times, at_least=TIMED_PASSES):
        p0 = time.monotonic()
        for name in order():
            attempted += 1
            tag = f"pb.q{len(pass_times)}.{name}"
            c0 = procs.cpu_seconds() if ctx.traced else None
            t0 = time.monotonic()
            try:
                with tags.tag(tag):
                    qs[name](spark, sf).write.format("noop") \
                        .mode("overwrite").save()
            except Exception as e:
                failed += 1
                failures.append(f"{tag}: {e!r}"[:300])
                continue
            dt = time.monotonic() - t0
            lat[name].append(dt)
            samples.append(dt)
            spans.append((name, tag))
            if c0 is not None:
                c1 = procs.cpu_seconds()
                cpu[name].append((c1[0] - c0[0], c1[1] - c0[1]))
        pass_times.append(time.monotonic() - p0)
        procs.sample()
    loop_cpu = ctx.cpu_mark() - cpu0

    suite = sum(median(v) for v in lat.values() if v)
    res = {
        "setup_s": setup_s,
        "throughput_per_s": len(HEADLINE) / suite if suite else 0.0,
        "op_p50_s": median(samples) if samples else 0.0,
        "op_p75_s": p75(samples) if samples else 0.0,
        "cpu_s_per_op": loop_cpu / max(len(samples), 1),
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "info": {"query_suite_s": suite,
                 "query_p50_s": median(samples) if samples else 0,
                 "query_p75_s": p75(samples) if samples else 0,
                 "query_samples": len(samples),
                 "input.rows": sum(rows.values()),
                 **{f"input.{t}": n for t, n in rows.items()}},
    }
    if ctx.traced:
        res["layers"] = {}
        for n in HEADLINE:
            res["layers"][f"query.{n}.s"] = median(lat[n]) if lat[n] else 0.0
            res["layers"][f"query.{n}.jvm_cpu_s"] = (
                median([c[0] for c in cpu[n]]) if cpu[n] else 0.0)
            res["layers"][f"query.{n}.py_worker_cpu_s"] = (
                median([c[1] for c in cpu[n]]) if cpu[n] else 0.0)
        res["from_log"] = lambda ev: _layers_from_log(ev, spans, tags.spans)
    return res


def _layers_from_log(ev, spans: list, tag_spans: dict) -> dict:
    per: dict[str, list] = {}
    for name, tag in spans:
        per.setdefault(name, []).append(ev.layer([tag], tag_spans[tag]))
    out = {}
    for n in HEADLINE:
        got = per.get(n, [])
        out[f"query.{n}.jobs"] = median([g["jobs"] for g in got]) if got else 0
        out[f"query.{n}.driver_s"] = (
            median([g["driver_ms"] for g in got]) / 1000.0 if got else 0.0)
    return out
