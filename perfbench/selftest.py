"""Self-test of the benchmark's output checks, at tiny size and without
Spark: each check must pass on a right result and fail on a wrong one.
Also checks that ``BENCHMARK.json`` matches ``metrics.py``.

    python3 perfbench/selftest.py
"""
from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def _builds() -> None:
    from sparksketch.hashing import combine_hashes
    from sparksketch.shape import Shape
    from sparksketch.sketches.bloom import BloomFilter
    from sparksketch.sketches.cms import CountMinSketch
    from sparksketch.sketches.hll import HyperLogLog
    from sparksketch.sketches.kll import KLLSketch
    from perfbench.checks import check_build
    rng = np.random.default_rng(0)
    convs, turns = 3000, 20000
    conv_h = rng.integers(-2**63, 2**63 - 1, convs, dtype=np.int64)
    tool_h = rng.integers(-2**63, 2**63 - 1, 13, dtype=np.int64)
    a = conv_h[rng.integers(0, convs, turns)]
    a[:convs] = conv_h  # every conversation has a turn
    b = tool_h[rng.integers(0, 13, turns)]

    def blob(kind, *adds):
        sk = {"hll": lambda: HyperLogLog(14),
              "bloom": lambda: BloomFilter(Shape.from_np(1 << 16, 1e-6)),
              "cms": lambda: CountMinSketch(1 << 14, 4),
              "kll": lambda: KLLSketch(400)}[kind]()
        for x in adds:
            sk.add_values(x) if kind == "kll" else sk.add_hashes(x)
        return sk.to_bytes()

    lengths = np.bincount(np.searchsorted(np.sort(conv_h), a),
                          minlength=convs).astype(float)
    keys = combine_hashes(a, b)
    good = {"hll_conv": blob("hll", a), "bloom_conv_tool": blob("bloom", keys),
            "cms_tool": blob("cms", b), "kll_conv_turns": blob("kll", lengths)}
    pa, pb = a[:500], b[:500]

    def check(bl, ref=None):
        return check_build(bl, convs, turns, pa, pb, ref)
    _expect(check(good, good) == [], f"right build blobs fail: {check(good)}")
    unprobed = keys[~np.isin(keys, keys[:500])]
    wrong = {
        "empty HLL blob": {**good, "hll_conv": b""},
        "HLL over a third of the keys": {
            **good, "hll_conv": blob("hll", conv_h[:convs // 3])},
        "CMS missing a turn": {**good, "cms_tool": blob("cms", b[1:])},
        "KLL missing a conversation": {
            **good, "kll_conv_turns": blob("kll", lengths[1:])},
        "Bloom missing the probed keys": {
            **good, "bloom_conv_tool": blob("bloom", unprobed)},
        "corrupt CMS blob": {**good, "cms_tool": good["cms_tool"][:9]},
    }
    for what, bl in wrong.items():
        _expect(check(bl) != [], f"build check accepts {what}")
    changed = {**good, "hll_conv": HyperLogLog(14).to_bytes()}
    _expect(any("differ" in m for m in check(good, changed)),
            "build check accepts bytes that differ between passes")


def _queries() -> None:
    from perfbench.checks import check_query, check_row_total
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.25, 0.125]})
    shuffled = oracle.iloc[::-1].reset_index(drop=True)
    _expect(check_query("q", shuffled, oracle) == [],
            "query check rejects a reordered right result")
    wrong = {
        "a dropped row": oracle.iloc[:2],
        "a changed value": oracle.assign(v=[0.5, 0.25, 0.126]),
        "a renamed column": oracle.rename(columns={"v": "w"}),
        "an empty result": oracle.iloc[:0],
    }
    for what, df in wrong.items():
        _expect(check_query("q", df, oracle) != [],
                f"query check accepts {what}")
    replay = pd.DataFrame({"all_match": [True], "n_partitions": [8],
                           "total_rows": [10]})
    _expect(check_query("q", replay, replay) == [],
            "stable replay check rejects a matching replay")
    _expect(check_query("q", replay.assign(all_match=False), replay) != [],
            "stable replay check accepts sketches unlike the replay")
    parts = pd.DataFrame({"pid": [0, 1], "rows": [4, 6]})
    _expect(check_row_total("q", parts, "rows", 10) == [],
            "row-total check rejects a right result")
    _expect(check_row_total("q", parts.iloc[:1], "rows", 10) != [],
            "row-total check accepts a dropped partition")


def _stream() -> None:
    from perfbench.checks import (batch_digest, check_stream_batches,
                                  replay_flags)
    from perfbench.stream import stable_shape
    rng = np.random.default_rng(1)
    n = 400
    rows = pd.DataFrame({
        "conv_id": [f"conv-{int(k):09d}" for k in rng.integers(0, 4, n)],
        "turn_idx": np.arange(n, dtype=np.int64),
        "h1": rng.integers(-2**63, 2**63 - 1, 12,
                           dtype=np.int64)[rng.integers(0, 12, n)]})
    flags = replay_flags(rows, stable_shape()).sort_values("turn_idx")
    dup = flags["is_dup"].to_numpy()
    _expect(dup.any() and not dup.all(), "replay yields no mixed flags")
    turn = flags["turn_idx"].to_numpy()
    sampled = flags["conv_id"].isin(["conv-000000001", "conv-000000002"]) \
        .to_numpy()
    half = n // 2
    expected = [batch_digest(turn[:half], dup[:half], sampled[:half]),
                batch_digest(turn[half:], dup[half:], sampled[half:])]
    _expect(check_stream_batches(list(expected), expected) == [],
            "stream check rejects the replay's own digests")
    flip = int(np.flatnonzero(sampled)[0])
    flipped = dup.copy()
    flipped[flip] = not flipped[flip]
    drop = np.ones(n, dtype=bool)
    drop[half + 3] = False
    wrong = {
        "a flipped is_dup": [
            batch_digest(turn[:half], flipped[:half], sampled[:half]),
            expected[1]],
        "a dropped row": [
            expected[0],
            batch_digest(turn[half:][drop[half:]], dup[half:][drop[half:]],
                         sampled[half:][drop[half:]])],
        "a missing batch": expected[:1],
    }
    for what, got in wrong.items():
        _expect(check_stream_batches(got, expected) != [],
                f"stream check accepts {what}")


def _benchmark_json() -> None:
    from perfbench.metrics import benchmark_json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        _expect(json.load(f) == benchmark_json(),
                "BENCHMARK.json differs from metrics.py; regenerate it "
                "with: python3 -m perfbench.metrics > BENCHMARK.json")


def main() -> int:
    sys.path.insert(0, ROOT)
    _builds()
    _queries()
    _stream()
    _benchmark_json()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
