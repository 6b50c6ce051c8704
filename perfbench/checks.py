"""Output checks.  Each returns a list of failure messages (empty = pass) and
needs no Spark session, so ``selftest.py`` can feed each one a wrong result.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# builds
# ---------------------------------------------------------------------------

BUILD_NAMES = ("hll_conv", "bloom_conv_tool", "cms_tool", "kll_conv_turns")


def check_build(blobs: dict, distinct_convs: int, turns: int,
                probe_conv: np.ndarray, probe_tool: np.ndarray,
                reference: dict | None) -> list[str]:
    """One build pass's merged blobs against the facts known from set-up.

    - HLL estimate within 3 * 1.04 / sqrt(m) of the exact distinct count;
    - CMS total equals the number of turns;
    - KLL n equals the conversation count;
    - the Bloom filter contains every probed (conv_id, tool) key;
    - bytes identical to ``reference`` (another pass of the same run)."""
    from sparksketch.hashing import combine_hashes
    from sparksketch.sketches import sketch_from_bytes
    bad = []
    sk = {}
    for n in BUILD_NAMES:
        b = blobs.get(n)
        if not b:
            bad.append(f"{n}: no blob")
            continue
        try:
            sk[n] = sketch_from_bytes(b)
        except Exception as e:  # a corrupt blob is a failed check
            bad.append(f"{n}: does not decode: {e!r}")
    if "hll_conv" in sk:
        hll = sk["hll_conv"]
        err = abs(hll.estimate() - distinct_convs)
        if err > 3 * 1.04 / math.sqrt(hll.m) * distinct_convs:
            bad.append(f"hll estimate {hll.estimate():.0f} vs exact "
                       f"{distinct_convs}")
    if "cms_tool" in sk and sk["cms_tool"].total() != turns:
        bad.append(f"cms total {sk['cms_tool'].total()} != turns {turns}")
    if "kll_conv_turns" in sk and sk["kll_conv_turns"].n != distinct_convs:
        bad.append(f"kll n {sk['kll_conv_turns'].n} != convs {distinct_convs}")
    if "bloom_conv_tool" in sk:
        hit = sk["bloom_conv_tool"].contains_hashes(
            combine_hashes(probe_conv, probe_tool))
        if not hit.all():
            bad.append(f"bloom: {int((~hit).sum())} false negatives")
    if reference is not None:
        for n in BUILD_NAMES:
            if n in blobs and n in reference and blobs[n] != reference[n]:
                bad.append(f"{n}: bytes differ from the run's first pass")
    return bad


# ---------------------------------------------------------------------------
# query suite
# ---------------------------------------------------------------------------

def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns by name, floats to 6
    places, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_query(name: str, got: pd.DataFrame,
                oracle: pd.DataFrame) -> list[str]:
    """Spark result against the DuckDB oracle: same columns, same rows."""
    a, b = _norm(got), _norm(oracle)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows != oracle {len(b)}"]
    a = a.astype(b.dtypes.to_dict(), errors="ignore")
    if not a.equals(b):
        diff = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return [f"{name}: {int(diff.sum())}/{len(a)} rows differ"]
    return []


def check_row_total(name: str, got: pd.DataFrame, col: str,
                    expected: int) -> list[str]:
    """For a query without an oracle: its per-partition row counts must
    add up to the input rows."""
    total = int(got[col].sum()) if len(got) else 0
    return [] if total == expected else [
        f"{name}: {col} sums to {total}, input has {expected}"]


# ---------------------------------------------------------------------------
# stream dedup
# ---------------------------------------------------------------------------

def replay_flags(rows: pd.DataFrame, sshape, seed: int = 42) -> pd.DataFrame:
    """One-process replay of the per-key stable filter: ``rows`` holds
    (conv_id, turn_idx, h1) for the sampled keys; returns them with the
    ``is_dup`` flag the stream must emit.  Mirrors the operator's per-key
    seed and its turn-order insertion."""
    from sparksketch.hashing import hash_bytes64
    from sparksketch.sketches.stable import StableBloomFilter
    out = []
    for key, g in rows.sort_values(["conv_id", "turn_idx"]).groupby(
            "conv_id", sort=True):
        sk = StableBloomFilter(
            sshape, seed=seed ^ hash_bytes64(repr((key,)).encode()))
        g = g.copy()
        g["is_dup"] = sk.insert_hashes_flagged(g["h1"].to_numpy())
        out.append(g)
    return pd.concat(out, ignore_index=True)


def batch_digest(turn_idx: np.ndarray, is_dup: np.ndarray,
                 sampled: np.ndarray) -> tuple[int, int, int, int]:
    """(rows, sampled rows, sampled dups, sum of sampled dup turn_idx) —
    the per-batch figures the stream reports through ``observe``.  A
    flipped flag moves the dup count and the turn sum."""
    d = sampled & is_dup
    return (int(len(turn_idx)), int(sampled.sum()), int(d.sum()),
            int(turn_idx[d].sum()))


def check_stream_batches(observed: list[tuple], expected: list[tuple]
                         ) -> list[str]:
    """Per micro-batch digests of the stream against the replay's."""
    bad = []
    if len(observed) != len(expected):
        bad.append(f"{len(observed)} batches, expected {len(expected)}")
    for i, (o, e) in enumerate(zip(observed, expected)):
        if tuple(o) != tuple(e):
            bad.append(f"batch {i}: digest {tuple(o)} != replay {tuple(e)}")
    return bad
