"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016).

Levels of float64 item buffers; level h items carry weight 2^h.  Level
capacities shrink geometrically (c = 2/3) from the top.  Compaction sorts a
level and keeps every other item (offset bit derived *deterministically* from
a hash of the level contents — no RNG), pushing survivors up one level.

Guarantees:
  - rank error <= eps with k = O((1/eps) * sqrt(log(1/delta)))
    (practically: eps ~ 2.2/k single-sketch normalized rank error)
  - EXACT regime: while total inserted <= k no compaction occurs, so
    quantiles are exact and match SQL ``quantile_cont`` interpolation —
    the oracle regime used by the driver correctness gate.
  - Determinism: run-to-run deterministic.  Byte-identicality across
    *different* merge trees is not information-theoretically possible for
    compacting quantile sketches; the distributed layer canonicalizes by
    merging partials in sorted partition order (see agg.py).  For a fully
    order-invariant mergeable quantile/sample sketch use bottomk.py.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import hash_array64
from .base import KIND_KLL, Sketch, pack_header, register

_HDR = struct.Struct("<IQddB")  # k, n, min, max, n_levels
_LVL = struct.Struct("<I")
_C = 2.0 / 3.0


class KLLSketch(Sketch):
    KIND = KIND_KLL

    def __init__(self, k: int = 200, levels: list[np.ndarray] | None = None,
                 n: int = 0, min_v: float = np.inf, max_v: float = -np.inf) -> None:
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.levels = levels if levels is not None else [np.zeros(0)]
        self.n = n
        self.min_v = min_v
        self.max_v = max_v

    # -- capacity & compaction ---------------------------------------------
    def _cap(self, h: int) -> int:
        depth_from_top = len(self.levels) - 1 - h
        return max(2, int(np.ceil(self.k * (_C ** depth_from_top))))

    def _total(self) -> int:
        return sum(lv.size for lv in self.levels)

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _compact(self) -> None:
        while self._total() > self._total_cap():
            # compact the lowest level at/over capacity
            for h in range(len(self.levels)):
                if self.levels[h].size >= self._cap(h):
                    lv = np.sort(self.levels[h])
                    # deterministic bits from content hash: bit0 picks the
                    # keep-one-behind end, bit1 the even-body offset
                    bits = hash_array64(lv, seed=h)
                    if lv.size % 2 == 1:
                        # keep-one-behind (KLL paper / DataSketches):
                        # compact an EVEN count so the promoted half
                        # carries exactly half the compacted weight — an
                        # odd compaction would add/remove 2^h of phantom
                        # weight and drift total weight away from n
                        if bits & 1:
                            behind, body = lv[-1:], lv[:-1]
                        else:
                            behind, body = lv[:1], lv[1:]
                    else:
                        behind, body = lv[:0], lv
                    keep = body[(bits >> 1) & 1::2]
                    self.levels[h] = behind.copy()
                    if h + 1 == len(self.levels):
                        self.levels.append(np.zeros(0))
                    self.levels[h + 1] = np.concatenate([self.levels[h + 1], keep])
                    break
            else:
                break

    # -- updates ------------------------------------------------------------
    def add_values(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.n += int(values.size)
        self.min_v = min(self.min_v, float(values.min()))
        self.max_v = max(self.max_v, float(values.max()))
        self.levels[0] = np.concatenate([self.levels[0], values])
        self._compact()

    def merge(self, other: Sketch) -> None:
        if not isinstance(other, KLLSketch) or other.k != self.k:
            raise ValueError("k mismatch in KLL merge")
        if other.n == 0:
            return
        while len(self.levels) < len(other.levels):
            self.levels.append(np.zeros(0))
        for h, lv in enumerate(other.levels):
            if lv.size:
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self.min_v = min(self.min_v, other.min_v)
        self.max_v = max(self.max_v, other.max_v)
        self._compact()

    # -- queries ------------------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals = []
        wts = []
        for h, lv in enumerate(self.levels):
            if lv.size:
                vals.append(lv)
                wts.append(np.full(lv.size, 1 << h, dtype=np.float64))
        if not vals:
            return np.zeros(0), np.zeros(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def _q(self, q: float, v: np.ndarray, w: np.ndarray) -> float:
        if len(self.levels) == 1:
            # exact regime: continuous interpolation == SQL quantile_cont
            pos = q * (v.size - 1)
            lo = int(np.floor(pos))
            hi = min(lo + 1, v.size - 1)
            frac = pos - lo
            # lerp form (lo + f*(hi-lo)), not the blend (1-f)*lo + f*hi:
            # the blend can round a tick away from the endpoints even when
            # both are EQUAL; DuckDB's quantile_cont uses the lerp form,
            # so this keeps the exact-regime oracle bit-aligned
            return float(v[lo] + frac * (v[hi] - v[lo]))
        # compacted regime: anchor the tails on the tracked true extremes
        # so quantile(0)/quantile(1) return min/max (not the innermost
        # surviving items) and the tail interpolation passes through them
        cum = np.concatenate(([0.0], np.cumsum(w) - 0.5 * w, [w.sum()]))
        vx = np.concatenate(([self.min_v], v, [self.max_v]))
        return float(np.interp(q * w.sum(), cum, vx))

    def estimate(self) -> float:
        """Items seen (the weight the quantiles are taken over)."""
        return float(self.n)

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        v, w = self._weighted_items()
        return self._q(q, v, w)

    def quantiles(self, qs: list[float]) -> list[float]:
        if self.n == 0:
            return [float("nan")] * len(qs)
        # one sort for the whole report, not one per q
        v, w = self._weighted_items()
        return [self._q(q, v, w) for q in qs]

    def rank(self, value: float) -> float:
        """Approximate normalized rank of ``value`` (fraction <= value)."""
        if self.n == 0:
            return float("nan")
        v, w = self._weighted_items()
        return float(w[v <= value].sum() / w.sum())

    # -- codec --------------------------------------------------------------
    def to_bytes(self) -> bytes:
        # canonical: levels stored sorted
        parts = [pack_header(self.KIND),
                 _HDR.pack(self.k, self.n, self.min_v, self.max_v,
                           len(self.levels))]
        for lv in self.levels:
            s = np.sort(lv)
            parts.append(_LVL.pack(s.size))
            parts.append(s.astype("<f8", copy=False).tobytes())
        return b"".join(parts)

    @staticmethod
    def _decode(body: memoryview) -> "KLLSketch":
        k, n, mn, mx, n_levels = _HDR.unpack_from(body, 0)
        off = _HDR.size
        levels = []
        for _ in range(n_levels):
            (cnt,) = _LVL.unpack_from(body, off)
            off += _LVL.size
            levels.append(np.frombuffer(body[off:off + 8 * cnt], dtype="<f8").copy())
            off += 8 * cnt
        return KLLSketch(int(k), levels, int(n), float(mn), float(mx))


register(KIND_KLL, KLLSketch._decode)
