"""t-digest quantile sketch (Dunning & Ertl, "Computing extremely accurate
quantiles using t-digests") — merging-digest variant with the K1 (arcsine)
scale function.  Quantile error ~ q(1-q)/compression near the tails.

Centroids are kept sorted by mean; batch add and merge both go through one
deterministic re-clustering pass, so the sketch is run-to-run deterministic
(merge-tree canonicalization handled by agg.py, as for KLL)."""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import KIND_TDIGEST, Sketch, pack_header, register

_HDR = struct.Struct("<dQddI")  # compression, n, min, max, n_centroids


def _k1(q: float, d: float) -> float:
    return d / (2.0 * math.pi) * math.asin(2.0 * min(max(q, 0.0), 1.0) - 1.0)


def _q_limit(q0: float, d: float) -> float:
    k = _k1(q0, d) + 1.0
    x = 2.0 * math.pi * k / d
    if x >= math.pi / 2.0:
        return 1.0
    return 0.5 * (math.sin(x) + 1.0)


class TDigest(Sketch):
    KIND = KIND_TDIGEST

    def __init__(self, compression: float = 100.0,
                 means: np.ndarray | None = None,
                 weights: np.ndarray | None = None,
                 n: int = 0, min_v: float = math.inf, max_v: float = -math.inf) -> None:
        if not (compression > 0 and math.isfinite(compression)):
            # fail at construction, not as a ZeroDivisionError inside the
            # first executor-side add
            raise ValueError(f"compression must be a positive finite "
                             f"number, got {compression}")
        self.compression = compression
        self.means = means if means is not None else np.zeros(0)
        self.weights = weights if weights is not None else np.zeros(0)
        self.n = n
        self.min_v = min_v
        self.max_v = max_v

    def _cluster(self, means: np.ndarray, weights: np.ndarray) -> None:
        order = np.argsort(means, kind="stable")
        means = means[order]
        weights = weights[order]
        total = weights.sum()
        out_m: list[float] = []
        out_w: list[float] = []
        cur_m = means[0]
        cur_w = weights[0]
        w_before = 0.0
        q_lim = _q_limit(0.0, self.compression)
        for i in range(1, means.size):
            q = (w_before + cur_w + weights[i]) / total
            if q <= q_lim:
                nw = cur_w + weights[i]
                # inf-safe weighted mean: inf - inf is NaN and would
                # permanently poison the digest.  Equal values (incl.
                # equal infinities) leave the mean unchanged; absorbing a
                # +/-inf into a finite cluster makes the mean that
                # infinity; a -inf cluster absorbs anything (means are
                # sorted ascending, so cur_m = -inf comes first).
                if means[i] != cur_m and not math.isinf(cur_m) \
                        and not math.isinf(means[i]):
                    cur_m += (means[i] - cur_m) * weights[i] / nw
                elif math.isinf(means[i]) and not math.isinf(cur_m):
                    cur_m = means[i]
                cur_w = nw
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                w_before += cur_w
                q_lim = _q_limit(w_before / total, self.compression)
                cur_m = means[i]
                cur_w = weights[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.asarray(out_m)
        self.weights = np.asarray(out_w)

    def add_values(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.n += int(values.size)
        self.min_v = min(self.min_v, float(values.min()))
        self.max_v = max(self.max_v, float(values.max()))
        # pre-aggregate duplicates: the clustering pass is a per-element
        # Python loop, so collapsing repeated values (common in real
        # columns) shrinks it at identical weighted-mean semantics
        vals, cnts = np.unique(values, return_counts=True)
        self._cluster(np.concatenate([self.means, vals]),
                      np.concatenate([self.weights,
                                      cnts.astype(np.float64)]))

    def merge(self, other: Sketch) -> None:
        if not isinstance(other, TDigest) or other.compression != self.compression:
            raise ValueError("compression mismatch in t-digest merge")
        if other.n == 0:
            return
        self.n += other.n
        self.min_v = min(self.min_v, other.min_v)
        self.max_v = max(self.max_v, other.max_v)
        self._cluster(np.concatenate([self.means, other.means]),
                      np.concatenate([self.weights, other.weights]))

    def estimate(self) -> float:
        """Items seen (the weight the quantiles are taken over)."""
        return float(self.n)

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        if target <= cum[0]:
            # interpolate between min and first centroid; the equal-
            # endpoint guard also covers both being -inf, where the lerp
            # would compute -inf + 0 * nan = nan
            if self.means[0] == self.min_v:
                return float(self.min_v)
            frac = target / max(cum[0], 1e-300)
            return float(self.min_v + frac * (self.means[0] - self.min_v))
        if target >= cum[-1]:
            if self.means[-1] == self.max_v:
                return float(self.max_v)
            denom = max(total - cum[-1], 1e-300)
            frac = (target - cum[-1]) / denom
            return float(self.means[-1] + frac * (self.max_v - self.means[-1]))
        return float(np.interp(target, cum, self.means))

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    def cdf(self, x: float) -> float:
        if self.n == 0:
            return float("nan")
        if x <= self.min_v:
            return 0.0
        if x >= self.max_v:
            return 1.0
        total = self.weights.sum()
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        # anchor the tails on min/max exactly like quantile() does, so
        # cdf is continuous at the extremes and cdf(quantile(q)) ~ q in
        # both tails
        xs = np.concatenate(([self.min_v], self.means, [self.max_v]))
        cs = np.concatenate(([0.0], cum, [total]))
        return float(np.interp(x, xs, cs) / total)

    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND)
                + _HDR.pack(self.compression, self.n, self.min_v, self.max_v,
                            self.means.size)
                + self.means.astype("<f8", copy=False).tobytes()
                + self.weights.astype("<f8", copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "TDigest":
        comp, n, mn, mx, nc = _HDR.unpack_from(body, 0)
        off = _HDR.size
        means = np.frombuffer(body[off:off + 8 * nc], dtype="<f8").copy()
        off += 8 * nc
        weights = np.frombuffer(body[off:off + 8 * nc], dtype="<f8").copy()
        return TDigest(float(comp), means, weights, int(n), float(mn), float(mx))


register(KIND_TDIGEST, TDigest._decode)
