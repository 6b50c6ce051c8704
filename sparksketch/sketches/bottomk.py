"""Bottom-k (KMV) sketch: the k items with smallest 64-bit key hash, each
carrying an optional float payload value.

Fully order/partition-invariant: the kept set is a pure function of the input
multiset (ties on hash resolved by smaller payload value), so distributed
merges are **byte-identical** regardless of merge-tree shape — the mergeable
complement to KLL for quantiles (uniform-sample quantiles, rank error
O(sqrt(log(1/d)/k))) and to HLL for distinct counts (KMV estimator
``(k-1) / h_(k) `` over the unit-normalized hash scale, Beyer et al. 2007)."""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_BOTTOMK, Sketch, pack_header, register

_HDR = struct.Struct("<IQI")  # k, n_total, n_kept
_MAX_U64 = float(2 ** 64)


class BottomKSketch(Sketch):
    KIND = KIND_BOTTOMK

    def __init__(self, k: int = 1024,
                 hashes: np.ndarray | None = None,
                 values: np.ndarray | None = None,
                 n: int = 0) -> None:
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.hashes = hashes if hashes is not None else np.zeros(0, dtype=np.uint64)
        self.values = values if values is not None else np.zeros(0)
        self.n = n

    def _trim(self) -> None:
        if self.hashes.size == 0:
            return
        order = np.lexsort((self.values, self.hashes))
        h = self.hashes[order]
        v = self.values[order]
        # distinct hashes only (KMV over the distinct-key domain)
        first = np.r_[True, h[1:] != h[:-1]]
        h, v = h[first], v[first]
        self.hashes = h[: self.k].copy()
        self.values = v[: self.k].copy()

    def add_hashes(self, h: np.ndarray, values: np.ndarray | None = None) -> None:
        h = np.asarray(h, dtype=np.int64).view(np.uint64)
        if h.size == 0:
            return
        if values is None:
            values = np.zeros(h.size)
        else:
            values = np.asarray(values, dtype=np.float64)
        self.n += int(h.size)
        self.hashes = np.concatenate([self.hashes, h])
        self.values = np.concatenate([self.values, values])
        self._trim()

    def merge(self, other: Sketch) -> None:
        if not isinstance(other, BottomKSketch) or other.k != self.k:
            raise ValueError("k mismatch in bottom-k merge")
        self.n += other.n
        self.hashes = np.concatenate([self.hashes, other.hashes])
        self.values = np.concatenate([self.values, other.values])
        self._trim()

    # -- estimates ----------------------------------------------------------
    def distinct_estimate(self) -> float:
        """KMV distinct-count estimate; exact when fewer than k distinct."""
        kept = self.hashes.size
        if kept < self.k:
            return float(kept)
        h_k = float(self.hashes[-1]) / _MAX_U64
        return (self.k - 1) / max(h_k, 1e-300)

    def estimate(self) -> float:
        return self.distinct_estimate()

    def quantile(self, q: float) -> float:
        """Quantile of the payload values from the uniform hash sample.
        NaN payloads (SQL NULLs through the Arrow crossing) are excluded
        here — they must stay in the kept set (dropping the ROW would
        skew distinct_estimate) but would otherwise sort last and make
        every upper quantile NaN."""
        v = np.sort(self.values[~np.isnan(self.values)])
        if v.size == 0:
            return float("nan")
        pos = q * (v.size - 1)
        lo = int(np.floor(pos))
        hi = min(lo + 1, v.size - 1)
        frac = pos - lo
        # lerp form, matching kll.py's exact-regime oracle alignment
        # (the blend (1-f)*lo + f*hi can round a tick off equal endpoints)
        return float(v[lo] + frac * (v[hi] - v[lo]))

    def quantiles(self, qs: list[float]) -> list[float]:
        """One sort for the whole report (see ``quantile``)."""
        v = np.sort(self.values[~np.isnan(self.values)])
        if v.size == 0:
            return [float("nan")] * len(qs)
        out = []
        for q in qs:
            pos = q * (v.size - 1)
            lo = int(np.floor(pos))
            hi = min(lo + 1, v.size - 1)
            out.append(float(v[lo] + (pos - lo) * (v[hi] - v[lo])))
        return out

    def union_distinct(self, other: "BottomKSketch") -> float:
        """Distinct-count estimate of A ∪ B: the union's bottom-k is itself
        a valid KMV sketch (KMV sketches are closed under union — Beyer et
        al. 2007), so this is exact whenever |A ∪ B| < k."""
        if other.k != self.k:
            raise ValueError("k mismatch")
        u = BottomKSketch(self.k, self.hashes.copy(), self.values.copy(),
                          self.n)
        u.merge(other)
        return u.distinct_estimate()

    def intersect_distinct(self, other: "BottomKSketch") -> float:
        """Distinct-count estimate of A ∩ B: bottom-k Jaccard over the
        union's sample frame times the union estimate (the standard KMV
        intersection estimator).  Exact when both kept sets are complete
        (< k distinct on each side)."""
        if other.k != self.k:
            raise ValueError("k mismatch")
        if self.hashes.size < self.k and other.hashes.size < other.k:
            return float(np.intersect1d(self.hashes, other.hashes).size)
        j = self.jaccard(other)
        if not np.isfinite(j):
            return 0.0
        return j * self.union_distinct(other)

    def difference_distinct(self, other: "BottomKSketch") -> float:
        """Distinct-count estimate of A \\ B = |A| - |A ∩ B| (clamped)."""
        return max(self.distinct_estimate()
                   - self.intersect_distinct(other), 0.0)

    def jaccard(self, other: "BottomKSketch") -> float:
        """Bottom-k Jaccard estimate: treat the union's bottom-k as the
        sample frame."""
        if other.k != self.k:
            raise ValueError("k mismatch")
        union = np.union1d(self.hashes, other.hashes)[: self.k]
        if union.size == 0:
            return float("nan")
        inter = np.intersect1d(self.hashes, other.hashes)
        return float(np.isin(union, inter).sum() / union.size)

    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND)
                + _HDR.pack(self.k, self.n, self.hashes.size)
                + self.hashes.astype("<u8", copy=False).tobytes()
                + self.values.astype("<f8", copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "BottomKSketch":
        k, n, kept = _HDR.unpack_from(body, 0)
        off = _HDR.size
        hashes = np.frombuffer(body[off:off + 8 * kept], dtype="<u8").copy()
        off += 8 * kept
        values = np.frombuffer(body[off:off + 8 * kept], dtype="<f8").copy()
        return BottomKSketch(int(k), hashes, values, int(n))


register(KIND_BOTTOMK, BottomKSketch._decode)
