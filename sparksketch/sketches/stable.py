"""Stable Bloom Filter — unbounded-stream duplicate detection with decay
(Deng & Rafiei, SIGMOD 2006; reference StableBloomFilter.java).

Semantics mirrored from the reference:
  - insert: decrement ``p`` pseudo-random cells (floor 0), then set the k
    hashed cells to ``Max`` (StableBloomFilter.java:86-97,171-177)
  - contains: ALL probed cells non-zero (StableBloomFilter.java:65-69)
  - cardinality: count of non-zero cells (StableBloomFilter.java:72-83)
  - flatten: collapse to a plain OR-mergeable bitmap (StableBloomFilter.java:165-169)

Determinism divergence (intentional, documented): the reference seeds its
decrement PRNG from an unseeded ``java.util.Random``
(FastPseudoRandomInt.java:26-30) and is irreproducible across runs.  We seed
from a caller-supplied seed so that *ordered replay* — rows applied in
(conv_id, turn_idx) order within a hash partition — reproduces byte-identical
state.  The stable filter is order-dependent by definition and is therefore
NOT an associative merge; distributed use is per-partition ordered replay
(SURVEY.md §4 hard-part 1), and cross-partition combination goes through
``flatten()`` into the associative bitmap domain.

Cells are uint8 in memory; serialization packs 1-4-bit cells the same way the
reference's Packed buffer does (cell e -> byte e//cellsPerByte, shift
(e % cellsPerByte)*bitsPerCell — AbstractBufferManager.java:111-199), byte
goldens in tests/test_buffers.py.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import DecrementPRNG, edh_indices
from ..shape import Shape, StableShape
from .base import KIND_STABLE, Sketch, pack_header, register
from .bloom import BloomFilter

_HDR = struct.Struct("<dQIIIQ")  # fps, m, k, p, max, seed


def pack_cells(cells: np.ndarray, bits_per_cell: int) -> bytes:
    """Pack uint8 cells into the reference's packed-byte layout."""
    if bits_per_cell >= 5:
        return cells.astype(np.uint8, copy=False).tobytes()
    cpb = 8 // bits_per_cell
    m = cells.size
    nbytes = (m + cpb - 1) // cpb
    padded = np.zeros(nbytes * cpb, dtype=np.uint16)
    padded[:m] = cells
    out = np.zeros(nbytes, dtype=np.uint16)
    for slot in range(cpb):
        out |= padded[slot::cpb] << (slot * bits_per_cell)
    return out.astype(np.uint8).tobytes()


def unpack_cells(data: bytes | memoryview, m: int, bits_per_cell: int) -> np.ndarray:
    if bits_per_cell >= 5:
        return np.frombuffer(data, dtype=np.uint8, count=m).copy()
    cpb = 8 // bits_per_cell
    raw = np.frombuffer(data, dtype=np.uint8).astype(np.uint16)
    mask = (1 << bits_per_cell) - 1
    cells = np.zeros(raw.size * cpb, dtype=np.uint8)
    for slot in range(cpb):
        cells[slot::cpb] = (raw >> (slot * bits_per_cell)) & mask
    return cells[:m]


class StableBloomFilter(Sketch):
    KIND = KIND_STABLE

    def __init__(self, sshape: StableShape, seed: int = 42,
                 cells: np.ndarray | None = None,
                 prng: DecrementPRNG | None = None) -> None:
        self.sshape = sshape
        self.seed = seed
        if cells is None:
            cells = np.zeros(sshape.m, dtype=np.uint8)
        self.cells = cells
        self.prng = prng if prng is not None else DecrementPRNG(seed)

    @property
    def shape(self) -> Shape:
        return self.sshape.shape

    # -- inserts (order-dependent; sequential by contract) ------------------
    def _decrement(self) -> None:
        idx = self.prng.next_rows(1, self.sshape.p, self.sshape.m)[0]
        # floor-0 decrement; np.subtract.at would double-decrement duplicate
        # draws, matching the reference (each draw decrements independently)
        # but must not underflow uint8 — work per unique index with counts.
        uniq, counts = np.unique(idx, return_counts=True)
        cur = self.cells[uniq].astype(np.int64)
        self.cells[uniq] = np.maximum(cur - counts, 0).astype(np.uint8)

    def insert_indices(self, idx: np.ndarray) -> None:
        """One insertion: decrement p cells, then set given cells to Max
        (StableBloomFilter.java:86-97)."""
        idx = np.asarray(idx, dtype=np.int64)
        if idx.size and (idx.min() < 0 or idx.max() >= self.sshape.m):
            raise ValueError(
                f"Filter only accepts values in the [0,{self.sshape.m}) range")
        self._decrement()
        self.cells[idx] = self.sshape.max

    def insert_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        """Ordered replay of a batch: rows applied in array order.

        Decrement draws for the whole batch are generated in one vectorized
        PRNG block (the stream is a closed form), then applied row by row.
        """
        n = len(h1)
        if n == 0:
            return
        k, m, p, mx = self.sshape.k, self.sshape.m, self.sshape.p, self.sshape.max
        set_idx = edh_indices(h1, h2, k, m)
        dec_idx = self.prng.next_rows(n, p, m)
        cells = self.cells
        for r in range(n):
            d = dec_idx[r]
            uniq, counts = np.unique(d, return_counts=True)
            cur = cells[uniq].astype(np.int64)
            cells[uniq] = np.maximum(cur - counts, 0).astype(np.uint8)
            cells[set_idx[r]] = mx

    def insert_hashes_flagged(self, h1: np.ndarray,
                              h2: np.ndarray | None = None) -> np.ndarray:
        """Ordered replay returning the pre-insert membership flag per row —
        the SIGMOD'06 stream-dedup primitive ("seen recently?"): probe the k
        cells BEFORE decrement+set, then insert.  Same cell-state evolution
        as :meth:`insert_hashes` given the same row order and PRNG state."""
        n = len(h1)
        flags = np.zeros(n, dtype=bool)
        if n == 0:
            return flags
        k, m, p, mx = self.sshape.k, self.sshape.m, self.sshape.p, self.sshape.max
        set_idx = edh_indices(h1, h2, k, m)
        dec_idx = self.prng.next_rows(n, p, m)
        cells = self.cells
        for r in range(n):
            flags[r] = bool((cells[set_idx[r]] != 0).all())
            d = dec_idx[r]
            uniq, counts = np.unique(d, return_counts=True)
            cur = cells[uniq].astype(np.int64)
            cells[uniq] = np.maximum(cur - counts, 0).astype(np.uint8)
            cells[set_idx[r]] = mx
        return flags

    # -- queries ------------------------------------------------------------
    def contains_indices(self, idx: np.ndarray) -> bool:
        return bool((self.cells[np.asarray(idx, dtype=np.int64)] != 0).all())

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> np.ndarray:
        n = len(h1)
        if n == 0:
            return np.zeros(0, dtype=bool)
        idx = edh_indices(h1, h2, self.sshape.k, self.sshape.m)
        return (self.cells[idx] != 0).all(axis=1)

    def cardinality(self) -> int:
        return int(np.count_nonzero(self.cells))

    def estimate_n(self) -> float:
        return self.shape.estimate_n(self.cardinality())

    def estimate(self) -> float:
        return self.estimate_n()

    def as_index_array(self) -> np.ndarray:
        return np.flatnonzero(self.cells).astype(np.int64)

    def flatten(self) -> BloomFilter:
        """Collapse to the associative bitmap domain
        (StableBloomFilter.java:165-169)."""
        bf = BloomFilter(self.shape)
        bf.set_indices(self.as_index_array())
        return bf

    def copy(self) -> "StableBloomFilter":
        c = StableBloomFilter(self.sshape, self.seed, self.cells.copy())
        c.prng.row = self.prng.row
        return c

    def clear(self) -> None:
        self.cells[:] = 0

    def merge(self, other: Sketch) -> None:
        """Union of set bits (merge(BloomFilter) path,
        StableBloomFilter.java:106-108): set other's non-zero cells to Max.
        Note: NOT the insertion path — no decrement, matching a single
        IndexProducer merge's set loop after one decrement is the insert
        path; use insert_* for stream semantics."""
        if isinstance(other, StableBloomFilter):
            idx = other.as_index_array()
        elif isinstance(other, BloomFilter):
            idx = other.as_index_array()
        else:
            raise ValueError("cannot merge this kind into stable filter")
        self._decrement()
        self.cells[idx] = self.sshape.max

    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND)
                + _HDR.pack(self.sshape.fps, self.sshape.m, self.sshape.k,
                            self.sshape.p, self.sshape.max, self.seed)
                + pack_cells(self.cells, self.sshape.bits_per_cell))

    @staticmethod
    def _decode(body: memoryview) -> "StableBloomFilter":
        fps, m, k, p, mx, seed = _HDR.unpack_from(body, 0)
        ss = StableShape(m=int(m), k=int(k), fps=float(fps), p=int(p), max=int(mx))
        cells = unpack_cells(body[_HDR.size:], int(m), ss.bits_per_cell)
        return StableBloomFilter(ss, int(seed), cells)


register(KIND_STABLE, StableBloomFilter._decode)
