"""Counting Bloom filter (commons-collections4 CountingBloomFilter contract;
SURVEY.md Table B3).  Cell array of counts; ``add`` increments the k cells
per item, ``subtract`` decrements (supporting deletion); a validity flag
trips on any cell underflow.  Merge = elementwise ``+`` — associative and
commutative, so distributed merges are byte-identical.

Two wire codecs:

- **v1** (``cell_bits=64``, default): int64 cells, byte layout unchanged
  from round 1 (golden-tested).
- **v2** (``cell_bits=16`` or ``32``): saturating narrow cells — a 100 TB
  build ships m x 2 bytes per partial instead of m x 8.  Saturating add
  (clamp at the dtype cap) is still associative+commutative over
  non-negative counts (min(a+b+c, cap) regardless of order), so merges
  stay byte-identical; ``subtract`` through a saturated cell is the
  documented approximation (the true count was lost at the cap), matching
  the small-cell counting-filter trade-off."""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import edh_indices
from ..shape import Shape
from .base import (KIND_COUNTING, KIND_COUNTING_V2, Sketch,
                   pack_header, register)

_HDR = struct.Struct("<QIB")
_HDR2 = struct.Struct("<QIBB")
_CELL_CODECS = {16: ("<u2", (1 << 16) - 1), 32: ("<i4", (1 << 31) - 1),
                64: ("<i8", None)}


class CountingBloomFilter(Sketch):
    KIND = KIND_COUNTING

    def __init__(self, shape: Shape, cells: np.ndarray | None = None,
                 valid: bool = True, cell_bits: int = 64) -> None:
        if cell_bits not in _CELL_CODECS:
            raise ValueError(f"cell_bits must be one of {set(_CELL_CODECS)}")
        self.shape = shape
        if cells is None:
            cells = np.zeros(shape.m, dtype=np.int64)
        self.cells = cells
        self.valid = valid
        self.cell_bits = cell_bits
        self._cap = _CELL_CODECS[cell_bits][1]

    def _saturate(self) -> None:
        if self._cap is not None:
            np.minimum(self.cells, self._cap, out=self.cells)

    def _matrix_counts(self, idx: np.ndarray) -> np.ndarray:
        """Aggregate an (items x k) index matrix into per-cell counts with
        per-item dedup (commons `Hasher.uniqueIndices` semantics: an item
        hitting the same cell twice counts ONCE — duplicate indices from
        EDH self-collisions or an ArrayHasher must not double-increment;
        reference usage StableBloomFilter.java:111-114, duplicate-bearing
        hashers in StableBloomFilterTest2.java:208-269)."""
        srt = np.sort(idx, axis=1)
        first = np.ones_like(srt, dtype=bool)
        first[:, 1:] = srt[:, 1:] != srt[:, :-1]
        flat = srt[first]
        return np.bincount(flat, minlength=self.shape.m).astype(np.int64)

    def _unique_idx_counts(self, h1: np.ndarray, h2: np.ndarray | None = None):
        return self._matrix_counts(
            edh_indices(h1, h2, self.shape.k, self.shape.m))

    def _rows_counts(self, rows) -> np.ndarray:
        """Per-cell counts for a sequence of per-item index arrays
        (variable length, duplicates allowed — the ArrayHasher form)."""
        if not len(rows):
            return np.zeros(self.shape.m, dtype=np.int64)
        flat = np.concatenate([np.unique(np.asarray(r, dtype=np.int64))
                               for r in rows])
        if flat.size and (flat.min() < 0 or flat.max() >= self.shape.m):
            raise ValueError("index out of range")
        return np.bincount(flat, minlength=self.shape.m).astype(np.int64)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        if len(h1) == 0:
            return
        self.cells += self._unique_idx_counts(h1, h2)
        self._saturate()

    def subtract_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        if len(h1) == 0:
            return
        self.cells -= self._unique_idx_counts(h1, h2)
        if (self.cells < 0).any():
            self.valid = False

    def add_index_rows(self, rows) -> None:
        """commons ``merge(Hasher)``/``add`` with explicit per-item index
        arrays (dups allowed, deduped per item)."""
        self.cells += self._rows_counts(rows)
        self._saturate()

    def subtract_index_rows(self, rows) -> None:
        """commons ``remove(Hasher)``/``subtract`` — underflow trips the
        validity flag, matching the commons contract."""
        self.cells -= self._rows_counts(rows)
        if (self.cells < 0).any():
            self.valid = False

    def apply_cell_op(self, op, h1: np.ndarray, h2: np.ndarray | None = None,
                      value: int = 1) -> None:
        """Generalized cell operator — the commons ``BufferManager.func(
        entry, value, IntBinaryOperator)`` contract (reference
        BufferManager.java:43-48) vectorized over a hash batch: for every
        cell an item touches, combine the current cell value with
        ``value`` under ``op``.

        Named ops: ``add``/``subtract`` apply once per touching item
        (closed form: +/- touches*value); ``max``/``min``/``set`` are
        idempotent and apply once per touched cell.  A custom callable
        receives ``(current_cells, touch_counts, value)`` for the touched
        cells and returns their new values — the arbitrary-operator
        seam.  Underflow below zero trips the validity flag (commons
        contract); narrow-cell codecs saturate at their cap."""
        if len(h1) == 0:
            return
        touches = self._unique_idx_counts(h1, h2)
        touched = touches > 0
        if op == "add":
            self.cells += touches * value
        elif op == "subtract":
            self.cells -= touches * value
        elif op == "max":
            np.maximum(self.cells, np.where(touched, value, self.cells),
                       out=self.cells)
        elif op == "min":
            np.minimum(self.cells, np.where(touched, value, self.cells),
                       out=self.cells)
        elif op == "set":
            self.cells[touched] = value
        elif callable(op):
            self.cells[touched] = op(self.cells[touched], touches[touched],
                                     value)
        else:
            raise ValueError(f"unknown cell op {op!r}")
        if (self.cells < 0).any():
            self.valid = False
        self._saturate()

    def merge(self, other: Sketch) -> None:
        if not isinstance(other, CountingBloomFilter) or other.shape != self.shape:
            raise ValueError("shape mismatch in counting merge")
        if other.cell_bits != self.cell_bits:
            raise ValueError("cell-width mismatch in counting merge")
        self.cells += other.cells
        self._saturate()
        self.valid = self.valid and other.valid

    def subtract(self, other: "CountingBloomFilter") -> None:
        if other.shape != self.shape:
            raise ValueError("shape mismatch in counting subtract")
        if other.cell_bits != self.cell_bits:
            raise ValueError("cell-width mismatch in counting subtract")
        self.cells -= other.cells
        if (self.cells < 0).any():
            self.valid = False

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> np.ndarray:
        n = len(h1)
        if n == 0:
            return np.zeros(0, dtype=bool)
        idx = edh_indices(h1, h2, self.shape.k, self.shape.m)
        return (self.cells[idx] > 0).all(axis=1)

    def cardinality(self) -> int:
        return int(np.count_nonzero(self.cells))

    def estimate_n(self) -> float:
        return self.shape.estimate_n(self.cardinality())

    def estimate(self) -> float:
        return self.estimate_n()

    def to_bytes(self) -> bytes:
        if self.cell_bits == 64:  # v1 wire bytes, golden-stable
            return (pack_header(self.KIND)
                    + _HDR.pack(self.shape.m, self.shape.k,
                                1 if self.valid else 0)
                    + self.cells.astype("<i8", copy=False).tobytes())
        dtype = _CELL_CODECS[self.cell_bits][0]
        # clamp BEFORE narrowing: an underflowed (negative) cell must not
        # wrap to a huge unsigned value — that would turn an invalid-but-
        # conservative filter into one that answers false positives after
        # a (de)serialize hop.  The validity flag carries the underflow.
        wire = np.clip(self.cells, 0, self._cap)
        return (pack_header(KIND_COUNTING_V2)
                + _HDR2.pack(self.shape.m, self.shape.k,
                             1 if self.valid else 0, self.cell_bits)
                + wire.astype(dtype, copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "CountingBloomFilter":
        m, k, valid = _HDR.unpack_from(body, 0)
        cells = np.frombuffer(body[_HDR.size:], dtype="<i8", count=m).copy()
        return CountingBloomFilter(Shape(m=int(m), k=int(k)), cells, bool(valid))

    @staticmethod
    def _decode_v2(body: memoryview) -> "CountingBloomFilter":
        m, k, valid, bits = _HDR2.unpack_from(body, 0)
        if int(bits) not in _CELL_CODECS:
            raise ValueError(f"corrupt counting blob: cell_bits={bits}")
        dtype = _CELL_CODECS[int(bits)][0]
        cells = np.frombuffer(body[_HDR2.size:], dtype=dtype,
                              count=m).astype(np.int64)
        return CountingBloomFilter(Shape(m=int(m), k=int(k)), cells,
                                   bool(valid), cell_bits=int(bits))


register(KIND_COUNTING, CountingBloomFilter._decode)
register(KIND_COUNTING_V2, CountingBloomFilter._decode_v2)
