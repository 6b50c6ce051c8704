"""Bloom filters: dense bitmap (SimpleBloomFilter) and sparse index-set
(SparseBloomFilter) — the commons-collections4 conformance layer the reference
builds on (SURVEY.md Table B1/B2; reference usage StableBloomFilter.java:13,166
and StableBloomFilterTest2.java:374-382).

Dense form: ``ceil(m/64)`` little-endian uint64 words.  Merge = bitwise OR —
fully associative/commutative, so distributed merges are byte-identical
regardless of partition order or merge-tree shape.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..bitops import popcount
from ..hashing import edh_indices_flat
from ..shape import Shape
from .base import (KIND_BLOOM, KIND_BLOOM_SPARSE, Sketch, pack_header,
                   register, sketch_from_bytes)

_BLOOM_HDR = struct.Struct("<QI")
_SPARSE_HDR = struct.Struct("<QII")


class BloomFilter(Sketch):
    """Dense bitmap Bloom filter over a :class:`Shape`."""

    KIND = KIND_BLOOM

    def __init__(self, shape: Shape, words: np.ndarray | None = None) -> None:
        self.shape = shape
        if words is None:
            words = np.zeros(shape.num_words, dtype=np.uint64)
        self.words = words

    # -- updates ------------------------------------------------------------
    def add_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        """Vectorized insert of a batch of items given their (h1, h2) pairs."""
        if len(h1) == 0:
            return
        idx = edh_indices_flat(h1, h2, self.shape.k, self.shape.m)
        self.set_indices(idx)

    def set_indices(self, idx: np.ndarray) -> None:
        idx = np.asarray(idx, dtype=np.int64)
        if idx.size == 0:
            return
        if idx.min() < 0 or idx.max() >= self.shape.m:
            raise ValueError(
                f"Filter only accepts values in the [0,{self.shape.m}) range")
        if idx.size * 40 > self.shape.m:
            # dense batch: a bool scratch + packbits beats the (slow)
            # element-wise np.bitwise_or.at scatter (~1.6x on big batches)
            bits = np.zeros(len(self.words) * 64, dtype=bool)
            bits[idx] = True
            self.words |= np.packbits(bits, bitorder="little").view(np.uint64)
        else:
            word = (idx >> 6).astype(np.int64)
            bit = np.left_shift(np.uint64(1), (idx & 63).astype(np.uint64))
            np.bitwise_or.at(self.words, word, bit)

    def merge(self, other: Sketch) -> None:
        if isinstance(other, SparseBloomFilter):
            self.set_indices(other.indices)
            return
        if not isinstance(other, BloomFilter) or other.shape != self.shape:
            raise ValueError("shape mismatch in bloom merge")
        np.bitwise_or(self.words, other.words, out=self.words)

    # -- queries ------------------------------------------------------------
    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> np.ndarray:
        """Vectorized ALL-of-k membership over a batch -> bool array."""
        n = len(h1)
        if n == 0:
            return np.zeros(0, dtype=bool)
        idx = edh_indices_flat(h1, h2, self.shape.k, self.shape.m).reshape(n, self.shape.k)
        word = (idx >> 6).astype(np.int64)
        bit = np.left_shift(np.uint64(1), (idx & 63).astype(np.uint64))
        probed = (self.words[word] & bit) != 0
        return probed.all(axis=1)

    def contains_indices(self, idx: np.ndarray) -> bool:
        idx = np.asarray(idx, dtype=np.int64)
        word = (idx >> 6).astype(np.int64)
        bit = np.left_shift(np.uint64(1), (idx & 63).astype(np.uint64))
        return bool(((self.words[word] & bit) != 0).all())

    def cardinality(self) -> int:
        return popcount(self.words)

    def estimate_n(self) -> float:
        return self.shape.estimate_n(self.cardinality())

    def estimate(self) -> float:
        return self.estimate_n()

    def is_full(self) -> bool:
        return self.cardinality() == self.shape.m

    def as_index_array(self) -> np.ndarray:
        """Sparse view: sorted distinct set-bit indices (DISTINCT|ORDERED)."""
        bits = np.unpackbits(self.words.view(np.uint8), bitorder="little")
        return np.flatnonzero(bits[: self.shape.m]).astype(np.int64)

    # -- codec --------------------------------------------------------------
    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND)
                + _BLOOM_HDR.pack(self.shape.m, self.shape.k)
                + self.words.astype("<u8", copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "BloomFilter":
        m, k = _BLOOM_HDR.unpack_from(body, 0)
        words = np.frombuffer(body[_BLOOM_HDR.size:], dtype="<u8").copy()
        return BloomFilter(Shape(m=int(m), k=int(k)), words)

    @staticmethod
    def empty_bytes(shape: Shape) -> bytes:
        return BloomFilter(shape).to_bytes()


class SparseBloomFilter(Sketch):
    """Sorted-distinct index-set Bloom filter (commons SparseBloomFilter)."""

    KIND = KIND_BLOOM_SPARSE

    def __init__(self, shape: Shape, indices: np.ndarray | None = None) -> None:
        self.shape = shape
        if indices is None:
            indices = np.zeros(0, dtype=np.int64)
        self.indices = indices  # always sorted distinct

    def set_indices(self, idx: np.ndarray) -> None:
        idx = np.asarray(idx, dtype=np.int64)
        if idx.size == 0:
            return
        if idx.min() < 0 or idx.max() >= self.shape.m:
            raise ValueError(
                f"Filter only accepts values in the [0,{self.shape.m}) range")
        self.indices = np.union1d(self.indices, idx)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        if len(h1) == 0:
            return
        self.set_indices(edh_indices_flat(h1, h2, self.shape.k, self.shape.m))

    def merge(self, other: Sketch) -> None:
        if isinstance(other, BloomFilter):
            self.set_indices(other.as_index_array())
            return
        if not isinstance(other, SparseBloomFilter) or other.shape != self.shape:
            raise ValueError("shape mismatch in sparse bloom merge")
        self.indices = np.union1d(self.indices, other.indices)

    def to_dense(self) -> BloomFilter:
        bf = BloomFilter(self.shape)
        bf.set_indices(self.indices)
        return bf

    def cardinality(self) -> int:
        return int(self.indices.size)

    def estimate_n(self) -> float:
        return self.shape.estimate_n(self.cardinality())

    def estimate(self) -> float:
        return self.estimate_n()

    def contains_indices(self, idx: np.ndarray) -> bool:
        return bool(np.isin(np.asarray(idx, dtype=np.int64), self.indices).all())

    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND)
                + _SPARSE_HDR.pack(self.shape.m, self.shape.k, self.indices.size)
                + self.indices.astype("<i8", copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "SparseBloomFilter":
        m, k, n = _SPARSE_HDR.unpack_from(body, 0)
        idx = np.frombuffer(body[_SPARSE_HDR.size:], dtype="<i8", count=n).copy()
        return SparseBloomFilter(Shape(m=int(m), k=int(k)), idx)


def pick_representation(bf: BloomFilter, sparse_threshold: float = 0.1) -> Sketch:
    """Dense/sparse auto-selection by fill ratio at serialization time
    (SURVEY.md §4: SPARSE characteristic hint)."""
    card = bf.cardinality()
    # sparse costs 8B/index, dense m/8 bytes
    if card * 8 < bf.shape.m / 8 * sparse_threshold * 10:
        return SparseBloomFilter(bf.shape, bf.as_index_array())
    return bf


register(KIND_BLOOM, BloomFilter._decode)
register(KIND_BLOOM_SPARSE, SparseBloomFilter._decode)
