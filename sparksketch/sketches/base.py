"""Canonical sketch codec + registry.

Every sketch serializes to ``bytes`` with a fixed little-endian layout:

    magic 'SKS1' (4B) | version u8 | kind u8 | flags u16 | kind-specific body

The codec is *canonical*: a given sketch state has exactly one byte
representation, and all mergeable sketch kinds use bitwise-commutative merge
ops (OR / sum / max / min / union-by-key), so any merge tree over the same
input multiset produces byte-identical output (BASELINE.json north_rule).
Order-sensitive kinds (stable BF) and canonical-but-history-dependent kinds
(KLL, t-digest) document their weaker guarantee in their own modules.

Reference merge semantics: StableBloomFilter.java:106-108 (merge(BloomFilter)
== union of set bits); commons-collections4 BloomFilter contract.
"""

from __future__ import annotations

import struct
from typing import Callable, ClassVar

MAGIC = b"SKS1"
# VERSION 2 (round 5): the EDH probe-hash scheme changed in round 4 —
# h2 is now derived worker-side as splitmix64(h1 ^ H2_MIX)
# (hashing.derive_h2) instead of the retired xxhash64(0xB10F, cols)
# column.  A version-1 blob DECODES fine but would be PROBED with the
# wrong index sequence (silent false negatives / wrong counts), so the
# header must make the scheme change loud: version is bumped and the
# flags word records the probe-hash scheme id.  ADVICE r04 (medium).
VERSION = 2
# flags low byte = probe-hash scheme id
HASH_SCHEME_SPLITMIX_REMIX = 1
_HEADER = struct.Struct("<4sBBH")

# kind ids
KIND_BLOOM = 1
KIND_BLOOM_SPARSE = 2
KIND_COUNTING = 3
KIND_STABLE = 4
KIND_LAYERED = 5
KIND_HLL = 6
KIND_CMS = 7
KIND_KLL = 8
KIND_TDIGEST = 9
KIND_BOTTOMK = 10
KIND_MINHASH = 11
KIND_COUNTING_V2 = 12  # narrow saturating cells (u16/i32); v1 = i64

_REGISTRY: dict[int, Callable[[memoryview], "Sketch"]] = {}


def register(kind: int, decoder: Callable[[memoryview], "Sketch"]) -> None:
    _REGISTRY[kind] = decoder


def pack_header(kind: int) -> bytes:
    return _HEADER.pack(MAGIC, VERSION, kind, HASH_SCHEME_SPLITMIX_REMIX)


def sketch_from_bytes(data: bytes | bytearray | memoryview) -> "Sketch":
    mv = memoryview(data)
    magic, version, kind, flags = _HEADER.unpack_from(mv, 0)
    if magic != MAGIC:
        raise ValueError("not a sketch: bad magic")
    if version == 1:
        # loud, actionable failure instead of silent wrong probes
        raise ValueError(
            "sketch blob is wire-version 1: it was persisted under the "
            "retired xxhash64(0xB10F, cols) probe-hash scheme and cannot "
            "be probed correctly by this build (h2 is now derived as "
            "splitmix64(h1 ^ H2_MIX), hashing.derive_h2).  Re-build the "
            "sketch from source data.")
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    if (flags & 0xFF) != HASH_SCHEME_SPLITMIX_REMIX:
        raise ValueError(
            f"sketch blob records probe-hash scheme {flags & 0xFF}, "
            f"this build uses {HASH_SCHEME_SPLITMIX_REMIX} — rebuild "
            "required")
    try:
        decoder = _REGISTRY[kind]
    except KeyError:
        raise ValueError(f"unknown sketch kind {kind}") from None
    return decoder(mv[_HEADER.size:])


def merge_bytes(a: bytes | None, b: bytes | None) -> bytes | None:
    """Associative merge over serialized sketches; ``None``/empty is identity.

    This is the combiner handed to ``rdd.treeAggregate`` and the reduce step
    of grouped merges.
    """
    if not a:
        return b
    if not b:
        return a
    sa = sketch_from_bytes(a)
    sb = sketch_from_bytes(b)
    sa.merge(sb)
    return sa.to_bytes()


def merge_blob_list(blobs) -> bytes | None:
    """Fold many serialized sketches into one blob.

    Decodes each input once and merges in place into a single accumulator
    (N decodes + 1 encode, vs ``reduce(merge_bytes)``'s 2N decodes + N
    encodes — the difference is material for MB-scale bitmap sketches).
    Byte-identical to any other merge order for the commutative kinds.
    """
    acc = None
    for b in blobs:
        if not b:
            continue
        if acc is None:
            acc = sketch_from_bytes(b)
        else:
            acc.merge(sketch_from_bytes(b))
    return None if acc is None else acc.to_bytes()


class Sketch:
    """Common interface: merge is in-place and must be commutative +
    associative for all kinds except the stable filter (which documents
    ordered-replay semantics instead)."""

    KIND: ClassVar[int] = 0

    def merge(self, other: "Sketch") -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def to_bytes(self) -> bytes:  # pragma: no cover - interface
        raise NotImplementedError

    def estimate(self) -> float:
        """The kind's one headline count: distinct items for HLL, bottom-k
        and the Bloom family, items seen for KLL and t-digest.  Kinds with
        no single count (CMS, MinHash, layered) raise ``TypeError``."""
        raise TypeError(f"{type(self).__name__} has no single estimate")
