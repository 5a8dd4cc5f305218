"""Counting Bloom filter: the deletable member of the family.

A classic CBF replaces each Bloom bit with a small counter; Remove is the
one operation the reference's plain bitset can never support
(/root/reference/bloomfilter.go:183-193 offers only Clear — the CHANGELOG's
"removed" APIs are batch/paged variants, not deletion).  This implementation
keeps the reference's exact geometry so the two filters are interchangeable:

  - sizing, k, and 512-bit block rounding are delegated to
    BloomFilter.create (same m/k as /root/reference/bloomfilter.go:62-81)
  - bit positions are the identical uint64-wrapped double-hash
    pos_i = (h1 + i·h2) mod 2^64 mod m (bloomfilter.go:124-126), so
    `to_bloom()` of a CBF is BIT-IDENTICAL to a plain BloomFilter built
    over the same net key multiset — pinned by test.

Distributed-delete design (Spark-first, not in any single-node CBF):
counters are SIGNED int64 deltas.  A partition that sees only the delete of
a key (its insert happened in another partition) folds a legal negative
partial; the global merge (element-wise sum — commutative and associative,
so any merge tree gives the same bits, as for Bloom's OR) restores
non-negativity as long as deletes ⊆ inserts as a multiset.  Membership and popcount are
therefore defined on the MERGED filter only; partials are opaque deltas.

Invariants (given deletes ⊆ inserts):
  - zero false negatives for keys with net count ≥ 1
  - a fully-deleted key probes like any never-inserted key (hits only by
    collision, at the filter's current FPP)
  - `negative_cells()` > 0 on a merged filter is a hard diagnostic that
    something was deleted but never inserted.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from bloomfilter_spark.functions.hashing import DEFAULT_SEED, hash_any
from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter, lane_probe

U64 = np.uint64


@serde.register(serde.KIND_CBF)
class CountingBloomFilter:
    """Mergeable counting Bloom filter over a signed int64 counter array."""

    __slots__ = ("m", "k", "seed", "n_added", "n_removed", "counts")

    _PARAMS = struct.Struct("<QIBxxxQ")  # m u64, k u32, codec u8, pad, n_removed u64
    _CODEC_ZLIB = 1

    def __init__(self, m: int, k: int, seed: int = DEFAULT_SEED, counts=None,
                 n_added: int = 0, n_removed: int = 0):
        # from_bytes reaches here with attacker-shaped params: an m=0 blob
        # would otherwise pass every length check (0 == 0) and crash later
        # with a numpy divide-by-zero deep inside contains()
        if m < 1 or k < 1:
            raise ValueError(f"countingbloom: m ({m}) and k ({k}) must be >= 1")
        self.m = int(m)
        self.k = int(k)
        self.seed = int(seed)
        self.n_added = int(n_added)
        self.n_removed = int(n_removed)
        if counts is None:
            counts = np.zeros(self.m, dtype=np.int64)
        self.counts = counts

    @classmethod
    def create(cls, expected_elements: int, false_positive_rate: float,
               seed: int = DEFAULT_SEED) -> "CountingBloomFilter":
        """Same sizing/validation contract as the plain filter — one source
        of truth for the m/k math (bloomfilter.go:50-81)."""
        proto = BloomFilter.create(expected_elements, false_positive_rate, seed=seed)
        return cls(m=proto.m, k=proto.k, seed=seed)

    def empty_like(self) -> "CountingBloomFilter":
        return CountingBloomFilter(self.m, self.k, self.seed)

    # -- update ---------------------------------------------------------------

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) positions — byte-identical math to BloomFilter._positions
        (uint64 wraparound BEFORE mod m), which is what makes to_bloom()
        bit-compatible."""
        i = np.arange(self.k, dtype=U64)
        with np.errstate(over="ignore"):
            pos = i[None, :] * h2[:, None]
            pos += h1[:, None]
            pos %= U64(self.m)
            return pos

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray, weights=None) -> None:
        """Fold pre-hashed keys.  weights: signed per-key deltas (+1 insert
        / -1 delete); None inserts each key once."""
        if len(h1) == 0:
            return
        pos = self._positions(h1, h2).view(np.int64).ravel()
        if weights is None:
            # np.add.at has a fast indexed inner loop (unlike bitwise_or.at)
            # and is duplicate-safe: colliding positions accumulate.
            np.add.at(self.counts, pos, 1)
            self.n_added += len(h1)
            return
        deltas = np.asarray(weights, dtype=np.int64)
        if len(deltas) != len(h1):
            raise ValueError("cbf: deltas length must match values length")
        np.add.at(self.counts, pos, np.repeat(deltas, self.k))
        self.n_added += int(deltas[deltas > 0].sum())
        self.n_removed += int(-deltas[deltas < 0].sum())

    def update(self, values) -> None:
        """Insert a batch: each key increments its k counters."""
        self.add_hashes(*hash_any(values, self.seed))

    def remove(self, values) -> None:
        """Delete a batch: each key decrements its k counters.  Only legal
        for keys previously inserted (standard CBF contract); violations
        surface as negative_cells() > 0 on the merged filter."""
        h1, h2 = hash_any(values, self.seed)
        self.add_hashes(h1, h2, np.full(len(h1), -1, dtype=np.int64))

    def update_signed(self, values, deltas) -> None:
        """Batch of signed per-row deltas (+1 insert / -1 delete), where one
        batch can interleave both."""
        self.add_hashes(*hash_any(values, self.seed), deltas)

    # -- query ----------------------------------------------------------------

    def contains(self, values) -> np.ndarray:
        """True = probably present (net count ≥ 1 on all k cells). Defined on
        a merged filter; on a raw delta partial the answer is meaningless.

        Lane-at-a-time with candidate compaction (same probe shape as
        BloomFilter.contains_hashes): a miss early-outs on its first
        zero counter, so expected gathers per absent key are ~2, not k."""
        h1, h2 = hash_any(values, self.seed)
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        counts = self.counts
        return lane_probe(
            h1, h2, self.k, self.m,
            lambda pos: counts[pos.view(np.int64)] >= 1,
        )

    # -- bulk ops --------------------------------------------------------------

    def _check_geometry(self, other: "CountingBloomFilter", op: str) -> None:
        if self.m != other.m or self.k != other.k or self.seed != other.seed:
            raise ValueError(f"counting bloom filters must have same size for {op}")

    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        """Element-wise counter sum — commutative + associative, so every
        distributed merge order gives the same counters, as for Bloom's OR."""
        self._check_geometry(other, "merge")
        np.add(self.counts, other.counts, out=self.counts)
        self.n_added += other.n_added
        self.n_removed += other.n_removed
        return self

    def clear(self) -> None:
        self.counts.fill(0)
        self.n_added = 0
        self.n_removed = 0

    def popcount(self) -> int:
        """Cells with net count ≥ 1 (the bitset popcount analog)."""
        return int((self.counts >= 1).sum())

    def negative_cells(self) -> int:
        """Merged-filter diagnostic: >0 ⇒ a delete of a never-inserted key."""
        return int((self.counts < 0).sum())

    def estimated_fpp(self) -> float:
        from bloomfilter_spark.sketches.bloom import fpp_from_occupancy

        return fpp_from_occupancy(self.popcount(), self.m, self.k)

    def estimated_cardinality(self) -> float:
        from bloomfilter_spark.sketches.bloom import (
            cardinality_from_occupancy,
        )

        return cardinality_from_occupancy(self.popcount(), self.m, self.k)

    def to_bloom(self) -> BloomFilter:
        """Collapse to a plain Bloom filter (cells with net count ≥ 1) —
        bit-identical to building BloomFilter over the net key multiset."""
        bits = (self.counts >= 1).astype(np.uint8)
        words = np.packbits(bits, bitorder="little").view(U64).copy()
        net = self.n_added - self.n_removed
        return BloomFilter(self.m, self.k, seed=self.seed, words=words,
                           n_added=max(net, 0))

    def stats(self) -> dict:
        set_cells = self.popcount()
        return {
            "bit_count": self.m,
            "hash_count": self.k,
            "cells_set": set_cells,
            "load_factor": set_cells / float(self.m),
            "estimated_fpp": self.estimated_fpp(),
            "max_count": int(self.counts.max(initial=0)),
            "negative_cells": self.negative_cells(),
            "memory_usage": self.counts.nbytes,
            "n_added": self.n_added,
            "n_removed": self.n_removed,
            "backend": f"numpy-{np.__version__}",
            "vectorized": True,
        }

    # -- serde ------------------------------------------------------------------

    def to_bytes(self) -> bytes:
        # Counters are overwhelmingly zero (load factor ln2·n/m per cell),
        # so the blob compresses ~20-50×; zlib level 1 is deterministic for
        # a fixed input, preserving blob-level bit-identity checks.
        payload = zlib.compress(self.counts.tobytes(), 1)
        params = self._PARAMS.pack(self.m, self.k, self._CODEC_ZLIB, self.n_removed)
        return serde.pack(serde.KIND_CBF, self.seed, self.n_added, params, payload)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountingBloomFilter":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_CBF:
            raise ValueError(f"not a counting-bloom blob (kind={kind})")
        m, k, codec, n_removed = cls._PARAMS.unpack(params)
        if codec != cls._CODEC_ZLIB:
            raise ValueError(f"cbf blob: unknown codec {codec}")
        try:
            raw = zlib.decompress(bytes(payload))
        except zlib.error as ex:
            raise ValueError(f"cbf blob: corrupt payload ({ex})") from ex
        if len(raw) != m * 8:
            raise ValueError(
                f"cbf blob: payload is {len(raw)} bytes, expected {m * 8} "
                f"for m={m} (truncated or corrupt)"
            )
        counts = np.frombuffer(raw, dtype=np.int64).copy()
        return cls(m=m, k=k, seed=seed, counts=counts,
                   n_added=n_added, n_removed=n_removed)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountingBloomFilter)
            and self.m == other.m
            and self.k == other.k
            and self.seed == other.seed
            and bool(np.array_equal(self.counts, other.counts))
        )
