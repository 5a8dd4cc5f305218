"""Cache-line-blocked Bloom filter: the giant-filter scale variant.

The flat `BloomFilter` (sketches/bloom.py) spreads a key's k bits uniformly
over the whole m-bit array — the reference's exact semantics
(/root/reference/bloomfilter.go:124-126).  At 10^12-document scale a
partition-private filter is multiple GiB, far past LLC, and every one of the
k probes is an independent DRAM miss: k ≈ 7 misses/key bounds the probe rate
near DRAM latency / 7.

`BlockedBloomFilter` trades a small, well-characterized FPP inflation for
one-miss-per-key: h1 picks ONE 512-bit (cache-line) block, and all k bits
land inside it (Putze, Sanders & Singler, "Cache-, Hash- and Space-Efficient
Bloom Filters", JEA 2009).  Membership and build touch exactly one line per
key, so giant-filter throughput is DRAM-latency-bound at 1 miss/key instead
of k.  The within-block step is forced odd, so a key's k positions are
DISTINCT bits of the block (a full cycle mod 512), which slightly offsets
the blocking inflation.

FPP: block loads are Poisson(n·512/m), and the per-block FPP
(X_b/512)^k is convex in the load, so the observed rate sits ~1.1–1.3×
above the flat filter's at the same (m, k) for 512-bit blocks — inside the
reference test-gate's ≤2× acceptance band (bloomfilter_test.go:338-370).
`estimated_fpp()` accounts for it exactly by averaging per-block loads
instead of using the global (X/m)^k.

Merge/serde/geometry contracts are identical to the flat filter (bitwise
OR, order-independent, SKB1 blob with its own kind tag so a blocked blob
can never silently merge into a flat one).
"""

from __future__ import annotations

import math

import numpy as np

from bloomfilter_spark.functions.hashing import DEFAULT_SEED
from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import (
    BITS_PER_BLOCK,
    BloomFilter,
    _POP8,
)

U64 = np.uint64

_BLOCK_MASK = U64(BITS_PER_BLOCK - 1)  # 511: in-block position mask
_BLOCK_SHIFT = U64(int(math.log2(BITS_PER_BLOCK)))  # 9


@serde.register(serde.KIND_BBLOOM)
class BlockedBloomFilter(BloomFilter):
    """Bloom filter with all k bits confined to one 512-bit block per key.

    Geometry, sizing, validation, staging scatter, union/intersection/clear,
    and blob framing are inherited from `BloomFilter`; only the position
    map, the probe loop, and the load estimators differ.
    """

    __slots__ = ()

    def __init__(self, m: int, k: int, seed=None, words=None, n_added: int = 0):
        # the position map divides the array into 512-bit blocks; a ragged
        # tail block would index past the word array (create() always
        # rounds m up, but the raw constructor and from_bytes reach here)
        if m < BITS_PER_BLOCK or m % BITS_PER_BLOCK != 0:
            raise ValueError(
                f"blocked bloom: m must be a positive multiple of "
                f"{BITS_PER_BLOCK}, got {m}"
            )
        kwargs = {} if seed is None else {"seed": seed}
        super().__init__(m, k, words=words, n_added=n_added, **kwargs)

    @property
    def n_blocks(self) -> int:
        return self.m // BITS_PER_BLOCK

    # -- position map ---------------------------------------------------------

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) GLOBAL bit positions, all inside one block per row.

        block = h1 mod n_blocks (the only 64-bit division — once per key,
        not once per lane); in-block lane i = (h2 + i·(h1|1)) & 511.  The
        odd step makes i ↦ position a full cycle mod 512, so the k lanes
        are k distinct bits.  uint64 wraparound applies to the lane sum,
        mirroring the flat filter's wrapped double-hashing.
        """
        i = np.arange(self.k, dtype=U64)
        with np.errstate(over="ignore"):
            base = (h1 % U64(self.n_blocks)) << _BLOCK_SHIFT
            step = h1 | U64(1)
            pos = i[None, :] * step[:, None]
            pos += h2[:, None]
            pos &= _BLOCK_MASK
            pos += base[:, None]
            return pos

    # -- query ----------------------------------------------------------------

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Lane-at-a-time probe with candidate compaction, one cache line
        per key: the block word base is computed once per batch (one
        division per key), later lanes re-touch the same line.  Bit
        semantics are identical to testing the full `_positions` matrix.
        """
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        from bloomfilter_spark.sketches.bloom import adaptive_probe

        words_u8 = self.words.view(np.uint8)  # folds staged bits once

        def lane_bits(i: int, bb: np.ndarray, b: np.ndarray, s: np.ndarray):
            # byte-granular bit test (same little-endian packing contract
            # as the flat filter): in-block bit p lives at bit (p & 7) of
            # block byte (p >> 3)
            p = b + U64(i) * s
            p &= _BLOCK_MASK
            g = words_u8[(bb + (p >> U64(3))).view(np.int64)]
            g >>= (p & U64(7)).astype(np.uint8)
            g &= np.uint8(1)
            return g

        with np.errstate(over="ignore"):
            byte_base = (h1 % U64(self.n_blocks)) << U64(6)  # block * 64 bytes
            step = h1 | U64(1)
            # the engine compacts (byte_base, h2, step) together, so every
            # surviving candidate keeps re-touching its one cache line
            return adaptive_probe(self.k, (byte_base, h2, step), lane_bits)

    # -- estimators -----------------------------------------------------------

    def _block_popcounts(self) -> np.ndarray:
        """int64[n_blocks] bits set per 512-bit block."""
        per_byte = _POP8[self.words.view(np.uint8)]
        return per_byte.reshape(self.n_blocks, BITS_PER_BLOCK // 8).sum(
            axis=1, dtype=np.int64
        )

    def estimated_fpp(self) -> float:
        """Mean over blocks of (X_b/512)^k — the blocked analog of the
        reference's (bitsSet/m)^k (bloomfilter.go:257-261): a probe lands
        in block b with probability 1/n_blocks and then sees b's local
        load, so the global FPP is the per-block average, NOT the global
        load raised to k (which understates the Poisson-imbalance
        inflation blocking introduces)."""
        loads = self._block_popcounts() / float(BITS_PER_BLOCK)
        return float(np.mean(loads**self.k))

    def estimated_cardinality(self) -> float:
        """Sum of per-block bitset estimators -(512/k)·ln(1 - X_b/512);
        any saturated block makes the estimate infinite (same contract as
        the flat filter at X = m)."""
        x = self._block_popcounts()
        if (x >= BITS_PER_BLOCK).any():
            return float("inf")
        loads = x / float(BITS_PER_BLOCK)
        return float(
            -(BITS_PER_BLOCK / self.k) * np.log1p(-loads).sum()
        )

    def stats(self) -> dict:
        st = super().stats()
        st["layout"] = "blocked"
        return st

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        params = self._PARAMS.pack(self.m, self.k)
        return serde.pack(
            serde.KIND_BBLOOM, self.seed, self.n_added, params, self.words.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BlockedBloomFilter":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_BBLOOM:
            raise ValueError(f"not a blocked-bloom blob (kind={kind})")
        m, k = cls._PARAMS.unpack(params)
        if len(payload) != m // 8:
            raise ValueError(
                f"blocked-bloom blob: payload is {len(payload)} bytes, expected "
                f"{m // 8} for m={m} (truncated or corrupt)"
            )
        words = np.frombuffer(payload, dtype=U64).copy()
        return cls(m=m, k=k, seed=seed, words=words, n_added=n_added)


def blocked_bloom_factory(n: int, p: float = 0.01, seed: int | None = None):
    """Factory for distributed builds (mirror of operators/build.bloom_factory,
    blocked layout); cloudpickle-shippable like every other sketch factory.
    Captures only (m, k, seed) — a prototype in the closure would pickle
    its full zero words array into every executor's task binary."""
    s = DEFAULT_SEED if seed is None else seed
    proto = BlockedBloomFilter.create(n, p, seed=s)
    m, k = proto.m, proto.k
    return lambda: BlockedBloomFilter(m, k, s)
