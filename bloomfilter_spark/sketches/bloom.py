"""Bloom filter: the center of the library.

Semantics mirror the reference exactly (shaia/BloomFilter):
  - sizing math  m = ⌊-n·ln(p)/ln²2⌋, k = ⌊m·ln2/n⌋ (k ≥ 1), m rounded up to
    512-bit blocks       — /root/reference/bloomfilter.go:62-81
  - validation messages  — /root/reference/bloomfilter.go:50-59,68-70
  - double hashing       pos_i = (h1 + i·h2) mod m, uint64 wraparound
                         — /root/reference/bloomfilter.go:124-126
  - union = bitwise OR, intersection = bitwise AND, geometry-checked
                         — /root/reference/bloomfilter.go:196-239
  - popcount / estimated FPP (bitsSet/m)^k / stats
                         — /root/reference/bloomfilter.go:242-284
  - invariants: zero false negatives; observed FPP ≤ ~2× configured
                         — /root/reference/bloomfilter_test.go:338-370

Differences by design (Spark-first, not a port):
  - state is an immutable-by-convention numpy uint64 array per partition,
    merged associatively — replaces the reference's shared-mutable CAS
    concurrency (/root/reference/bloomfilter.go:352-383)
  - all updates are batch-vectorized (the reference removed its batch API,
    CHANGELOG.md:22-24; Spark resurrects it as the only API)
  - hash family is murmur3 x64-128 (north rule) rather than the reference's
    FNV-1a/murmur pair; double-hashing expansion is identical
"""

from __future__ import annotations

import math
import struct

import numpy as np

from bloomfilter_spark.functions.hashing import DEFAULT_SEED, hash_any
from bloomfilter_spark.sketches import serde

U64 = np.uint64

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)

BITS_PER_BLOCK = 512  # mirror the reference's cache-line rounding

# filters up to this many bits use the byte-per-bit staging scatter (one
# byte per bloom bit → up to 64 MB of staging per filter, ~7 MB packed);
# larger filters scatter-OR directly to stay executor-memory-safe
_STAGE_MAX_BITS = 1 << 26


def fpp_from_occupancy(x: int, m: int, k: int) -> float:
    """(bitsSet/m)^k — shared by the plain, blocked, and counting layouts
    so the estimator formula has one source of truth."""
    return (x / float(m)) ** k


def cardinality_from_occupancy(x: int, m: int, k: int) -> float:
    """-m/k · ln(1 - X/m), the standard bitset cardinality estimator;
    inf when saturated."""
    if x >= m:
        return float("inf")
    return -m / k * math.log(1.0 - x / m)


def popcount_words(words: np.ndarray) -> int:
    """Population count of a uint64 array (numpy<2 lacks bitwise_count)."""
    return int(_POP8[words.view(np.uint8)].sum())


COMPACT_BELOW = 0.6  # compact the candidate set when under this fraction survive


def adaptive_probe(k: int, state: tuple, lane_fn) -> np.ndarray:
    """Shared lane-at-a-time membership engine (flat Bloom, blocked Bloom,
    CBF): evaluate lanes in order, killing candidates on their first zero
    lane.  `lane_fn(i, *state)` returns truthy-per-candidate for lane i;
    `state` is a tuple of equal-length per-candidate arrays (hashes, block
    bases, steps, ...) that compact together, so any position map plugs in.
    Result is bit-identical to AND-ing all k full-width lanes.

    Compaction is ADAPTIVE: the candidate set shrinks (flatnonzero +
    fancy-gather of every state array) only when under COMPACT_BELOW of
    the current width survives — absent-heavy batches compact after lane 0
    (~2 expected gathers per miss at design load), while present-heavy
    batches skip compaction entirely and pay k cheap full-width AND passes
    instead of k flatnonzero allocations that never shrink anything."""
    n = len(state[0])
    out = np.zeros(n, dtype=bool)
    if n == 0 or k <= 0:
        return out
    alive = None  # int64 indices into the original batch; None = everyone
    ok = None  # bool over the current candidate width; reset on compaction
    for i in range(k):
        gb = lane_fn(i, *state).astype(bool, copy=False)
        if ok is None:
            ok = gb
        else:
            ok &= gb
        if i == k - 1:
            break
        cnt = int(np.count_nonzero(ok))
        if cnt == 0:
            return out
        if cnt < COMPACT_BELOW * len(state[0]):
            local = np.flatnonzero(ok)
            alive = local if alive is None else alive[local]
            state = tuple(a[local] for a in state)
            ok = None
    # ok is always set here: the final lane assigns it before the break
    if alive is None:
        return ok
    out[alive] = ok
    return out


def lane_probe(h1: np.ndarray, h2: np.ndarray, k: int, m: int, lane_fn) -> np.ndarray:
    """Double-hashing front end of `adaptive_probe` (Bloom bit test, CBF
    counter test): lane i probes position (h1 + i*h2) mod m on the
    uint64-WRAPPED sum, matching the reference exactly
    (/root/reference/bloomfilter.go:124-126).  `lane_fn(pos)` returns
    truthy-per-position (bool or 0/1 ints); bit semantics are identical
    to evaluating the full (n, k) position matrix."""
    mm = U64(m)

    def lane(i: int, h1a: np.ndarray, h2a: np.ndarray) -> np.ndarray:
        if i == 0:
            pos = h1a % mm
        else:
            pos = h2a * U64(i)
            pos += h1a
            pos %= mm
        return lane_fn(pos)

    with np.errstate(over="ignore"):
        return adaptive_probe(k, (h1, h2), lane)


@serde.register(serde.KIND_BLOOM)
class BloomFilter:
    """Mergeable Bloom filter over a packed uint64 word array."""

    __slots__ = ("m", "k", "seed", "n_added", "_words", "_stage", "_scattered")

    _PARAMS = struct.Struct("<QI4x")  # m u64, k u32, pad

    def __init__(self, m: int, k: int, seed: int = DEFAULT_SEED, words=None, n_added: int = 0):
        self.m = int(m)
        self.k = int(k)
        self.seed = int(seed)
        self.n_added = int(n_added)
        if words is None:
            words = np.zeros(self.m // 64, dtype=U64)
        self._words = words
        self._stage = None
        self._scattered = 0  # positions scattered via the direct path

    @property
    def words(self) -> np.ndarray:
        """Canonical packed uint64 bit array (the north star's storage
        contract).  Folds any pending staged bits in first, so every read
        path — contains, union, popcount, serde, tests poking .words —
        always sees the complete filter."""
        st = self._stage
        if st is not None:
            np.bitwise_or(
                self._words,
                np.packbits(st, bitorder="little").view(U64),
                out=self._words,
            )
            self._stage = None
        return self._words

    # -- construction -------------------------------------------------------

    @classmethod
    def create(
        cls, expected_elements: int, false_positive_rate: float, seed: int = DEFAULT_SEED
    ) -> "BloomFilter":
        """Sizing + validation contract of NewCacheOptimizedBloomFilter
        (/root/reference/bloomfilter.go:50-81), with ValueError replacing
        panic."""
        if expected_elements == 0:
            raise ValueError("bloomfilter: expectedElements must be greater than 0")
        if expected_elements < 0:
            raise ValueError("bloomfilter: expectedElements must be greater than 0")
        # NaN fails neither comparison (as in Go), so it reaches its own check
        if false_positive_rate <= 0 or false_positive_rate >= 1.0:
            raise ValueError(
                "bloomfilter: falsePositiveRate must be in range (0, 1), "
                f"got {false_positive_rate:f}"
            )
        if math.isnan(false_positive_rate):
            raise ValueError("bloomfilter: falsePositiveRate cannot be NaN")

        ln2 = math.log(2)
        m = int(-float(expected_elements) * math.log(false_positive_rate) / (ln2 * ln2))
        k = int(float(m) * ln2 / float(expected_elements))
        if m == 0:
            raise ValueError(
                f"bloomfilter: falsePositiveRate too high ({false_positive_rate:f}) "
                f"for {expected_elements} elements, results in zero bits"
            )
        if k < 1:
            k = 1
        blocks = (m + BITS_PER_BLOCK - 1) // BITS_PER_BLOCK
        m = max(blocks, 1) * BITS_PER_BLOCK
        return cls(m=m, k=k, seed=seed)

    def empty_like(self) -> "BloomFilter":
        # type(self): subclasses (blocked layout) must clone as themselves
        return type(self)(self.m, self.k, self.seed)

    # -- update -------------------------------------------------------------

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) bit positions via double hashing — bloomfilter.go:124-126."""
        i = np.arange(self.k, dtype=U64)
        with np.errstate(over="ignore"):
            pos = i[None, :] * h2[:, None]
            pos += h1[:, None]
            pos %= U64(self.m)  # in-place: one (n,k) temp, not three
            return pos

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        # The vectorized replacement for per-bit CAS (bloomfilter.go:352-383).
        # (A 2n-division "reduce h1,h2 mod m first" rewrite is NOT
        # equivalent: positions are defined on the uint64-WRAPPED h1 + i*h2,
        # per the reference.)
        if len(h1) == 0:
            return
        pos = self._positions(h1, h2)
        # Adaptive path choice: staging costs ~2×m bytes of fixed traffic
        # (zero + packbits + OR) regardless of batch size, so a partition
        # that only ever scatters a few positions into a large filter (tiny
        # split, big n_expected) should NOT pay it.  Start on the direct
        # scatter; allocate the stage once cumulative scatter volume passes
        # m/32 positions (~where the 7ns/element saving repays the fixed
        # cost).  Both paths produce identical bits, so the switch point
        # never changes the result.
        use_stage = self.m <= _STAGE_MAX_BITS and (
            self._stage is not None
            or (self._scattered + pos.size) * 32 >= self.m
        )
        if use_stage:
            # Byte-per-bit staging: a blind scatter-store (stage[pos] = 1)
            # is duplicate-safe — every colliding writer stores the same
            # value — so it takes numpy's fast fancy-assignment path.
            # bitwise_or.at has no indexed inner loop in numpy 1.26 and
            # runs ~6× slower per element.  The staging buffer folds back
            # into the canonical words lazily on first read (words
            # property): little-endian packbits puts global bit g at bit
            # (g&63) of word (g>>6), so the final bit pattern is identical
            # to the direct scatter — merge-order- and batch-boundary-
            # independent either way.  (~9.6M-bit filter for 1M keys at 1%
            # → 9.6 MB staging; a partition-private build holds one.)
            if self._stage is None:
                self._stage = np.zeros(self.m, dtype=np.uint8)
            # pos < m < 2^63: reinterpreting as int64 is free, and int64
            # fancy indexing avoids numpy's slow uint64 path
            self._stage[pos.view(np.int64).ravel()] = 1
        else:
            # direct unbuffered scatter-OR (giant filters > 64 MB staging,
            # or not yet past the staging break-even): duplicate-safe
            # because ufunc.at applies every element
            masks = (U64(1) << (pos & U64(63))).ravel()
            word_idx = (pos >> U64(6)).view(np.int64).ravel()
            np.bitwise_or.at(self._words, word_idx, masks)
            self._scattered += pos.size
        self.n_added += len(h1)

    def update(self, values) -> None:
        """Vectorized Add/AddString/AddUint64 over a batch of int, string
        or bytes keys (anything `hashing.as_arrow` takes)."""
        h1, h2 = hash_any(values, self.seed)
        self.add_hashes(h1, h2)

    # -- query --------------------------------------------------------------

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Lane-at-a-time probe with candidate compaction.

        A miss needs only ONE zero lane, so lanes are evaluated in order
        and the candidate set compacted adaptively (see lane_probe): at
        design load (~50% bits set) a random absent key survives each
        lane with p≈0.5, so expected gathers are ~2 per miss instead of
        k — the probe path does no staging scatter, just gather + AND
        per lane.  Bit semantics are identical to the full (n, k)
        evaluation: lane i probes (h1 + i·h2) mod m on the uint64-wrapped
        sum."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        words = self.words  # folds any staged bits once, before the lanes
        # byte-granular bit test: global bit p lives at bit (p & 7) of byte
        # (p >> 3) under the little-endian packing the staging fold pins
        # (packbits little ≡ word (p>>6), in-word bit (p&63)); gathering one
        # byte instead of one u64 word cuts the per-lane intermediate
        # traffic 8× and measures ~1.4× faster on present-heavy batches
        words_u8 = words.view(np.uint8)

        def lane_bits(pos: np.ndarray) -> np.ndarray:
            g = words_u8[(pos >> U64(3)).view(np.int64)]
            g >>= (pos & U64(7)).astype(np.uint8)
            g &= np.uint8(1)
            return g

        return lane_probe(h1, h2, self.k, self.m, lane_bits)

    def contains(self, values) -> np.ndarray:
        """Vectorized Contains over a batch; True = probably present,
        False = definitely absent (zero false negatives)."""
        h1, h2 = hash_any(values, self.seed)
        return self.contains_hashes(h1, h2)

    # -- bulk ops ------------------------------------------------------------

    def _check_geometry(self, other: "BloomFilter", op: str) -> None:
        # mirror of the cacheLineCount check, bloomfilter.go:197-199/220-222;
        # layout (flat vs blocked subclass) is geometry too — same (m, k,
        # seed) filters with different position maps must never merge
        if (
            type(self) is not type(other)
            or self.m != other.m
            or self.k != other.k
            or self.seed != other.seed
        ):
            raise ValueError(f"bloom filters must have same size for {op}")

    def union(self, other: "BloomFilter") -> "BloomFilter":
        """In-place bitwise OR (the merge combiner). bloomfilter.go:196-216."""
        self._check_geometry(other, "union")
        np.bitwise_or(self.words, other.words, out=self.words)
        self.n_added += other.n_added
        return self

    def intersection(self, other: "BloomFilter") -> "BloomFilter":
        """In-place bitwise AND. Approximate: result is a superset of the true
        intersection (same caveat as the reference,
        bloomfilter_test.go:230-231). bloomfilter.go:219-239."""
        self._check_geometry(other, "intersection")
        np.bitwise_and(self.words, other.words, out=self.words)
        return self

    # merge() is the generic combiner name shared by all sketches
    merge = union

    def clear(self) -> None:
        """bloomfilter.go:183-193."""
        self._stage = None  # staged-but-unpacked bits are cleared too
        self._scattered = 0
        self._words.fill(0)
        self.n_added = 0

    def popcount(self) -> int:
        """bloomfilter.go:242-254."""
        return popcount_words(self.words)

    def estimated_fpp(self) -> float:
        """(bitsSet/m)^k — bloomfilter.go:257-261."""
        return fpp_from_occupancy(self.popcount(), self.m, self.k)

    def estimated_cardinality(self) -> float:
        """-m/k · ln(1 - X/m), the standard bitset cardinality estimator."""
        return cardinality_from_occupancy(self.popcount(), self.m, self.k)

    def stats(self) -> dict:
        """GetCacheStats analog — bloomfilter.go:264-284. SIMD capability
        fields become numpy backend provenance."""
        bits_set = self.popcount()
        return {
            "bit_count": self.m,
            "hash_count": self.k,
            "bits_set": bits_set,
            "load_factor": bits_set / float(self.m),
            "estimated_fpp": self.estimated_fpp(),
            "block_count": self.m // BITS_PER_BLOCK,
            "block_size": BITS_PER_BLOCK // 8,
            "memory_usage": self.words.nbytes,
            "n_added": self.n_added,
            "backend": f"numpy-{np.__version__}",
            "vectorized": True,
        }

    # -- serde ---------------------------------------------------------------

    def to_bytes(self) -> bytes:
        params = self._PARAMS.pack(self.m, self.k)
        return serde.pack(
            serde.KIND_BLOOM, self.seed, self.n_added, params, self.words.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_BLOOM:
            raise ValueError(f"not a bloom blob (kind={kind})")
        m, k = cls._PARAMS.unpack(params)
        if len(payload) != m // 8:
            raise ValueError(
                f"bloom blob: payload is {len(payload)} bytes, expected {m // 8} "
                f"for m={m} (truncated or corrupt)"
            )
        words = np.frombuffer(payload, dtype=U64).copy()
        return cls(m=m, k=k, seed=seed, words=words, n_added=n_added)

    def __eq__(self, other) -> bool:
        return (
            type(other) is type(self)  # a blocked and a flat filter differ
            and self.m == other.m
            and self.k == other.k
            and self.seed == other.seed
            and bool(np.array_equal(self.words, other.words))
        )
