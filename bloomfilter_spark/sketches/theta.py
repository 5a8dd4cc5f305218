"""Theta (KMV) sketch — mergeable distinct-count sketch WITH set algebra.

Completes the distinct-counting story the HLL opened: HLL unions losslessly
but can only intersect by inclusion-exclusion, whose error is unbounded
relative to a small intersection.  The theta sketch (Dasgupta, Lang, Rhodes,
Thaler, "Theta-Sketch Framework", 2016; k-minimum-values of Bar-Yossef et
al. 2002) supports union / intersection / difference directly, each result
itself a sketch.  Contract pattern cloned from the reference's Bloom rows
(SURVEY.md §2.3): sized constructor, strict validation, geometry-checked
merge, stats introspection, self-describing blob.

State: the set of retained 64-bit key hashes below a threshold θ, capped at
k entries.  θ starts at 2^64 (retain everything — the sketch is EXACT while
distinct keys ≤ k, the property the full-value SQL oracle exercises); once
k overflows, θ drops to the (k+1)-th smallest hash and the estimate is
|retained| / (θ/2^64), with relative standard error ≤ 1/√(k−1).

The state is a pure function of the SET of distinct key hashes, so merge is
commutative, associative, and idempotent — bit-identical under ANY merge
topology, like Bloom's OR and HLL's max (any shape of the build engine's
merge tree gives the same bits).  Set operations follow the standard theta
semantics: θ_result = min(θ_a, θ_b), retained = the set-op applied to the
operands' retained sets below θ_result.  Intersection/difference estimates
are unbiased with variance growing as the overlap shrinks (Dasgupta et al.
§4) — still bounded relative to the SURVIVING set, which is what
inclusion-exclusion on HLLs cannot offer.

Hashing rides the same murmur3 x64-128 h1 lane as Bloom/HLL (`add_hashes`
ignores h2), so a multi-sketch scan shares one hash pass per column.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from bloomfilter_spark.functions.hashing import DEFAULT_SEED, hash_any
from bloomfilter_spark.sketches import serde

U64_SPAN = 1 << 64  # θ of an exact (never-overflowed) sketch


@serde.register(serde.KIND_THETA)
class ThetaSketch:
    __slots__ = ("k", "seed", "n_added", "theta", "vals")

    _PARAMS = struct.Struct("<IIQ")  # k u32, n_retained u32, theta-1 u64

    def __init__(
        self,
        k: int = 16384,
        seed: int = DEFAULT_SEED,
        theta: int = U64_SPAN,
        vals: np.ndarray | None = None,
        n_added: int = 0,
    ):
        if not isinstance(k, int) or k < 16 or k > (1 << 26):
            raise ValueError(f"theta: k must be an integer in [16, 2^26], got {k}")
        if not (0 < theta <= U64_SPAN):
            raise ValueError(f"theta: threshold out of range: {theta}")
        self.k = k
        self.seed = int(seed)
        self.theta = int(theta)
        self.n_added = int(n_added)
        self.vals = (
            np.empty(0, dtype=np.uint64) if vals is None else vals
        )

    def empty_like(self) -> "ThetaSketch":
        return ThetaSketch(self.k, seed=self.seed)

    @property
    def relative_error(self) -> float:
        """RSE of the union/estimate path once estimating: 1/√(k−1)."""
        return 1.0 / math.sqrt(self.k - 1)

    @property
    def is_exact(self) -> bool:
        """True while no overflow ever occurred: estimate() is the exact
        distinct count (modulo 64-bit hash collisions)."""
        return self.theta == U64_SPAN

    # -- update ---------------------------------------------------------------

    def _absorb(self, h: np.ndarray) -> None:
        if self.theta < U64_SPAN:
            h = h[h < np.uint64(self.theta)]
        if len(h) == 0:
            return
        cand = np.union1d(self.vals, h)  # sorted unique
        if len(cand) > self.k:
            self.theta = int(cand[self.k])
            cand = cand[: self.k]
        self.vals = cand

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray | None = None) -> None:
        n = len(h1)
        if n == 0:
            return
        self._absorb(np.asarray(h1, dtype=np.uint64))
        self.n_added += n

    def update(self, values) -> None:
        h1, _h2 = hash_any(values, self.seed)
        self.add_hashes(h1)

    # -- query ----------------------------------------------------------------

    def estimate(self) -> float:
        if self.theta == U64_SPAN:
            return float(len(self.vals))
        return len(self.vals) * (float(U64_SPAN) / float(self.theta))

    def error_bound(self, std_devs: float = 2.0) -> float:
        """± band around estimate(): std_devs · RSE · estimate (0 if exact)."""
        if self.is_exact:
            return 0.0
        return std_devs * self.relative_error * self.estimate()

    # -- merge / set algebra ---------------------------------------------------

    def _check_geometry(self, other: "ThetaSketch") -> None:
        if self.k != other.k or self.seed != other.seed:
            raise ValueError("theta sketches must have same k and seed for merge")

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        """Union, in place — commutative/associative/idempotent."""
        self._check_geometry(other)
        self.theta = min(self.theta, other.theta)
        t = np.uint64(self.theta) if self.theta < U64_SPAN else None
        mine = self.vals if t is None else self.vals[self.vals < t]
        theirs = other.vals if t is None else other.vals[other.vals < t]
        cand = np.union1d(mine, theirs)
        if len(cand) > self.k:
            self.theta = int(cand[self.k])
            cand = cand[: self.k]
        self.vals = cand
        self.n_added += other.n_added
        return self

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        return self.copy().merge(other)

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """Result sketch of A ∩ B: θ = min(θa, θb), retained =
        intersection of both retained sets below θ."""
        self._check_geometry(other)
        theta = min(self.theta, other.theta)
        t = np.uint64(theta) if theta < U64_SPAN else None
        a = self.vals if t is None else self.vals[self.vals < t]
        b = other.vals if t is None else other.vals[other.vals < t]
        vals = np.intersect1d(a, b)
        return ThetaSketch(
            self.k, seed=self.seed, theta=theta, vals=vals,
            n_added=self.n_added + other.n_added,
        )

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """Result sketch of A \\ B: retained = A's values below θ that do
        not appear in B's retained set."""
        self._check_geometry(other)
        theta = min(self.theta, other.theta)
        t = np.uint64(theta) if theta < U64_SPAN else None
        a = self.vals if t is None else self.vals[self.vals < t]
        vals = np.setdiff1d(a, other.vals)
        return ThetaSketch(
            self.k, seed=self.seed, theta=theta, vals=vals,
            n_added=self.n_added,
        )

    def jaccard(self, other: "ThetaSketch") -> float:
        """|A∩B| / |A∪B| from the two result sketches."""
        u = self.union(other).estimate()
        return self.intersect(other).estimate() / u if u > 0 else 0.0

    def copy(self) -> "ThetaSketch":
        return ThetaSketch(
            self.k, seed=self.seed, theta=self.theta,
            vals=self.vals.copy(), n_added=self.n_added,
        )

    def clear(self) -> None:
        self.theta = U64_SPAN
        self.vals = np.empty(0, dtype=np.uint64)
        self.n_added = 0

    def stats(self) -> dict:
        return {
            "k": self.k,
            "n_retained": len(self.vals),
            "theta_frac": self.theta / U64_SPAN,
            "is_exact": self.is_exact,
            "estimate": self.estimate(),
            "relative_error": self.relative_error,
            "memory_usage": self.vals.nbytes,
            "n_added": self.n_added,
        }

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        # vals are sorted unique — already canonical; θ−1 fits u64.
        # Explicit little-endian payload (like KLL '<f8' / HLL '<u4') so
        # blobs are portable across host byte orders.
        params = self._PARAMS.pack(self.k, len(self.vals), self.theta - 1)
        return serde.pack(
            serde.KIND_THETA, self.seed, self.n_added, params,
            self.vals.astype("<u8", copy=False).tobytes(),
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ThetaSketch":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_THETA:
            raise ValueError(f"not a theta blob (kind={kind})")
        k, n, theta_m1 = cls._PARAMS.unpack(params)
        flat = np.frombuffer(payload, dtype="<u8")
        if len(flat) < n:
            raise ValueError(
                f"theta blob truncated: {len(flat)} values, header says {n}"
            )
        vals = flat[:n].astype(np.uint64)
        return cls(k, seed=seed, theta=theta_m1 + 1, vals=vals, n_added=n_added)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, ThetaSketch)
            and self.k == other.k
            and self.seed == other.seed
            and self.theta == other.theta
            and bool(np.array_equal(self.vals, other.vals))
        )
