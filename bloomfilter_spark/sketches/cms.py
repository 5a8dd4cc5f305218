"""Count-min sketch — mergeable frequency sketch (north-rule companion).

Contract pattern cloned from the reference's Bloom rows (SURVEY.md §2.3):
accuracy-target constructor (ε, δ → width w = ⌈e/ε⌉, depth d = ⌈ln(1/δ)⌉,
Cormode & Muthukrishnan 2005), strict validation, geometry-checked
associative merge (elementwise +), stats introspection.

Guarantees: estimate ≥ true count (overestimate-only) and
estimate ≤ true + εN with probability ≥ 1−δ, where N = total weight added.

Row hashing reuses the Kirsch–Mitzenmacher double-hashing expansion the
reference uses for bit positions (/root/reference/bloomfilter.go:124-126):
row j probes column (h1 + j·h2) mod w.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from bloomfilter_spark.functions.hashing import DEFAULT_SEED, hash_any
from bloomfilter_spark.sketches import serde

U64 = np.uint64


@serde.register(serde.KIND_CMS)
class CountMinSketch:
    __slots__ = ("depth", "width", "seed", "n_added", "total", "counts")

    _PARAMS = struct.Struct("<IIQ")  # depth u32, width u32, total u64

    def __init__(
        self,
        depth: int,
        width: int,
        seed: int = DEFAULT_SEED,
        counts=None,
        n_added: int = 0,
        total: int = 0,
    ):
        if depth < 1:
            raise ValueError(f"countmin: depth must be >= 1, got {depth}")
        if width < 1:
            raise ValueError(f"countmin: width must be >= 1, got {width}")
        self.depth = int(depth)
        self.width = int(width)
        self.seed = int(seed)
        self.n_added = int(n_added)
        self.total = int(total)
        if counts is None:
            counts = np.zeros((self.depth, self.width), dtype=np.int64)
        self.counts = counts

    @classmethod
    def create(
        cls, epsilon: float = 0.001, delta: float = 0.01, seed: int = DEFAULT_SEED
    ) -> "CountMinSketch":
        # NaN fails the chained comparison already (0 < nan < 1 is False),
        # so a single range check covers it — no separate isnan clause
        if not (0 < epsilon < 1):
            raise ValueError(f"countmin: epsilon must be in range (0, 1), got {epsilon:f}")
        if not (0 < delta < 1):
            raise ValueError(f"countmin: delta must be in range (0, 1), got {delta:f}")
        width = math.ceil(math.e / epsilon)
        depth = max(1, math.ceil(math.log(1.0 / delta)))
        return cls(depth=depth, width=width, seed=seed)

    def empty_like(self) -> "CountMinSketch":
        return CountMinSketch(self.depth, self.width, self.seed)

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    # -- update ---------------------------------------------------------------

    def _columns(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, depth) column indices via double hashing."""
        j = np.arange(self.depth, dtype=U64)
        with np.errstate(over="ignore"):
            return (h1[:, None] + j[None, :] * h2[:, None]) % U64(self.width)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray, weights=None) -> None:
        n = len(h1)
        if n == 0:
            return
        cols = self._columns(h1, h2).astype(np.int64)
        row_off = np.arange(self.depth, dtype=np.int64) * self.width
        flat_idx = (cols + row_off[None, :]).ravel()
        if weights is None:
            add = np.bincount(flat_idx, minlength=self.depth * self.width)
            w_total = n
        else:
            w = np.asarray(weights)
            if w.dtype.kind == "f" and not (np.isfinite(w) & (w == np.trunc(w))).all():
                # silent truncation would change the counted mass (0.4 -> 0)
                raise TypeError(
                    "countmin: non-integer weights — scale to integer mass "
                    "upstream (counters are int64)"
                )
            w = w.astype(np.int64)
            if w.size and int(w.min()) < 0:
                # negative mass breaks the overestimate-only guarantee
                # (query >= true count) and drives `total` negative, which
                # only surfaces later as a struct.error packing u64 —
                # refuse at the input
                raise ValueError(
                    f"countmin: negative weight {int(w.min())} — counts "
                    "are add-only (use CountingBloomFilter for deletes)"
                )
            add = np.bincount(
                flat_idx, weights=np.repeat(w, self.depth), minlength=self.depth * self.width
            ).astype(np.int64)
            w_total = int(w.sum())
        self.counts += add.reshape(self.depth, self.width).astype(np.int64)
        self.n_added += n
        self.total += w_total

    def update(self, values, weights=None) -> None:
        h1, h2 = hash_any(values, self.seed)
        self.add_hashes(h1, h2, weights)

    # -- query ----------------------------------------------------------------

    def query_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._columns(h1, h2).astype(np.int64)
        rows = np.arange(self.depth, dtype=np.int64)
        vals = self.counts[rows[None, :], cols]  # (n, depth)
        return vals.min(axis=1)

    def query(self, values) -> np.ndarray:
        """Estimated counts (overestimate-only) for a batch of keys."""
        h1, h2 = hash_any(values, self.seed)
        return self.query_hashes(h1, h2)

    def error_bound(self) -> float:
        """εN: additive overestimate bound holding w.p. ≥ 1−δ."""
        return self.epsilon * self.total

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size estimate Σ_k fA(k)·fB(k) (Cormode & Muthukrishnan §4.2):
        min over rows of the rowwise count-vector dot products.

        Overestimate-only, ≤ true + ε·totalA·totalB w.p. ≥ 1−δ.  This is
        the sketch a planner consults for equi-join cardinality without
        touching either table: build one CMS per join column (one scan
        each, mergeable across partitions), then dot them.

        Accumulated in exact Python ints: an int64 einsum would wrap at
        hot-key frequencies ≥ ~2^31.5 per side (row dot ≥ 2^63) — exactly
        the petabyte-join regime this estimator exists for.  The arrays
        are depth × width (a few hundred KB) and this runs at planner
        rate, so the object-dtype pass is irrelevant to throughput."""
        self._check_geometry(other)
        dots = [
            int((self.counts[r].astype(object) * other.counts[r].astype(object)).sum())
            for r in range(self.depth)
        ]
        return min(dots)

    def inner_product_bound(self, other: "CountMinSketch") -> float:
        return self.epsilon * self.total * other.total

    # -- merge ----------------------------------------------------------------

    def _check_geometry(self, other: "CountMinSketch") -> None:
        if self.depth != other.depth or self.width != other.width or self.seed != other.seed:
            raise ValueError("countmin sketches must have same dimensions and seed for merge")

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check_geometry(other)
        self.counts += other.counts
        self.n_added += other.n_added
        self.total += other.total
        return self

    def clear(self) -> None:
        self.counts.fill(0)
        self.n_added = 0
        self.total = 0

    def stats(self) -> dict:
        return {
            "depth": self.depth,
            "width": self.width,
            "epsilon": self.epsilon,
            "delta": self.delta,
            "total_weight": self.total,
            "error_bound": self.error_bound(),
            "memory_usage": self.counts.nbytes,
            "n_added": self.n_added,
        }

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        params = self._PARAMS.pack(self.depth, self.width, self.total)
        return serde.pack(
            serde.KIND_CMS, self.seed, self.n_added, params, self.counts.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_CMS:
            raise ValueError(f"not a countmin blob (kind={kind})")
        depth, width, total = cls._PARAMS.unpack(params)
        counts = np.frombuffer(payload, dtype=np.int64).copy().reshape(depth, width)
        return cls(
            depth=depth, width=width, seed=seed, counts=counts, n_added=n_added, total=total
        )

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountMinSketch)
            and self.depth == other.depth
            and self.width == other.width
            and self.seed == other.seed
            and self.total == other.total
            and bool(np.array_equal(self.counts, other.counts))
        )
