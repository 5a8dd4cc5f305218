"""DDSketch — relative-error quantile sketch (Masson, Rim & Lee, VLDB'19).

Third quantile companion next to KLL and t-digest (SURVEY.md §2.3 contract
pattern: accuracy-driven constructor, strict validation, geometry-checked
merge, stats introspection, published error bound).  What DDSketch adds to
the pair:

- the guarantee is RELATIVE value error (|est − v| ≤ α·v at every rank),
  not rank error — the right bound for long-tailed web metrics (latencies,
  page sizes) where p99.9 of a heavy tail is exactly where rank-error
  sketches are loosest;
- the store is a log-scale histogram, so ranks are EXACT (only values are
  quantized) and the merge is a bucket-wise counter sum — commutative,
  associative, and bit-identical for any merge tree, so a distributed
  build equals a local one at any partition count, as for HLL/CMS;
- every estimate is a closed-form function of (α, bucket index), so a SQL
  engine can replay the whole sketch exactly — the catalog query
  `dds_quantiles_value` carries a full value oracle, which neither KLL nor
  t-digest can offer (their compaction schedules aren't SQL-expressible).

Bucket mapping (paper §2.1): γ = (1+α)/(1−α); a value v > 0 lands in bucket
i = ⌈log_γ v⌉ and is estimated as 2γ^i/(γ+1), the midpoint of
(γ^(i−1), γ^i] in relative-error terms.  Negatives mirror into a second
store keyed by ⌈log_γ(−v)⌉; zeros get a dedicated counter.  This is the
unbounded-store variant: the bucket count is bounded by the log of the
value RANGE (≈ 710/ln γ per sign for the whole float64 range — ~35k buckets
at α = 0.01), not by N, and unlike the paper's collapsing variant the
sketch stays a pure function of the input multiset (the merge-associativity
requirement of BASELINE.json).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from bloomfilter_spark.sketches import serde


def _empty_store() -> tuple[np.ndarray, np.ndarray]:
    return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)


def _accumulate(
    idx: np.ndarray, cnt: np.ndarray, new_idx: np.ndarray, new_cnt: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Union-merge two sorted (index, count) stores."""
    if new_idx.size == 0:
        return idx, cnt
    if idx.size == 0:
        return new_idx, new_cnt
    all_idx = np.concatenate([idx, new_idx])
    all_cnt = np.concatenate([cnt, new_cnt])
    u, inv = np.unique(all_idx, return_inverse=True)
    out = np.zeros(u.size, dtype=np.int64)
    np.add.at(out, inv, all_cnt)
    return u, out


@serde.register(serde.KIND_DDS)
class DDSketch:
    __slots__ = (
        "alpha",
        "seed",
        "gamma",
        "_ln_gamma",
        "zero_count",
        "n_added",
        "pos_idx",
        "pos_cnt",
        "neg_idx",
        "neg_cnt",
    )

    def __init__(self, alpha: float = 0.01, seed: int = 0):
        if not isinstance(alpha, (int, float)) or not (0.0 < alpha < 1.0):
            raise ValueError(
                f"ddsketch: alpha must be a float in (0, 1), got {alpha!r}"
            )
        self.alpha = float(alpha)
        self.seed = int(seed)  # unused (no hashing); header parity with the family
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._ln_gamma = math.log(self.gamma)
        self.zero_count = 0
        self.n_added = 0
        self.pos_idx, self.pos_cnt = _empty_store()
        self.neg_idx, self.neg_cnt = _empty_store()

    @classmethod
    def create(cls, alpha: float = 0.01, seed: int = 0) -> "DDSketch":
        return cls(alpha=alpha, seed=seed)

    def empty_like(self) -> "DDSketch":
        return DDSketch(self.alpha, self.seed)

    # -- update ---------------------------------------------------------------

    def _indices(self, magnitudes: np.ndarray) -> np.ndarray:
        """⌈log_γ v⌉ for v > 0 — the paper's bucket mapping."""
        return np.ceil(np.log(magnitudes) / self._ln_gamma).astype(np.int64)

    def update(self, values) -> None:
        v = np.asarray(values, dtype=np.float64).ravel()
        # non-finite values are not representable in a log-bucket store:
        # NaN matches the family's skip contract (KLL), and ±inf would turn
        # into an undefined int64 bucket via ceil(log(inf)) — skip both
        v = v[np.isfinite(v)]
        if v.size == 0:
            return
        pos = v[v > 0.0]
        neg = v[v < 0.0]
        self.zero_count += int(v.size - pos.size - neg.size)
        if pos.size:
            u, c = np.unique(self._indices(pos), return_counts=True)
            self.pos_idx, self.pos_cnt = _accumulate(
                self.pos_idx, self.pos_cnt, u, c.astype(np.int64)
            )
        if neg.size:
            u, c = np.unique(self._indices(-neg), return_counts=True)
            self.neg_idx, self.neg_cnt = _accumulate(
                self.neg_idx, self.neg_cnt, u, c.astype(np.int64)
            )
        self.n_added += int(v.size)

    # -- query ----------------------------------------------------------------

    def _estimate(self, idx: np.ndarray) -> np.ndarray:
        return 2.0 * np.power(self.gamma, idx.astype(np.float64)) / (self.gamma + 1.0)

    def _ordered_buckets(self) -> tuple[np.ndarray, np.ndarray]:
        """(estimates ascending, weights) across neg | zero | pos stores."""
        vals: list[np.ndarray] = []
        wts: list[np.ndarray] = []
        if self.neg_idx.size:
            # most negative value = largest magnitude index → descending order
            vals.append(-self._estimate(self.neg_idx[::-1]))
            wts.append(self.neg_cnt[::-1])
        if self.zero_count:
            vals.append(np.zeros(1))
            wts.append(np.array([self.zero_count], dtype=np.int64))
        if self.pos_idx.size:
            vals.append(self._estimate(self.pos_idx))
            wts.append(self.pos_cnt)
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        return np.concatenate(vals), np.concatenate(wts)

    def quantile(self, q) -> np.ndarray | float:
        """Estimate of the value at rank ⌈q·N⌉ (lower-bound rule: the bucket
        whose cumulative count first reaches max(1, q·N) — ranks are exact,
        the returned value is within α relative error of the true item)."""
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if np.any((qs < 0) | (qs > 1)):
            raise ValueError("ddsketch: quantile q must be in [0, 1]")
        v, w = self._ordered_buckets()
        if v.size == 0:
            out = np.full(qs.shape, np.nan)
            return float(out[0]) if scalar else out
        cw = np.cumsum(w)
        total = cw[-1]
        targets = np.clip(qs * total, 1, total)
        idx = np.searchsorted(cw, targets, side="left")
        out = v[np.minimum(idx, v.size - 1)]
        return float(out[0]) if scalar else out

    def rank(self, x) -> np.ndarray | float:
        """Exact fraction of inserted items whose BUCKET lies at or below
        x's bucket (exact up to the α-wide bucket containing x)."""
        scalar = np.isscalar(x)
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        v, w = self._ordered_buckets()
        if v.size == 0:
            out = np.full(xs.shape, np.nan)
            return float(out[0]) if scalar else out
        cw = np.concatenate([[0], np.cumsum(w)])
        # nudge one ulp AWAY from zero so rank(quantile(q)) round-trips
        # count the bucket itself despite float noise (sign-aware: a
        # negative estimate must nudge more positive, not more negative)
        nudged = np.where(xs >= 0, xs * (1.0 + 2e-16), xs * (1.0 - 2e-16))
        idx = np.searchsorted(v, nudged, side="right")
        out = cw[idx] / cw[-1]
        return float(out[0]) if scalar else out

    def relative_error(self) -> float:
        """Published guarantee: |quantile(q) − true value| ≤ α·(true value)."""
        return self.alpha

    # -- merge ----------------------------------------------------------------

    def _check_geometry(self, other: "DDSketch") -> None:
        if not isinstance(other, DDSketch):
            raise ValueError("ddsketch: can only merge with another DDSketch")
        if self.alpha != other.alpha or self.seed != other.seed:
            raise ValueError(
                "ddsketch sketches must have same alpha and seed for merge"
            )

    def merge(self, other: "DDSketch") -> "DDSketch":
        return self.merge_all([other])

    def merge_all(self, others: list["DDSketch"]) -> "DDSketch":
        """Bucket-wise counter sum — commutative and associative, so any
        merge tree yields the identical sketch."""
        for o in others:
            self._check_geometry(o)
            self.pos_idx, self.pos_cnt = _accumulate(
                self.pos_idx, self.pos_cnt, o.pos_idx, o.pos_cnt
            )
            self.neg_idx, self.neg_cnt = _accumulate(
                self.neg_idx, self.neg_cnt, o.neg_idx, o.neg_cnt
            )
            self.zero_count += o.zero_count
            self.n_added += o.n_added
        return self

    def clear(self) -> None:
        self.zero_count = 0
        self.n_added = 0
        self.pos_idx, self.pos_cnt = _empty_store()
        self.neg_idx, self.neg_cnt = _empty_store()

    def stats(self) -> dict:
        return {
            "alpha": self.alpha,
            "gamma": self.gamma,
            "buckets_pos": int(self.pos_idx.size),
            "buckets_neg": int(self.neg_idx.size),
            "zero_count": int(self.zero_count),
            "relative_error": self.alpha,
            "memory_usage": int(
                self.pos_idx.nbytes
                + self.pos_cnt.nbytes
                + self.neg_idx.nbytes
                + self.neg_cnt.nbytes
            ),
            "n_added": self.n_added,
        }

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        params = struct.pack(
            "<dqqq", self.alpha, self.zero_count, self.pos_idx.size, self.neg_idx.size
        )
        payload = b"".join(
            np.ascontiguousarray(a, dtype="<i8").tobytes()
            for a in (self.pos_idx, self.pos_cnt, self.neg_idx, self.neg_cnt)
        )
        return serde.pack(serde.KIND_DDS, self.seed, self.n_added, params, payload)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "DDSketch":
        kind, seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_DDS:
            raise ValueError(f"not a ddsketch blob (kind={kind})")
        alpha, zero_count, n_pos, n_neg = struct.unpack_from("<dqqq", params, 0)
        flat = np.frombuffer(payload, dtype="<i8")
        if flat.size != 2 * (n_pos + n_neg):
            raise ValueError("ddsketch blob: truncated payload")
        sk = cls(alpha=alpha, seed=seed)
        off = 0
        sk.pos_idx = flat[off : off + n_pos].astype(np.int64); off += n_pos
        sk.pos_cnt = flat[off : off + n_pos].astype(np.int64); off += n_pos
        sk.neg_idx = flat[off : off + n_neg].astype(np.int64); off += n_neg
        sk.neg_cnt = flat[off : off + n_neg].astype(np.int64)
        sk.zero_count = int(zero_count)
        sk.n_added = int(n_added)
        return sk

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, DDSketch)
            and self.alpha == other.alpha
            and self.zero_count == other.zero_count
            and np.array_equal(self.pos_idx, other.pos_idx)
            and np.array_equal(self.pos_cnt, other.pos_cnt)
            and np.array_equal(self.neg_idx, other.neg_idx)
            and np.array_equal(self.neg_cnt, other.neg_cnt)
        )
