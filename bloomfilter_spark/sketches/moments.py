"""Exact streaming column statistics as mergeable mini-sketches.

Two tiny "sketches" that ride the one-scan multi-sketch pipeline
(operators/pipeline.py) so a table profile — nulls, min/max, mean/std,
string lengths — costs zero extra scans on top of the approximate
sketches (HLL distinct, KLL quantiles, Misra-Gries top-k) it travels with.

Unlike the probabilistic sketches these are EXACT: count / min / max /
sum / sum-of-squares (numeric) and count / length stats / lexicographic
min-max (string, binary) are all commutative monoid folds, so the merged
result is a pure function of the value multiset under any merge topology.
The one caveat is float64 arithmetic: the running (mean, M2) pair is
order-sensitive in the last bits, but both the per-partition fold (numpy
pairwise summation inside each batch) and the bounded-fan-in merge tree
(canonical partition_id order) are deterministic, so repeated builds over
the same partitioning are bit-identical — the same determinism contract
as KLL/t-digest compaction (sketches/kll.py).

Contract pattern cloned from the reference's Bloom rows (SURVEY.md §2.1,
/root/reference/bloomfilter.go Stats/Union semantics): strict validation,
geometry-checked merge, stats introspection, self-describing SKB1 blob.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from bloomfilter_spark.sketches import serde

# string-stats length semantics (resolved on first update, like the
# freqitems key_type): utf8 mode counts CHARACTERS (matches SQL length()
# in Spark and DuckDB), binary mode counts BYTES
MODE_UNSET = 0
MODE_UTF8 = 1
MODE_BINARY = 2


@serde.register(serde.KIND_MOMENTS)
class MomentsSketch:
    """Exact numeric column stats: n / min / max / mean / M2  (+ a
    non-finite counter so NaN/Inf rows are reported, not silently folded
    into the moments).

    The second moment is kept as centered M2 = Σ(x−mean)² with Chan's
    parallel-merge update — NOT raw sum-of-squares: for large-offset data
    (epoch timestamps ~1.7e9 with std ~1e4) the naive E[x²]−mean² formula
    cancels catastrophically in float64 and reports std 0.0; the centered
    form keeps full precision at any offset (same math Spark's own
    stddev_pop and NumPy use)."""

    __slots__ = ("n", "n_nonfinite", "minv", "maxv", "mean_", "m2", "n_added")

    _PAYLOAD = struct.Struct("<QQdddd")
    # payload layout tag in the params: 2 = (mean, M2)
    _LAYOUT = b"\x02"

    def __init__(self) -> None:
        self.n = 0  # finite values folded
        self.n_nonfinite = 0  # NaN/±Inf values seen (excluded from moments)
        self.minv = math.inf
        self.maxv = -math.inf
        self.mean_ = 0.0
        self.m2 = 0.0  # Σ(x − mean)² over the folded values
        self.n_added = 0

    def empty_like(self) -> "MomentsSketch":
        return MomentsSketch()

    def _fold(self, nb: int, mb: float, m2b: float) -> None:
        """Chan's pairwise combine of (n, mean, M2) groups."""
        if nb == 0:
            return
        n_new = self.n + nb
        delta = mb - self.mean_
        self.mean_ += delta * nb / n_new
        self.m2 += m2b + delta * delta * self.n * nb / n_new
        self.n = n_new

    # -- update ---------------------------------------------------------------

    def update(self, values) -> None:
        """Fold a batch of float64 values (nulls already dropped upstream —
        the pipeline's drop_null, or build.py's dropna)."""
        v = np.asarray(values, dtype="float64")
        if v.size == 0:
            return
        finite = np.isfinite(v)
        self.n_added += int(v.size)
        if not finite.all():
            self.n_nonfinite += int(v.size - finite.sum())
            v = v[finite]
            if v.size == 0:
                return
        self.minv = min(self.minv, float(v.min()))
        self.maxv = max(self.maxv, float(v.max()))
        mb = float(v.mean())
        self._fold(int(v.size), mb, float(np.square(v - mb).sum()))

    # -- query ----------------------------------------------------------------

    def mean(self) -> float | None:
        return self.mean_ if self.n else None

    def variance(self) -> float | None:
        """Population variance (the SQL var_pop / stddev_pop flavor)."""
        if not self.n:
            return None
        return max(0.0, self.m2 / self.n)

    def std(self) -> float | None:
        v = self.variance()
        return math.sqrt(v) if v is not None else None

    def min(self) -> float | None:
        return self.minv if self.n else None

    def max(self) -> float | None:
        return self.maxv if self.n else None

    def stats(self) -> dict:
        return {
            "n": self.n,
            "n_nonfinite": self.n_nonfinite,
            "min": self.min(),
            "max": self.max(),
            "mean": self.mean(),
            "std": self.std(),
            "n_added": self.n_added,
        }

    # -- merge ----------------------------------------------------------------

    def merge(self, other: "MomentsSketch") -> "MomentsSketch":
        if not isinstance(other, MomentsSketch):
            raise ValueError("moments: can only merge another MomentsSketch")
        self.n_nonfinite += other.n_nonfinite
        self.minv = min(self.minv, other.minv)
        self.maxv = max(self.maxv, other.maxv)
        self._fold(other.n, other.mean_, other.m2)
        self.n_added += other.n_added
        return self

    def clear(self) -> None:
        self.__init__()

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        payload = self._PAYLOAD.pack(
            self.n, self.n_nonfinite, self.minv, self.maxv, self.mean_, self.m2
        )
        return serde.pack(
            serde.KIND_MOMENTS, 0, self.n_added, self._LAYOUT, payload
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MomentsSketch":
        kind, _seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_MOMENTS:
            raise ValueError(f"not a moments blob (kind={kind})")
        if params != cls._LAYOUT:
            # layout 1 (empty params) stored (sum, sum2) in the same two
            # slots: reading it as (mean, M2) would give wrong stats
            raise ValueError(
                f"moments blob: unsupported layout {params.hex() or 'empty'}; "
                "only layout 2 (mean, M2) is readable — blobs of the old "
                "(sum, sum-of-squares) layout 1 must be rebuilt"
            )
        payload = bytes(payload)
        if len(payload) != cls._PAYLOAD.size:
            raise ValueError(
                f"moments blob truncated: {len(payload)} payload bytes, "
                f"need {cls._PAYLOAD.size}"
            )
        sk = cls()
        (sk.n, sk.n_nonfinite, sk.minv, sk.maxv, sk.mean_, sk.m2) = (
            cls._PAYLOAD.unpack(payload)
        )
        sk.n_added = n_added
        return sk

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MomentsSketch)
            and self.to_bytes() == other.to_bytes()
        )


@serde.register(serde.KIND_STRSTATS)
class StringStatsSketch:
    """Exact string/binary column stats: count, empty count, length
    sum/min/max, lexicographic (byte-order) min/max value.

    Byte-order min/max matches the default binary collation of Spark,
    DuckDB, and parquet column statistics, so the merged result is
    value-comparable against a plain SQL MIN()/MAX().  Lengths are
    CHARACTERS for utf8 mode (SQL length()) and BYTES for binary mode;
    the mode is resolved on first update and geometry-checked on merge.
    """

    __slots__ = (
        "mode", "n", "n_empty", "len_sum", "len_min", "len_max",
        "min_val", "max_val", "n_added",
    )

    _PARAMS = struct.Struct("<BQQQQQ")  # mode, n_empty, len_sum, len_min, len_max, min_len_bytes

    def __init__(self) -> None:
        self.mode = MODE_UNSET
        self.n = 0
        self.n_empty = 0
        self.len_sum = 0
        self.len_min = 0
        self.len_max = 0
        self.min_val: bytes | None = None  # utf8-encoded for MODE_UTF8
        self.max_val: bytes | None = None
        self.n_added = 0

    def empty_like(self) -> "StringStatsSketch":
        return StringStatsSketch()

    def _resolve_mode(self, mode: int) -> None:
        if self.mode == MODE_UNSET:
            self.mode = mode
        elif self.mode != mode:
            raise ValueError(
                f"strstats: mode mismatch (have {self.mode}, got {mode} — "
                "utf8 and binary stats cannot merge)"
            )

    # -- update ---------------------------------------------------------------

    def update_arrow(self, arr) -> None:
        """Fold an Arrow string/binary array (nulls already dropped)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if arr.null_count:
            arr = arr.drop_null()
        if len(arr) == 0:
            return
        t = arr.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            self._resolve_mode(MODE_UTF8)
            lengths = pc.utf8_length(arr)
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            self._resolve_mode(MODE_BINARY)
            lengths = pc.binary_length(arr)
        else:
            raise ValueError(f"strstats: unsupported arrow type {t}")
        ln = lengths.to_numpy(zero_copy_only=False).astype("int64")
        first = self.n == 0
        self.n += int(len(arr))
        self.n_added += int(len(arr))
        self.n_empty += int((ln == 0).sum())
        if first:
            self.len_min = int(ln.min())
            self.len_max = int(ln.max())
        else:
            self.len_min = min(self.len_min, int(ln.min()))
            self.len_max = max(self.len_max, int(ln.max()))
        self.len_sum += int(ln.sum())
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        lo_b = lo.encode("utf-8") if isinstance(lo, str) else bytes(lo)
        hi_b = hi.encode("utf-8") if isinstance(hi, str) else bytes(hi)
        self.min_val = lo_b if self.min_val is None else min(self.min_val, lo_b)
        self.max_val = hi_b if self.max_val is None else max(self.max_val, hi_b)

    # -- query ----------------------------------------------------------------

    def avg_len(self) -> float | None:
        return self.len_sum / self.n if self.n else None

    def min_value(self):
        if self.min_val is None:
            return None
        return (
            self.min_val.decode("utf-8") if self.mode == MODE_UTF8 else self.min_val
        )

    def max_value(self):
        if self.max_val is None:
            return None
        return (
            self.max_val.decode("utf-8") if self.mode == MODE_UTF8 else self.max_val
        )

    def stats(self) -> dict:
        return {
            "mode": self.mode,
            "n": self.n,
            "n_empty": self.n_empty,
            "len_min": self.len_min if self.n else None,
            "len_max": self.len_max if self.n else None,
            "avg_len": self.avg_len(),
            "min": self.min_value(),
            "max": self.max_value(),
            "n_added": self.n_added,
        }

    # -- merge ----------------------------------------------------------------

    def merge(self, other: "StringStatsSketch") -> "StringStatsSketch":
        if not isinstance(other, StringStatsSketch):
            raise ValueError("strstats: can only merge another StringStatsSketch")
        if other.mode != MODE_UNSET:
            self._resolve_mode(other.mode)
        if other.n:
            if self.n:
                self.len_min = min(self.len_min, other.len_min)
                self.len_max = max(self.len_max, other.len_max)
            else:
                self.len_min, self.len_max = other.len_min, other.len_max
            self.n += other.n
            self.n_empty += other.n_empty
            self.len_sum += other.len_sum
            for attr in ("min_val", "max_val"):
                mine, theirs = getattr(self, attr), getattr(other, attr)
                if mine is None:
                    setattr(self, attr, theirs)
                elif theirs is not None:
                    pick = min if attr == "min_val" else max
                    setattr(self, attr, pick(mine, theirs))
        self.n_added += other.n_added
        return self

    def clear(self) -> None:
        self.__init__()

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        min_b = self.min_val if self.min_val is not None else b""
        max_b = self.max_val if self.max_val is not None else b""
        params = self._PARAMS.pack(
            self.mode, self.n_empty, self.len_sum, self.len_min, self.len_max,
            len(min_b),
        )
        payload = struct.pack("<Q", self.n) + min_b + max_b
        return serde.pack(serde.KIND_STRSTATS, 0, self.n_added, params, payload)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "StringStatsSketch":
        kind, _seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_STRSTATS:
            raise ValueError(f"not a strstats blob (kind={kind})")
        mode, n_empty, len_sum, len_min, len_max, min_len = cls._PARAMS.unpack(
            params
        )
        payload = bytes(payload)
        sk = cls()
        sk.mode = mode
        sk.n_empty = n_empty
        sk.len_sum = len_sum
        sk.len_min = len_min
        sk.len_max = len_max
        (sk.n,) = struct.unpack("<Q", payload[:8])
        rest = payload[8:]
        if sk.n:
            sk.min_val = rest[:min_len]
            sk.max_val = rest[min_len:]
        sk.n_added = n_added
        return sk

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, StringStatsSketch)
            and self.to_bytes() == other.to_bytes()
        )
