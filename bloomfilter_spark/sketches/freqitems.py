"""Frequent-items (Misra-Gries) sketch — mergeable top-k without candidates.

Rounds out the frequency family: the CMS answers "how often did THIS key
occur" but needs a candidate set to surface heavy hitters; Misra-Gries
tracks at most `capacity` (key, count) counters and surfaces the heavy
hitters itself, in one scan, from 8·capacity-ish bytes of state.  Contract
pattern cloned from the reference's Bloom rows (SURVEY.md §2.3): sized
constructor with strict validation, geometry-checked associative-by-
canonical-tree merge, stats introspection, self-describing blob.

Guarantees (Misra-Gries 1982; merging per Agarwal, Cormode, Huang, Phillips,
Wei, Yi, "Mergeable Summaries", PODS 2012 §3):

  * underestimate-only:  estimate(k) ≤ true_count(k)
  * bounded deduction:   estimate(k) ≥ true_count(k) − (N − m̂)/(capacity+1)
    where N = total keys ingested and m̂ = Σ stored counts — the bound
    SURVIVES ARBITRARY MERGES, which is what makes this a UDAF-able sketch.
  * completeness: every key with true_count > (N − m̂)/(capacity+1) holds a
    counter (no false negatives among ε-heavy hitters, ε = 1/(capacity+1)).
  * exactness: if a dataset has ≤ capacity distinct keys, no prune ever
    fires and every stored count is exact — the property the full-value
    SQL oracle in queries.py exercises.

Prune rule (the deterministic Agarwal et al. form — no tie-break choices):
when more than `capacity` counters exist, subtract the (capacity+1)-th
largest count t from every counter and drop the non-positive ones; at most
`capacity` survive (only counts strictly greater than t do).

Determinism: a batch is folded as its exact value_counts, so a partial is a
pure function of the partition's row multiset and the (deterministic) Arrow
batch boundaries; `merge_all` sums ALL inputs' counters first and prunes
ONCE, so the n-ary combine is a pure function of the input multiset —
the build engine's canonical bounded-fan-in tree (operators/pipeline.py)
fixes the multisets, same as for KLL/t-digest.  Serialization orders counters
(count desc, key asc), so equal summaries are bit-identical blobs.
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np

from bloomfilter_spark.functions.hashing import as_arrow
from bloomfilter_spark.sketches import serde

KEY_UNSET = -1
KEY_INT = 0
KEY_STR = 1


@serde.register(serde.KIND_FREQ)
class FrequentItemsSketch:
    __slots__ = ("capacity", "key_type", "total", "n_added", "_counts")

    _PARAMS = struct.Struct("<IbIQ")  # capacity u32, key_type i8, n u32, total u64

    def __init__(self, capacity: int):
        if capacity < 1:
            raise ValueError(f"freqitems: capacity must be >= 1, got {capacity}")
        self.capacity = int(capacity)
        self.key_type = KEY_UNSET
        self.total = 0  # N: total keys ingested (exact python int)
        self.n_added = 0
        self._counts: Counter = Counter()

    def empty_like(self) -> "FrequentItemsSketch":
        return FrequentItemsSketch(self.capacity)

    @property
    def epsilon(self) -> float:
        return 1.0 / (self.capacity + 1)

    # -- update ---------------------------------------------------------------

    def _resolve_key_type(self, kt: int) -> None:
        if self.key_type == KEY_UNSET:
            self.key_type = kt
        elif self.key_type != kt:
            raise ValueError(
                f"freqitems: key type mismatch (have {self.key_type}, got {kt})"
            )

    def update(self, values) -> None:
        """Fold a batch of int or string keys (anything `as_arrow` takes);
        null keys are dropped."""
        self.update_arrow(as_arrow(values).drop_null())

    def update_arrow(self, arr) -> None:
        """The one Misra-Gries fold, over a null-free Arrow key array:
        value counts computed by pyarrow's C++ kernel, merged with the
        retained summary and PRUNED while still in Arrow — only the
        ≤ capacity survivors ever materialize as python objects.  (A
        per-batch `to_pylist` of every unique key was the profile scan's
        bottleneck on near-unique long-string columns: ~38 µs/row under
        32-way memory contention, vs ~2 µs/row for this path.)  Prunes with
        the same sum-then-prune-once rule as `merge_all`."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if len(arr) == 0:
            return
        vc = pc.value_counts(arr)
        values, counts = vc.field("values"), vc.field("counts")
        if pa.types.is_integer(values.type):
            self._resolve_key_type(KEY_INT)
            # safe cast raises on uint64 values >= 2^63, which to_bytes'
            # int64 key layout could not represent (fail at ingest, not
            # after the whole partition has been folded)
            values = pc.cast(values, pa.int64(), safe=True)
            key_type = pa.int64()
        elif pa.types.is_string(values.type) or pa.types.is_large_string(values.type):
            self._resolve_key_type(KEY_STR)
            key_type = values.type
        else:
            raise ValueError(f"freqitems: unsupported arrow key type {values.type}")

        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        cnp = counts.to_numpy(zero_copy_only=False).astype(np.int64)

        # merge the retained summary (≤ ~capacity entries) into the batch
        # counts: one index_in probe of the SMALL side against the batch's
        # unique values, then a numpy scatter-add — never a per-batch
        # group_by (measured ~4x the cost of value_counts itself)
        leftover_keys: list = []
        leftover_cnts = np.empty(0, dtype=np.int64)
        if self._counts:
            old_keys = list(self._counts.keys())
            old_cnts = np.fromiter(
                self._counts.values(), dtype=np.int64, count=len(old_keys)
            )
            pos = pc.index_in(
                pa.array(old_keys, type=key_type), value_set=values
            ).fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
            found = pos >= 0
            cnp[pos[found]] += old_cnts[found]
            if not found.all():
                miss = ~found
                leftover_keys = [k for k, m in zip(old_keys, miss) if m]
                leftover_cnts = old_cnts[miss]

        n_merged = len(cnp) + len(leftover_cnts)
        if n_merged > self.capacity:
            # Misra-Gries deduction: t = (capacity+1)-th largest merged
            # count; survivors keep c − t (same rule as _prune)
            all_counts = (
                np.concatenate([cnp, leftover_cnts]) if leftover_keys else cnp
            )
            t = int(
                np.partition(all_counts, -(self.capacity + 1))[
                    -(self.capacity + 1)
                ]
            )
            mask = cnp > t
            kept_keys = values.filter(pa.array(mask)).to_pylist()
            kept_counts = cnp[mask] - t
            lo_mask = leftover_cnts > t
            lo_keys = [k for k, m in zip(leftover_keys, lo_mask) if m]
            lo_cnts = leftover_cnts[lo_mask] - t
        else:
            kept_keys = values.to_pylist()
            kept_counts = cnp
            lo_keys, lo_cnts = leftover_keys, leftover_cnts
        if self.key_type == KEY_INT:
            kept_keys = [int(k) for k in kept_keys]
        merged = dict(zip(kept_keys, (int(c) for c in kept_counts)))
        merged.update(zip(lo_keys, (int(c) for c in lo_cnts)))
        self._counts = Counter(merged)
        self.total += len(arr)
        self.n_added += len(arr)

    def _prune(self) -> None:
        if len(self._counts) <= self.capacity:
            return
        vals = np.fromiter(self._counts.values(), dtype=np.int64)
        # t = (capacity+1)-th largest count; keep counts strictly > t
        t = int(np.partition(vals, -(self.capacity + 1))[-(self.capacity + 1)])
        self._counts = Counter(
            {k: c - t for k, c in self._counts.items() if c > t}
        )

    # -- query ----------------------------------------------------------------

    def estimate(self, key) -> int:
        """Stored count (0 if untracked). true − error_bound() ≤ est ≤ true."""
        if self.key_type == KEY_INT:
            key = int(key)
        elif self.key_type == KEY_STR:
            key = str(key)
        return int(self._counts.get(key, 0))

    def estimate_arrow(self, keys) -> np.ndarray:
        """`estimate` over a null-free Arrow key array: keys are cast to the
        sketch's key type, probed against the stored keys with one index_in
        and gathered from the stored counts (0 where untracked)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if not self._counts:
            return np.zeros(len(keys), dtype=np.int64)
        key_type = pa.int64() if self.key_type == KEY_INT else pa.string()
        stored = pa.array(list(self._counts), type=key_type)
        counts = np.append(
            np.fromiter(self._counts.values(), dtype=np.int64, count=len(stored)), 0
        )
        pos = pc.index_in(keys.cast(key_type), value_set=stored)
        return counts[pos.fill_null(len(stored)).to_numpy()]

    def error_bound(self) -> int:
        """Max per-key deduction after any build/merge history:
        (N − m̂)/(capacity+1), N = total keys, m̂ = Σ stored counts."""
        kept = sum(self._counts.values())
        return (self.total - kept) // (self.capacity + 1)

    def topk(self, k: int) -> list[tuple[object, int]]:
        """Top-k stored (key, estimate), count desc then key asc — the
        deterministic tie-break the SQL oracles replay."""
        items = sorted(self._counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(k_, int(c)) for k_, c in items[:k]]

    def guaranteed_heavy(self, threshold: int) -> list[tuple[object, int]]:
        """Keys whose TRUE count provably exceeds `threshold`: stored count
        is an underestimate, so est > threshold ⇒ true > threshold."""
        return [
            (k, int(c))
            for k, c in sorted(self._counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if c > threshold
        ]

    # -- merge ----------------------------------------------------------------

    def _check_geometry(self, other: "FrequentItemsSketch") -> None:
        if self.capacity != other.capacity:
            raise ValueError("freqitems sketches must have same capacity for merge")
        if (
            self.key_type != KEY_UNSET
            and other.key_type != KEY_UNSET
            and self.key_type != other.key_type
        ):
            raise ValueError("freqitems sketches must have same key type for merge")

    def merge(self, other: "FrequentItemsSketch") -> "FrequentItemsSketch":
        return self.merge_all([other])

    def merge_all(self, others) -> "FrequentItemsSketch":
        """n-ary combine: sum ALL counters, prune ONCE — a pure function of
        the input multiset (and tighter than iterated pairwise pruning)."""
        for o in others:
            self._check_geometry(o)
            if o.key_type != KEY_UNSET:
                self._resolve_key_type(o.key_type)
            self._counts.update(o._counts)
            self.total += o.total
            self.n_added += o.n_added
        self._prune()
        return self

    def clear(self) -> None:
        self._counts.clear()
        self.key_type = KEY_UNSET
        self.total = 0
        self.n_added = 0

    def stats(self) -> dict:
        return {
            "capacity": self.capacity,
            "epsilon": self.epsilon,
            "n_counters": len(self._counts),
            "total_weight": self.total,
            "error_bound": self.error_bound(),
            "n_added": self.n_added,
            "key_type": self.key_type,
        }

    # -- serde ----------------------------------------------------------------

    def to_bytes(self) -> bytes:
        items = sorted(self._counts.items(), key=lambda kv: (-kv[1], kv[0]))
        counts = np.asarray([c for _, c in items], dtype=np.int64)
        params = self._PARAMS.pack(
            self.capacity, self.key_type, len(items), self.total
        )
        if self.key_type == KEY_STR:
            encoded = [str(k).encode("utf-8") for k, _ in items]
            lens = np.asarray([len(b) for b in encoded], dtype=np.int32)
            payload = counts.tobytes() + lens.tobytes() + b"".join(encoded)
        else:  # KEY_INT or empty/unset
            keys = np.asarray([k for k, _ in items], dtype=np.int64)
            payload = counts.tobytes() + keys.tobytes()
        return serde.pack(serde.KIND_FREQ, 0, self.n_added, params, payload)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentItemsSketch":
        kind, _seed, n_added, params, payload = serde.unpack(blob)
        if kind != serde.KIND_FREQ:
            raise ValueError(f"not a freqitems blob (kind={kind})")
        capacity, key_type, n, total = cls._PARAMS.unpack(params)
        sk = cls(capacity)
        sk.key_type = key_type
        sk.total = int(total)
        sk.n_added = int(n_added)
        # exactly 8n count bytes, then 8n int keys or 4n lengths + the keys
        if key_type == KEY_STR and len(payload) >= 12 * n:
            lens = np.frombuffer(payload[8 * n : 12 * n], dtype=np.int32)
            ok = (lens >= 0).all() and (
                len(payload) == 12 * n + int(lens.sum(dtype=np.int64))
            )
        else:
            ok = key_type != KEY_STR and len(payload) == 16 * n
        if not ok:
            raise ValueError(
                f"freqitems blob: {len(payload)} payload bytes do not match "
                f"the {n} counters it declares (truncated or corrupt)"
            )
        counts = np.frombuffer(payload[: 8 * n], dtype=np.int64)
        if key_type == KEY_STR:
            raw = bytes(payload[12 * n :])
            keys = []
            pos = 0
            for ln in lens:
                keys.append(raw[pos : pos + ln].decode("utf-8"))
                pos += int(ln)
        else:
            keys = [int(k) for k in np.frombuffer(payload[8 * n : 16 * n], dtype=np.int64)]
        sk._counts = Counter(dict(zip(keys, (int(c) for c in counts))))
        return sk

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, FrequentItemsSketch)
            and self.capacity == other.capacity
            and self.key_type == other.key_type
            and self.total == other.total
            and self._counts == other._counts
        )
