"""Companion sketch tests: HLL, count-min, KLL, t-digest.

Each clones the reference Bloom test contract (SURVEY.md §2.3): validation,
merge geometry checks, error bounds vs exact oracles, merge determinism,
blob round-trips."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pytest

from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLLSketch
from bloomfilter_spark.sketches.tdigest import TDigest
from bloomfilter_spark.sketches import serde


def assert_rank_close(sorted_data: np.ndarray, est: float, q: float, tol: float, msg=""):
    """True rank of a value with ties is an interval [lo, hi]; assert q is
    within tol of that interval."""
    n = len(sorted_data)
    lo = np.searchsorted(sorted_data, est, side="left") / n
    hi = np.searchsorted(sorted_data, est, side="right") / n
    assert lo - tol <= q <= hi + tol, f"{msg} q={q} rank∈[{lo},{hi}]"


# =============================== HyperLogLog ===================================


class TestHLL:
    def test_validation(self):
        with pytest.raises(ValueError, match="precision p must be"):
            HyperLogLog(p=3)
        with pytest.raises(ValueError, match="precision p must be"):
            HyperLogLog(p=19)
        with pytest.raises(ValueError, match="relativeError must be in range"):
            HyperLogLog.create(0.0)
        with pytest.raises(ValueError, match="relativeError must be in range"):
            HyperLogLog.create(float("nan"))

    def test_create_from_error_target(self):
        h = HyperLogLog.create(0.01)
        assert h.relative_error <= 0.012  # clamped to p<=18

    @pytest.mark.parametrize("n", [100, 1000, 50000])
    def test_estimate_within_bound(self, n):
        h = HyperLogLog(p=14)
        h.update([f"item-{i}" for i in range(n)])
        est = h.estimate()
        rse = 1.04 / math.sqrt(h.m)
        # 4 sigma margin on the published ±1.04/√m standard error
        assert abs(est - n) / n <= 4 * rse, f"n={n} est={est}"

    def test_duplicates_dont_inflate(self):
        h = HyperLogLog(p=14)
        for _ in range(5):
            h.update([f"dup-{i}" for i in range(1000)])
        est = h.estimate()
        assert abs(est - 1000) / 1000 <= 4 * (1.04 / math.sqrt(h.m))

    def test_int_and_string_inputs(self):
        h = HyperLogLog(p=12)
        h.update(np.arange(1000, dtype=np.int64))
        est = h.estimate()
        assert abs(est - 1000) / 1000 < 0.1

    def test_merge_equals_union_build(self):
        a = HyperLogLog(p=12)
        b = HyperLogLog(p=12)
        both = HyperLogLog(p=12)
        ka = [f"a{i}" for i in range(2000)]
        kb = [f"b{i}" for i in range(2000)]
        a.update(ka)
        b.update(kb)
        both.update(ka)
        both.update(kb)
        a.merge(b)
        assert np.array_equal(a.registers, both.registers)

    def test_merge_order_independent(self):
        parts = []
        for p_i in range(4):
            h = HyperLogLog(p=12)
            h.update([f"p{p_i}-{i}" for i in range(500)])
            parts.append(h)
        results = []
        for perm in itertools.permutations(range(4)):
            acc = parts[perm[0]].empty_like()
            for j in perm:
                acc.merge(parts[j])
            results.append(acc.registers.copy())
        for r in results[1:]:
            assert np.array_equal(results[0], r)

    def test_merge_geometry_check(self):
        with pytest.raises(ValueError, match="same precision and seed"):
            HyperLogLog(p=12).merge(HyperLogLog(p=14))

    def test_blob_roundtrip(self):
        h = HyperLogLog(p=10)
        h.update([f"x{i}" for i in range(100)])
        assert HyperLogLog.from_bytes(h.to_bytes()) == h
        assert serde.deserialize(h.to_bytes()).estimate() == h.estimate()

    def test_blob_sparse_encoding(self):
        """Blob self-sizes: a lightly-loaded sketch serializes as sparse
        (idx, rank) pairs far below the dense m bytes; a saturated one
        stays dense.  Both reconstruct the identical register state, and
        a sparse-roundtripped sketch merges normally with a dense one."""
        small = HyperLogLog(p=14)
        small.update(["a", "b", "c"])
        blob = small.to_bytes()
        assert len(blob) < 100  # vs 16 KB dense registers
        back = HyperLogLog.from_bytes(blob)
        assert back == small and back.n_added == small.n_added

        big = HyperLogLog(p=10)
        big.update([f"k{i}" for i in range(20000)])
        assert len(big.to_bytes()) >= (1 << 10)  # dense: payload = m bytes
        assert HyperLogLog.from_bytes(big.to_bytes()) == big

        merged = HyperLogLog.from_bytes(small.to_bytes())
        other = HyperLogLog(p=14)
        other.update(["c", "d"])
        merged.merge(other)
        want = HyperLogLog(p=14)
        want.update(["a", "b", "c", "c", "d"])
        assert np.array_equal(merged.registers, want.registers)

    def test_blob_legacy_dense_format_parses(self):
        """Pre-sparse blobs packed the params as '<I4x' (p + zero pad);
        the pad reads back as encoding 0 = dense, so they stay loadable."""
        import struct

        h = HyperLogLog(p=8)
        h.update(["x", "y", "z"])
        legacy = serde.pack(
            serde.KIND_HLL,
            h.seed,
            h.n_added,
            struct.pack("<I4x", h.p),
            h.registers.tobytes(),
        )
        assert HyperLogLog.from_bytes(legacy) == h

    def test_blob_corrupt_sparse_rejected(self):
        h = HyperLogLog(p=14)
        h.update(["a", "b"])
        blob = h.to_bytes()
        with pytest.raises(ValueError, match="truncated or corrupt"):
            HyperLogLog.from_bytes(blob[:-2])  # rips a (idx, rank) entry
        # out-of-range sparse index: hand-build a bad payload
        import struct

        bad = serde.pack(
            serde.KIND_HLL,
            h.seed,
            1,
            h._PARAMS.pack(14, 1),
            np.array([1 << 20], dtype="<u4").tobytes() + b"\x05",
        )
        with pytest.raises(ValueError, match="out of range"):
            HyperLogLog.from_bytes(bad)

    def test_small_range_linear_counting(self):
        h = HyperLogLog(p=14)
        h.update([f"s{i}" for i in range(10)])
        assert abs(h.estimate() - 10) < 1.5


# =============================== Count-min =====================================


class TestCMS:
    def test_validation(self):
        with pytest.raises(ValueError, match="epsilon must be in range"):
            CountMinSketch.create(epsilon=0.0)
        with pytest.raises(ValueError, match="delta must be in range"):
            CountMinSketch.create(delta=1.5)
        with pytest.raises(ValueError, match="depth must be"):
            CountMinSketch(depth=0, width=100)

    def test_sizing(self):
        c = CountMinSketch.create(epsilon=0.001, delta=0.01)
        assert c.width == math.ceil(math.e / 0.001)
        assert c.depth == math.ceil(math.log(100))
        assert c.epsilon <= 0.001
        assert c.delta <= 0.01

    def test_overestimate_only_and_bounded(self):
        rng = np.random.RandomState(42)
        # zipf-ish: key j appears ~ 5000/(j+1) times
        keys = []
        true = {}
        for j in range(200):
            cnt = max(1, 5000 // (j + 1))
            true[f"key{j}"] = cnt
            keys += [f"key{j}"] * cnt
        rng.shuffle(keys)
        c = CountMinSketch.create(epsilon=0.001, delta=0.001)
        c.update(keys)
        assert c.total == len(keys)
        ks = list(true)
        est = c.query(ks)
        for i, k in enumerate(ks):
            assert est[i] >= true[k], "count-min must never underestimate"
            assert est[i] <= true[k] + c.error_bound() + 1

    def test_weighted_updates(self):
        c = CountMinSketch.create(0.01, 0.01)
        c.update(["a", "b"], weights=[10, 5])
        est = c.query(["a", "b"])
        assert est[0] >= 10 and est[1] >= 5
        assert c.total == 15

    def test_merge_equals_combined_build(self):
        a = CountMinSketch.create(0.01, 0.01)
        b = CountMinSketch.create(0.01, 0.01)
        both = CountMinSketch.create(0.01, 0.01)
        a.update(["x"] * 10 + ["y"] * 3)
        b.update(["x"] * 5 + ["z"] * 7)
        both.update(["x"] * 15 + ["y"] * 3 + ["z"] * 7)
        a.merge(b)
        assert np.array_equal(a.counts, both.counts)
        assert a.total == both.total

    def test_merge_order_independent(self):
        parts = []
        for p_i in range(4):
            c = CountMinSketch.create(0.01, 0.01)
            c.update([f"k{p_i}-{i}" for i in range(100)])
            parts.append(c)
        base = None
        for perm in itertools.permutations(range(4)):
            acc = parts[perm[0]].empty_like()
            for j in perm:
                acc.merge(parts[j])
            if base is None:
                base = acc.counts.copy()
            assert np.array_equal(base, acc.counts)

    def test_merge_geometry_check(self):
        with pytest.raises(ValueError, match="same dimensions and seed"):
            CountMinSketch(depth=3, width=100).merge(CountMinSketch(depth=3, width=200))

    def test_blob_roundtrip(self):
        c = CountMinSketch.create(0.01, 0.01)
        c.update(["a", "b", "a"])
        back = CountMinSketch.from_bytes(c.to_bytes())
        assert back == c
        assert back.total == 3


# ================================== KLL ========================================


class TestKLL:
    def test_validation(self):
        with pytest.raises(ValueError, match="k must be"):
            KLLSketch(k=4)
        with pytest.raises(ValueError, match="quantile q must be"):
            KLLSketch().quantile(1.5)

    @pytest.mark.parametrize("dist", ["uniform", "lognormal", "constant"])
    def test_rank_error_within_bound(self, dist):
        rng = np.random.RandomState(7)
        n = 50000
        if dist == "uniform":
            data = rng.uniform(0, 1000, n)
        elif dist == "lognormal":
            data = rng.lognormal(6.5, 1.0, n)
        else:
            data = np.full(n, 42.0)
        sk = KLLSketch(k=200)
        # feed in chunks like arrow batches
        for chunk in np.array_split(data, 13):
            sk.update(chunk)
        assert sk.n_added == n
        sorted_data = np.sort(data)
        for q in [0.01, 0.25, 0.5, 0.75, 0.99]:
            est = sk.quantile(q)
            assert_rank_close(sorted_data, est, q, 0.03, dist)

    def test_rank_query(self):
        sk = KLLSketch(k=200)
        data = np.arange(10000, dtype=np.float64)
        sk.update(data)
        assert abs(sk.rank(5000.0) - 0.5) < 0.03

    def test_merge_matches_single_build_quality(self):
        rng = np.random.RandomState(3)
        data = rng.uniform(0, 1, 40000)
        parts = []
        for chunk in np.array_split(data, 8):
            sk = KLLSketch(k=200)
            sk.update(chunk)
            parts.append(sk)
        merged = parts[0].empty_like()
        merged.merge_all(parts)
        assert merged.n_added == 40000
        sorted_data = np.sort(data)
        for q in [0.1, 0.5, 0.9]:
            assert_rank_close(sorted_data, merged.quantile(q), q, 0.04)

    def test_nary_merge_multiset_deterministic(self):
        rng = np.random.RandomState(5)
        parts = []
        for i in range(6):
            sk = KLLSketch(k=128)
            sk.update(rng.uniform(0, 1, 1000))
            parts.append(sk)
        res = []
        for perm in [list(range(6)), [5, 3, 1, 0, 2, 4], [2, 4, 0, 5, 1, 3]]:
            acc = parts[0].empty_like()
            acc.merge_all([parts[j] for j in perm])
            res.append(acc)
        assert res[0] == res[1] == res[2]

    def test_merge_geometry_check(self):
        with pytest.raises(ValueError, match="same k and seed"):
            KLLSketch(k=128).merge(KLLSketch(k=200))

    def test_blob_roundtrip(self):
        sk = KLLSketch(k=64)
        sk.update(np.random.RandomState(1).uniform(0, 1, 5000))
        back = KLLSketch.from_bytes(sk.to_bytes())
        assert back == sk
        assert back.n_added == sk.n_added

    def test_nan_skipped(self):
        sk = KLLSketch()
        sk.update([1.0, float("nan"), 3.0])
        assert sk.n_added == 2


# ================================ t-digest =====================================


class TestTDigest:
    def test_validation(self):
        with pytest.raises(ValueError, match="delta must be"):
            TDigest(delta=5)
        with pytest.raises(ValueError, match="quantile q must be"):
            TDigest().quantile(-0.1)

    @pytest.mark.parametrize("dist", ["uniform", "lognormal"])
    def test_rank_error_within_bound(self, dist):
        rng = np.random.RandomState(11)
        n = 50000
        data = (
            rng.uniform(0, 1000, n) if dist == "uniform" else rng.lognormal(6.5, 1.0, n)
        )
        td = TDigest(delta=200)
        for chunk in np.array_split(data, 17):
            td.update(chunk)
        sorted_data = np.sort(data)
        for q in [0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999]:
            est = td.quantile(q)
            # t-digest: tight at tails, O(1/delta) mid-range
            tol = 0.005 if min(q, 1 - q) < 0.05 else 0.02
            assert_rank_close(sorted_data, est, q, tol, dist)

    def test_extremes_exact(self):
        td = TDigest(delta=100)
        data = np.arange(1000, dtype=np.float64)
        td.update(data)
        assert td.quantile(0.0) == 0.0
        assert td.quantile(1.0) == 999.0

    def test_centroid_count_bounded(self):
        td = TDigest(delta=200)
        td.update(np.random.RandomState(2).uniform(0, 1, 100000))
        assert td.means.size <= 200

    def test_nary_merge_multiset_deterministic(self):
        rng = np.random.RandomState(9)
        parts = []
        for i in range(6):
            td = TDigest(delta=100)
            td.update(rng.lognormal(5, 1, 2000))
            parts.append(td)
        res = []
        for perm in [list(range(6)), [4, 2, 0, 5, 3, 1], [1, 5, 3, 0, 4, 2]]:
            acc = parts[0].empty_like()
            acc.merge_all([parts[j] for j in perm])
            res.append(acc)
        assert res[0] == res[1] == res[2]

    def test_merged_quality(self):
        rng = np.random.RandomState(13)
        data = rng.uniform(0, 1, 40000)
        parts = []
        for chunk in np.array_split(data, 16):
            td = TDigest(delta=200)
            td.update(chunk)
            parts.append(td)
        acc = parts[0].empty_like()
        acc.merge_all(parts)
        sorted_data = np.sort(data)
        for q in [0.01, 0.5, 0.99]:
            tol = 0.01 if min(q, 1 - q) < 0.05 else 0.02
            assert_rank_close(sorted_data, acc.quantile(q), q, tol)

    def test_merge_geometry_check(self):
        with pytest.raises(ValueError, match="same delta and seed"):
            TDigest(delta=100).merge(TDigest(delta=200))

    def test_blob_roundtrip(self):
        td = TDigest(delta=100)
        td.update(np.random.RandomState(4).uniform(-5, 5, 3000))
        back = TDigest.from_bytes(td.to_bytes())
        assert back == td
        assert back.vmin == td.vmin and back.vmax == td.vmax

    def test_weighted(self):
        td = TDigest(delta=100)
        td.update([1.0, 2.0, 3.0], weights=[1.0, 1.0, 98.0])
        # median falls inside the weight-98 centroid at 3.0; interpolation
        # across centroid midpoints may land epsilon below it
        assert 2.9 <= td.quantile(0.5) <= 3.0
        assert td.quantile(0.9) == 3.0


class TestCMSInnerProduct:
    def test_exact_on_wide_sketch(self):
        """With width >> distinct keys, no collisions: inner product is
        exactly Σ fA(k)·fB(k)."""
        import pandas as pd

        a = CountMinSketch.create(epsilon=0.0001, delta=0.001)
        b = a.empty_like()
        keys_a = pd.Series(["x"] * 3 + ["y"] * 2 + ["z"])
        keys_b = pd.Series(["x"] * 5 + ["z"] * 4 + ["w"])
        a.update(keys_a)
        b.update(keys_b)
        # Σ = 3*5 (x) + 0 (y·0) + 1*4 (z) + 0 (w) = 19
        assert a.inner_product(b) == 19

    def test_overestimate_and_bound(self):
        import pandas as pd

        rng = np.random.RandomState(7)
        ka = pd.Series(rng.randint(0, 500, 20_000).astype(str))
        kb = pd.Series(rng.randint(0, 500, 15_000).astype(str))
        a = CountMinSketch.create(epsilon=0.001, delta=0.001)
        b = a.empty_like()
        a.update(ka)
        b.update(kb)
        fa = ka.value_counts()
        fb = kb.value_counts()
        true = int(sum(fa[k] * fb[k] for k in fa.index.intersection(fb.index)))
        est = a.inner_product(b)
        assert est >= true
        assert est <= true + a.inner_product_bound(b)

    def test_geometry_check(self):
        a = CountMinSketch.create(epsilon=0.001, delta=0.001)
        b = CountMinSketch.create(epsilon=0.01, delta=0.001)
        with pytest.raises(ValueError, match="same dimensions"):
            a.inner_product(b)


class TestFrequentItems:
    """Misra-Gries frequent-items sketch: underestimate-only, merged
    deduction bound (Agarwal et al. PODS 2012 §3), ε-heavy completeness,
    exactness below capacity, canonical serde."""

    def _zipf(self, seed=7, n=200_000):
        import pandas as pd

        rng = np.random.default_rng(seed)
        d = rng.zipf(1.3, n)
        return pd.Series(d[d < 100_000])

    def test_exact_below_capacity(self):
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        s = self._zipf()
        sk = FrequentItemsSketch(200_000)
        sk.update(s)
        vc = s.value_counts()
        assert sk.error_bound() == 0
        assert all(sk.estimate(k) == c for k, c in vc.items())
        # topk replays (count desc, key asc)
        top = sk.topk(10)
        want = sorted(((int(k), int(c)) for k, c in vc.items()), key=lambda t: (-t[1], t[0]))[:10]
        assert top == want

    def test_merged_bound_and_completeness(self):
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        s = self._zipf()
        parts = np.array_split(s, 16)
        partials = []
        for p in parts:
            x = FrequentItemsSketch(64)
            x.update(p)
            partials.append(x)
        m = FrequentItemsSketch(64)
        m.merge_all(partials)
        vc = s.value_counts()
        err = m.error_bound()
        assert err <= m.total // 65  # ≤ εN, ε = 1/(capacity+1)
        for k, c in vc.items():
            est = m.estimate(k)
            assert est <= c  # underestimate-only
            assert est >= c - err  # deduction bound survives the merge
        # completeness: every ε-heavy key holds a counter
        assert all(m.estimate(k) > 0 for k, c in vc.items() if c > err)
        # guaranteed_heavy has no false positives by construction
        for k, est in m.guaranteed_heavy(1000):
            assert vc[k] > 1000

    def test_merge_all_is_multiset_deterministic(self):
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        s = self._zipf(seed=11)
        parts = np.array_split(s, 8)
        partials = []
        for p in parts:
            x = FrequentItemsSketch(32)
            x.update(p)
            partials.append(x)
        a = FrequentItemsSketch(32)
        a.merge_all(partials)
        b = FrequentItemsSketch(32)
        b.merge_all(list(reversed(partials)))
        assert a == b
        assert a.to_bytes() == b.to_bytes()  # canonical serialization

    def test_serde_roundtrip_both_key_types(self):
        import pandas as pd
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        ints = FrequentItemsSketch(8)
        ints.update(pd.Series([1, 1, 2, 3, 3, 3]))
        s2 = serde.deserialize(ints.to_bytes())
        assert s2 == ints and s2.to_bytes() == ints.to_bytes()

        strs = FrequentItemsSketch(8)
        strs.update(pd.Series(["héllo", "héllo", "wörld", ""]))
        s3 = serde.deserialize(strs.to_bytes())
        assert s3 == strs and s3.estimate("héllo") == 2 and s3.estimate("") == 1

    def test_validation(self):
        import pandas as pd
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        with pytest.raises(ValueError, match="capacity"):
            FrequentItemsSketch(0)
        sk = FrequentItemsSketch(4)
        sk.update(pd.Series([1, 2]))
        with pytest.raises(ValueError, match="key type"):
            sk.update(pd.Series(["a"]))
        other = FrequentItemsSketch(8)
        with pytest.raises(ValueError, match="capacity"):
            sk.merge(other)
        # float keys are refused, integral or not
        for floats in ([1.5], [1.0, 2.0, 1.0]):
            with pytest.raises(ValueError, match="unsupported arrow key type double"):
                FrequentItemsSketch(4).update(pd.Series(floats))

    def test_review_edge_paths(self):
        """uint64 keys past int64 are rejected at ingest, not at to_bytes."""
        import pyarrow as pa
        from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch

        # uint64 >= 2^63 must fail at ingest, not at to_bytes
        sk = FrequentItemsSketch(4)
        with pytest.raises(Exception):
            sk.update_arrow(pa.array([2**63 + 5, 7], type=pa.uint64()))
        ok = FrequentItemsSketch(4)
        ok.update_arrow(pa.array([5, 5, 7], type=pa.uint64()))
        assert ok.estimate(5) == 2 and ok.to_bytes()


class TestTheta:
    """Theta/KMV sketch: exact below k, RSE-bounded above, set algebra,
    commutative bit-identical merges, canonical serde."""

    def test_exact_mode_and_set_ops(self):
        import pandas as pd
        from bloomfilter_spark.sketches.theta import ThetaSketch

        a = ThetaSketch(1024)
        a.update(pd.Series([f"u{i}" for i in range(300)]))
        b = ThetaSketch(1024)
        b.update(pd.Series([f"u{i}" for i in range(200, 400)]))
        assert a.is_exact and a.estimate() == 300.0 and a.error_bound() == 0.0
        assert a.union(b).estimate() == 400.0
        assert a.intersect(b).estimate() == 100.0
        assert a.a_not_b(b).estimate() == 200.0
        assert abs(a.jaccard(b) - 0.25) < 1e-12
        # set-op results are sketches: compose further
        assert a.intersect(b).a_not_b(a).estimate() == 0.0

    def test_estimate_rse_above_k(self):
        import pandas as pd
        from bloomfilter_spark.sketches.theta import ThetaSketch

        sk = ThetaSketch(4096)
        sk.update(pd.Series(np.arange(1_000_000)))
        assert not sk.is_exact
        assert abs(sk.estimate() - 1e6) / 1e6 <= 4 * sk.relative_error
        assert sk.error_bound() > 0

    def test_merge_commutative_idempotent_bit_identical(self):
        import pandas as pd
        from bloomfilter_spark.sketches.theta import ThetaSketch

        x = ThetaSketch(256)
        x.update(pd.Series(np.arange(10_000)))
        y = ThetaSketch(256)
        y.update(pd.Series(np.arange(5_000, 15_000)))
        xy = x.copy().merge(y)
        yx = y.copy().merge(x)
        assert xy.to_bytes() == yx.to_bytes()
        # idempotent in sketch STATE (θ, retained values); n_added is raw
        # ingest lineage and legitimately re-counts on a re-merge
        assert xy.copy().merge(x) == xy
        est = xy.estimate()
        assert abs(est - 15_000) / 15_000 <= 4 * xy.relative_error

    def test_intersection_above_k_within_band(self):
        import pandas as pd
        from bloomfilter_spark.sketches.theta import ThetaSketch

        a = ThetaSketch(4096)
        a.update(pd.Series(np.arange(500_000)))
        b = ThetaSketch(4096)
        b.update(pd.Series(np.arange(250_000, 750_000)))
        est = a.intersect(b).estimate()
        # intersection RSE grows ~1/√(J·k) (Dasgupta et al. §4); J = 1/3
        assert abs(est - 250_000) / 250_000 <= 6 / (a.k / 3) ** 0.5

    def test_validation_and_serde(self):
        import pandas as pd
        from bloomfilter_spark.sketches.theta import ThetaSketch

        with pytest.raises(ValueError, match="k must be"):
            ThetaSketch(8)
        a = ThetaSketch(64, seed=1)
        b = ThetaSketch(64, seed=2)
        with pytest.raises(ValueError, match="same k and seed"):
            a.merge(b)
        with pytest.raises(ValueError, match="same k and seed"):
            a.intersect(ThetaSketch(128, seed=1))
        a.update(pd.Series(["x", "y", "x"]))
        rt = serde.deserialize(a.to_bytes())
        assert rt == a and rt.to_bytes() == a.to_bytes()
        assert rt.estimate() == 2.0
        empty = ThetaSketch(64)
        assert serde.deserialize(empty.to_bytes()) == empty
        assert empty.estimate() == 0.0
        assert empty.union(empty).estimate() == 0.0


class TestDDSketch:
    def _mk(self, alpha=0.01):
        from bloomfilter_spark.sketches.ddsketch import DDSketch

        return DDSketch(alpha=alpha)

    def test_validation(self):
        from bloomfilter_spark.sketches.ddsketch import DDSketch

        for bad in (0.0, 1.0, -0.5, 2, "x", None):
            with pytest.raises(ValueError):
                DDSketch(alpha=bad)

    @pytest.mark.parametrize("dist", ["uniform", "lognormal", "exponential"])
    def test_relative_error_within_alpha(self, dist):
        rng = np.random.RandomState(11)
        vals = {
            "uniform": rng.uniform(0.001, 1e6, 50000),
            "lognormal": rng.lognormal(2, 3, 50000),
            "exponential": rng.exponential(100, 50000),
        }[dist]
        sk = self._mk(0.01)
        sk.update(vals)
        s = np.sort(vals)
        for q in (0.001, 0.01, 0.5, 0.99, 0.999):
            est = sk.quantile(q)
            # lower-bound rule: the true item at rank max(1, ceil(qN))
            true = s[max(0, int(np.ceil(max(1.0, q * len(s)))) - 1)]
            assert abs(est - true) <= 0.01 * abs(true) * (1 + 1e-9), (q, est, true)

    def test_signs_zeros_and_nan(self):
        sk = self._mk(0.05)
        sk.update([-100.0, -1.0, 0.0, 0.0, 1.0, 100.0, np.nan])
        assert sk.n_added == 6
        assert sk.zero_count == 2
        assert abs(sk.quantile(0.5)) < 1e-12  # 3rd of 6 → zero bucket
        assert sk.quantile(0.0) < 0 and sk.quantile(1.0) > 0
        lo, hi = sk.quantile(0.01), sk.quantile(0.99)
        assert abs(lo + 100.0) <= 5.0 + 1e-9 and abs(hi - 100.0) <= 5.0 + 1e-9

    def test_merge_bit_identical_any_order_and_equal_to_single(self):
        rng = np.random.RandomState(5)
        vals = rng.lognormal(3, 2, 30000)
        whole = self._mk()
        whole.update(vals)
        parts = []
        for chunk in np.array_split(vals, 7):
            p = self._mk()
            p.update(chunk)
            parts.append(p)
        m1 = self._mk()
        m1.merge_all(parts)
        m2 = self._mk()
        m2.merge_all(parts[::-1])
        # a histogram is a pure function of the multiset: merges equal the
        # single build exactly, not just statistically
        assert m1 == m2 == whole
        assert m1.n_added == whole.n_added == 30000

    def test_merge_geometry_check(self):
        a, b = self._mk(0.01), self._mk(0.02)
        with pytest.raises(ValueError, match="alpha"):
            a.merge(b)

    def test_blob_roundtrip_and_garbage(self):
        from bloomfilter_spark.sketches import serde
        from bloomfilter_spark.sketches.ddsketch import DDSketch

        sk = self._mk()
        sk.update(np.random.RandomState(3).exponential(50, 10000))
        rt = serde.deserialize(sk.to_bytes())
        assert rt == sk and rt.n_added == sk.n_added
        assert rt.quantile(0.5) == sk.quantile(0.5)
        with pytest.raises(ValueError):
            DDSketch.from_bytes(sk.to_bytes()[:-8])  # truncated payload
        with pytest.raises(ValueError):
            DDSketch.from_bytes(b"garbage-blob-not-a-sketch")

    def test_empty_and_clear(self):
        sk = self._mk()
        assert np.isnan(sk.quantile(0.5))
        sk.update([1.0, 2.0])
        sk.clear()
        assert sk.n_added == 0 and np.isnan(sk.quantile(0.5))
        st = sk.stats()
        assert st["relative_error"] == 0.01 and st["n_added"] == 0
