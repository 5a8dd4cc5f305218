"""Hash tests mirroring /root/reference/internal/hash/hash_test.go:
determinism, h1/h2 independence, collision-freedom, bit-flip sensitivity,
chunk-boundary sizes, byte-order sensitivity, pathological inputs, and the
SIMD-vs-scalar differential (vectorized numpy vs per-row Python port)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bloomfilter_spark.functions.hashing import (
    bytes_view_of_binary,
    bytes_view_of_int64,
    bytes_view_of_strings,
    hash_any,
    murmur3_x64_128,
)
from tests.scalar_oracle import murmur3_x64_128_scalar


def _vector_hash(items: list[bytes], seed: int = 0):
    flat, offsets = bytes_view_of_binary(items)
    return murmur3_x64_128(flat, offsets, seed)


# chunk-boundary sizes, mirroring hash_test.go:248-281
BOUNDARY_SIZES = [0, 1, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 65, 127, 128, 129, 1000]


def test_matches_scalar_reference_at_all_boundary_sizes():
    rng = np.random.RandomState(7)
    items = [bytes(rng.randint(0, 256, size=s, dtype=np.uint8)) for s in BOUNDARY_SIZES]
    for seed in (0, 1, 0x5EED_1EAF, 2**63):
        h1, h2 = _vector_hash(items, seed)
        for i, b in enumerate(items):
            e1, e2 = murmur3_x64_128_scalar(b, seed)
            assert int(h1[i]) == e1, f"h1 mismatch len={len(b)} seed={seed}"
            assert int(h2[i]) == e2, f"h2 mismatch len={len(b)} seed={seed}"


def test_matches_scalar_on_random_corpus():
    rng = np.random.RandomState(42)
    items = [
        bytes(rng.randint(0, 256, size=rng.randint(0, 200), dtype=np.uint8))
        for _ in range(500)
    ]
    h1, h2 = _vector_hash(items, 99)
    for i, b in enumerate(items):
        e1, e2 = murmur3_x64_128_scalar(b, 99)
        assert (int(h1[i]), int(h2[i])) == (e1, e2)


def test_determinism():
    items = [b"hello", b"world", b""]
    a = _vector_hash(items)
    b = _vector_hash(items)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


def test_h1_h2_independent():
    # mirror hash_test.go:138-167 — the two lanes must differ
    items = [f"key-{i}".encode() for i in range(1000)]
    h1, h2 = _vector_hash(items)
    assert np.all(h1 != h2)


def test_collision_free_on_sample_corpus():
    # mirror hash_test.go:170-216
    items = [f"https://example-{i}.com/path/{i*7}".encode() for i in range(20000)]
    h1, h2 = _vector_hash(items)
    combined = set(zip(h1.tolist(), h2.tolist()))
    assert len(combined) == len(items)


def test_bit_flip_sensitivity():
    # mirror hash_test.go:219-245
    base = bytearray(b"the quick brown fox jumps over")
    variants = [bytes(base)]
    for byte_i in range(len(base)):
        v = bytearray(base)
        v[byte_i] ^= 1
        variants.append(bytes(v))
    h1, _ = _vector_hash(variants)
    assert len(set(h1.tolist())) == len(variants)


def test_byte_order_sensitivity():
    # mirror hash_test.go:328-352
    a, _ = _vector_hash([b"abcd", b"dcba", b"abdc"])
    assert len(set(a.tolist())) == 3


def test_pathological_inputs():
    # mirror hash_test.go:355-411 — zeros, 0xFF, repeating patterns
    items = [b"\x00" * 64, b"\xff" * 64, b"ab" * 32, b"\x00" * 63, b"\x00" * 65]
    h1, _ = _vector_hash(items)
    assert len(set(h1.tolist())) == len(items)
    for i, b in enumerate(items):
        assert int(h1[i]) == murmur3_x64_128_scalar(b, 0)[0]


def test_prefix_not_equal_full():
    # mirror hash_test.go:414-441
    h1, _ = _vector_hash([b"prefix", b"prefix-and-more"])
    assert h1[0] != h1[1]


def test_string_adapter_matches_binary():
    strs = ["", "a", "hello world", "ünïcödé ✓", "x" * 100]
    f1, o1 = bytes_view_of_strings(strs)
    expected = [murmur3_x64_128_scalar(s.encode("utf-8"), 0) for s in strs]
    h1, h2 = murmur3_x64_128(f1, o1, 0)
    for i, (e1, e2) in enumerate(expected):
        assert (int(h1[i]), int(h2[i])) == (e1, e2)


def test_int64_adapter_little_endian():
    vals = np.array([0, 1, 2**40, 2**63 - 1, -1], dtype=np.int64)
    flat, offsets = bytes_view_of_int64(vals)
    h1, _ = murmur3_x64_128(flat, offsets, 0)
    for i, v in enumerate(vals):
        raw = int(np.uint64(np.int64(v))).to_bytes(8, "little")
        assert int(h1[i]) == murmur3_x64_128_scalar(raw, 0)[0]


def test_hash_any_dispatch():
    """Every accepted key form hashes exactly as its canonical Arrow array
    (int → 8 bytes whatever the width, string → utf8, bytes → bytes, NULL
    string/bytes → empty); every other key type raises TypeError naming
    it, integral floats included."""
    import datetime
    import decimal

    import pyarrow as pa

    ints = pa.array([1, -2, 3], pa.int64())
    strs = pa.array(["a", "ü", ""], pa.string())
    blobs = pa.array([b"", b"\xff\xfe", b"ok"], pa.binary())
    accepted = [
        (ints, ints),
        (pa.array([1, 2**64 - 1], pa.uint64()), pa.array([1, 2**64 - 1], pa.uint64())),
        (strs, strs),
        (pa.array(["a", "ü", ""], pa.large_string()), strs),
        (blobs, blobs),
        (pa.array([b"", b"\xff\xfe", b"ok"], pa.large_binary()), blobs),
        (np.array([1, -2, 3], dtype=np.int32), ints),
        (np.array([1, -2, 3], dtype=np.int64), ints),
        ([1, -2, 3], ints),
        (["a", "ü", ""], strs),
        ([None, b"\xff\xfe", b"ok"], blobs),
        (pd.Series(["a", "ü", ""], dtype=object), strs),
        (pd.Series([1, -2, 3], dtype="int64"), ints),
        (pd.Series([1, -2, 3], dtype="Int64"), ints),
    ]
    for form, canonical in accepted:
        got, want = hash_any(form), hash_any(canonical)
        assert got[0].dtype == np.uint64
        assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1]), form
    # str "a" (utf-8) and bytes b"a" collapse to the same bytes -> same hash
    assert hash_any(["a"])[0][0] == hash_any([b"a"])[0][0]

    refused = [
        (np.array([1.0, 2.0]), "double"),
        (pd.Series([1.5, 2.0]), "double"),
        (pa.array([1.0, 2.0], pa.float64()), "double"),
        (pa.array([True, False]), "bool"),
        (pa.array([datetime.date(2020, 1, 1)]), "date32"),
        (pa.array([datetime.datetime(2020, 1, 1)]), "timestamp"),
        (pa.array([decimal.Decimal("1.5")]), "decimal"),
        (pa.array([1, None, 3], pa.int64()), "int64"),
    ]
    for form, type_name in refused:
        with pytest.raises(TypeError, match=type_name):
            hash_any(form)


def test_nulls_hash_as_empty():
    import pandas as pd

    h, _ = hash_any(pd.Series(["a", None, ""]))
    assert h[1] == h[2]


def test_distribution_uniformity():
    # chi-square-ish sanity: bucket h1 of 100k keys into 256 buckets
    items = [f"k{i}".encode() for i in range(100000)]
    h1, _ = _vector_hash(items)
    buckets = np.bincount((h1 >> np.uint64(56)).astype(np.int64), minlength=256)
    expected = len(items) / 256
    assert np.all(np.abs(buckets - expected) < expected * 0.2)


def test_u64_fast_path_bit_identical_to_general():
    """murmur3_x64_128_u64 (the int64 hot path) must match the general
    variable-length path bit-for-bit, including negative values (two's
    complement bytes) and empty input."""
    import numpy as np

    from bloomfilter_spark.functions.hashing import (
        bytes_view_of_int64,
        murmur3_x64_128,
        murmur3_x64_128_u64,
    )

    rng = np.random.default_rng(11)
    for vals in (
        rng.integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64),
        np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        np.array([], dtype=np.int64),
        rng.integers(0, 2**64, size=1000, dtype=np.uint64),
    ):
        for seed in (0, 0x5EED_1EAF, 12345):
            f1, f2 = murmur3_x64_128_u64(vals, seed)
            g1, g2 = murmur3_x64_128(*bytes_view_of_int64(vals), seed)
            assert np.array_equal(f1, g1) and np.array_equal(f2, g2)


def test_mid_buffer_view_path_bit_identical():
    """The no-copy pad path (parent buffer has ≥16B slack past the batch):
    tail-lane masks must annihilate the NEIGHBOR bytes the window loads in
    place of zero padding — hashes equal the scalar port and the
    batch-in-isolation (zero-pad) path for every row."""
    rng = np.random.RandomState(3)
    corpus = [
        bytes(rng.randint(0, 256, size=rng.randint(0, 80), dtype=np.uint8))
        for _ in range(400)
    ]
    flat_all, off_all = bytes_view_of_binary(corpus)
    # mid-buffer slice: plenty of real (non-zero) bytes on both sides
    lo, hi = 37, 361
    offsets = off_all[lo : hi + 1]
    h1, h2 = murmur3_x64_128(flat_all, offsets, 7)   # view path
    iso1, iso2 = _vector_hash(corpus[lo:hi], 7)      # zero-pad path
    assert np.array_equal(h1, iso1) and np.array_equal(h2, iso2)
    for i, b in enumerate(corpus[lo:hi]):
        assert (int(h1[i]), int(h2[i])) == murmur3_x64_128_scalar(b, 7)


def test_hash_any_arrow_int_nulls_raise_not_undefined_cast():
    """Arrow int64 with nulls surfaces as float64+NaN from to_numpy; the
    NaN must raise the drop-your-nulls TypeError (like every float path)
    instead of taking the architecture-dependent float->uint64 cast."""
    import pyarrow as pa
    import pytest

    from bloomfilter_spark.functions.hashing import hash_any

    with pytest.raises(TypeError, match="drop NaN/None"):
        hash_any(pa.array([1, None, 3], type=pa.int64()))
    # null-free arrow ints still hash, identical to the numpy branch
    a1, a2 = hash_any(pa.array([1, 2, 3], type=pa.int64()))
    b1, b2 = hash_any(np.array([1, 2, 3], dtype=np.int64))
    assert np.array_equal(a1, b1) and np.array_equal(a2, b2)


def test_hash_any_negative_int_list_matches_numpy_branch():
    """Plain-list negative keys must wrap two's-complement exactly like
    the numpy/pandas int branches (np.uint64 construction from negative
    Python ints is an error on numpy >= 2)."""
    from bloomfilter_spark.functions.hashing import hash_any

    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the old uint64 path warned here
        l1, l2 = hash_any([-1, -2, 3])
    n1, n2 = hash_any(np.array([-1, -2, 3], dtype=np.int64))
    assert np.array_equal(l1, n1) and np.array_equal(l2, n2)
    # genuine uint64-range keys still take the uint64 fallback
    u1, u2 = hash_any([2**64 - 1, 5])
    v1, v2 = hash_any(np.array([2**64 - 1, 5], dtype=np.uint64))
    assert np.array_equal(u1, v1) and np.array_equal(u2, v2)


def test_hash_any_binary_series_null_first_routes_to_bytes():
    """Dispatch sniffs the first NON-NULL element: a nullable binary
    column whose first row is null must still hash as bytes (the utf8
    string path would reject b'\\xff')."""
    from bloomfilter_spark.functions.hashing import hash_any

    got1, got2 = hash_any(pd.Series([None, b"\xff\xfe", b"ok"]))
    ref1, ref2 = hash_any(pd.Series([b"", b"\xff\xfe", b"ok"]))  # null == empty
    assert np.array_equal(got1, ref1) and np.array_equal(got2, ref2)
    first = next(v for v in [None, b"\xff\xfe"] if v is not None)
    assert isinstance(first, bytes)
    lg1, lg2 = hash_any([None, b"\xff\xfe", b"ok"])
    assert np.array_equal(lg1, ref1) and np.array_equal(lg2, ref2)


def test_key_and_engine_layers_import_no_pandas():
    """Keys enter the hash and sketch layers as Arrow, and the build
    engine, probes and SQL functions run on Arrow: none of these modules
    imports pandas."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "bloomfilter_spark"
    files = [
        pkg / "functions" / "hashing.py",
        pkg / "functions" / "sqlapi.py",
        *sorted((pkg / "sketches").glob("*.py")),
        *(pkg / "operators" / f for f in
          ("pipeline.py", "build.py", "membership.py", "partitioned.py")),
    ]
    offenders = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if any(n == "pandas" or n.startswith("pandas.") for n in names):
                offenders.append(f"{f.relative_to(pkg)}:{node.lineno}")
    assert len(files) > 10 and not offenders, offenders
