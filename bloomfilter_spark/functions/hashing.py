"""Vectorized MurmurHash3 x64-128 over batches of variable-length byte strings.

The reference library derives two independent 64-bit hashes per element
(FNV-1a variant + murmur-style mix, /root/reference/internal/hash/hash.go:7-108)
and expands them to k bit positions via Kirsch–Mitzenmacher double hashing
``pos_i = (h1 + i*h2) mod m`` (/root/reference/bloomfilter.go:124-126).

We keep the exact same double-hashing contract but use the hash family the
north rule names: murmur3 (x64-128), whose two 64-bit output halves serve as
(h1, h2).  The contract is determinism + distribution quality, not
bit-equality with the Go implementation.

Everything here is batch-vectorized numpy: a batch of N strings becomes a
flat uint8 buffer + offsets (zero-copy from Arrow where possible), rows are
bucketed by their number of full 16-byte murmur blocks, and each bucket is
hashed with pure ndarray arithmetic — no per-row Python, per the input_hint
mandate (BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_MASK64 = U64(0xFFFFFFFFFFFFFFFF)

_C1 = U64(0x87C37B91114253D5)
_C2 = U64(0x4CF5AD432745937F)
_F1 = U64(0xFF51AFD7ED558CCD)
_F2 = U64(0xC4CEB9FE1A85EC53)
_N1 = U64(0x52DCE729)
_N2 = U64(0x38495AB5)
_FIVE = U64(5)

DEFAULT_SEED = 0x5EED_1EAF  # fixed default; part of every sketch's header

_MIX_TILE_ROWS = 32_768  # rows per cache tile in the variable-length mixer

# Tail-byte masks for the final 16-byte window, indexed by r = len mod 16
# (the number of REAL tail bytes): keeping the low min(r,8) bytes of the
# lo u64 lane and the low max(r-8,0) bytes of the hi lane equals zeroing
# the pad bytes of a little-endian load — two table-gathers + two ANDs
# instead of a (g,16) boolean byte mask (measured ~30% of assembly cost).
_TAIL_MASK_LO = np.array(
    [U64(0xFFFFFFFFFFFFFFFF) if r >= 8 else U64((1 << (8 * r)) - 1) for r in range(16)],
    dtype=U64,
)
_TAIL_MASK_HI = np.array(
    [U64((1 << (8 * (r - 8))) - 1) if r > 8 else U64(0) for r in range(16)],
    dtype=U64,
)


def murmur3_x64_128(
    flat: np.ndarray, offsets: np.ndarray, seed: int = DEFAULT_SEED
) -> tuple[np.ndarray, np.ndarray]:
    """Hash N variable-length byte strings; returns (h1, h2) uint64 arrays.

    flat:    uint8 buffer holding all rows' bytes (rows need not be adjacent)
    offsets: int64 array of length N+1; row i's bytes are
             flat[offsets[i]:offsets[i+1]]

    Matches the canonical MurmurHash3_x64_128 byte-for-byte (verified against
    a scalar port in tests/test_hashing.py).  The tail switch of the scalar
    algorithm is equivalent to a zero-padded little-endian load, which is what
    lets the whole thing vectorize.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if n <= 0:
        return (
            np.full(max(n, 0), U64(seed), dtype=U64),
            np.full(max(n, 0), U64(seed), dtype=U64),
        )
    # every row is written exactly once by its (b, tile) group below, so
    # the outputs need no seed pre-fill
    h1 = np.empty(n, dtype=U64)
    h2 = np.empty(n, dtype=U64)
    lengths = offsets[1:] - offsets[:-1]
    nblocks = lengths // 16

    # zero-pad the flat buffer once so every row can be loaded as a full
    # (b+1)*16-byte window via sliding_window_view — the per-group load is
    # then ONE row-gather with g indices instead of per-byte index math.
    # Offsets are nondecreasing (row i is flat[o[i]:o[i+1]]), so the batch
    # only touches flat[o[0]:o[-1]): trim to that VIEW before padding.
    # Without the trim, a batch sliced from a big Arrow array (arr.offset
    # deep into a shared data buffer — every mapInArrow build) would
    # memcpy the WHOLE parent buffer per batch; measured 0.96 → 4.9 M/s
    # on 8192-row slices of a 1M-url array.
    base = int(offsets[0])
    end = int(offsets[-1])
    max_pad = (int(nblocks.max()) + 1) * 16 if len(lengths) else 16
    if len(flat) >= end + 16:
        # The parent buffer extends past this batch (every mapInArrow
        # batch except the buffer's last slice): a row's window reaches at
        # most 16 bytes past its own data (its partial tail block), so 16
        # bytes of slack suffice — window loads may then read NEIGHBORING
        # rows' bytes instead of zeros, but only into the two tail lanes,
        # which the length-indexed _TAIL_MASK AND zeroes before mixing —
        # bit-identical to the zero-pad path (pinned in
        # tests/test_hashing.py) with ZERO copies instead of a
        # whole-batch memcpy per call.  (Nondecreasing offsets make this
        # condition also cover sliding_window_view's length-≥-window
        # requirement: end-base ≥ longest row ≥ max_pad-16.)
        flat_pad = flat[base:]
    else:
        flat_pad = np.concatenate(
            [flat[base:end], np.zeros(max_pad, dtype=np.uint8)]
        )
    starts = offsets[:-1] - base

    with np.errstate(over="ignore"):
        for b in np.unique(nblocks):
            idx = np.nonzero(nblocks == b)[0]
            # cache tiling: the mixer streams ~6 live u64 buffers plus the
            # gathered byte windows over every row ~25×(b+1) times, so rows
            # are processed in tiles small enough that the working set
            # stays LLC-resident (32k rows ≈ 1.5 MB of u64 buffers + the
            # window block) — measured 1.67× over one monolithic pass at
            # 1M url-length rows; per-tile results are independent, so the
            # output is bit-identical at any tile size
            for s in range(0, len(idx), _MIX_TILE_ROWS):
                sl = idx[s : s + _MIX_TILE_ROWS]
                _murmur_group(
                    flat_pad, starts[sl], lengths[sl], int(b), h1, h2, sl, seed
                )
    return h1, h2


def _murmur_group(
    flat: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    b: int,
    h1_out: np.ndarray,
    h2_out: np.ndarray,
    idx: np.ndarray,
    seed: int,
) -> None:
    """Hash one bucket of rows that all contain exactly ``b`` full 16B blocks.

    ``flat`` arrives zero-padded past the data end (see caller), so each
    row's (b+1)*16-byte window is loadable through a strided view: the whole
    bucket assembles with ONE g-index row-gather — no per-byte index arrays
    (≈5× cheaper than repeat/scatter assembly on url-length strings).
    Every row here has b full blocks, so only the final two u64 tail LANES
    can contain pad bytes — AND them with length-indexed masks
    (_TAIL_MASK_LO/_HI): two table gathers + two in-place ANDs replace the
    former (g,16) boolean byte mask (~30% of assembly cost), and a masked
    little-endian tail load is exactly the scalar algorithm's tail switch."""
    width = (b + 1) * 16
    win = np.lib.stride_tricks.sliding_window_view(flat, width)
    padded = win[starts]  # (g, width), C-contiguous copy
    words = padded.view("<u8")  # (g, 2*(b+1)) little-endian lanes
    r = (lens - 16 * b).astype(np.int64)  # real tail bytes, 0..15
    words[:, 2 * b] &= _TAIL_MASK_LO[r]
    words[:, 2 * b + 1] &= _TAIL_MASK_HI[r]

    # All mixing below runs IN PLACE over four live buffers (gh1, gh2, k1,
    # k2) plus one scratch (tmp): the out-of-place version spent most of
    # its time allocating and re-touching ~18 temporaries per block.  Each
    # rotl64(x, r) is the 3-pass  tmp = x >> (64-r); x <<= r; x |= tmp.
    # Every rewrite is value-preserving — outputs stay bit-identical to
    # the scalar algorithm (pinned in tests/test_hashing.py).
    g = len(starts)
    gh1 = np.full(g, U64(seed), dtype=U64)
    gh2 = np.full(g, U64(seed), dtype=U64)
    k1 = np.empty(g, dtype=U64)
    k2 = np.empty(g, dtype=U64)
    tmp = np.empty(g, dtype=U64)
    u33, u31, u27, u37 = U64(33), U64(31), U64(27), U64(37)

    def _mix_k1(src) -> None:
        # k1 = rotl64(src*C1, 31) * C2 ; gh1 ^= k1   (explicit out= — an
        # augmented assignment here would rebind the name as a local)
        np.multiply(src, _C1, out=k1)
        np.right_shift(k1, u33, out=tmp)
        np.left_shift(k1, u31, out=k1)
        np.bitwise_or(k1, tmp, out=k1)
        np.multiply(k1, _C2, out=k1)
        np.bitwise_xor(gh1, k1, out=gh1)

    def _mix_k2(src) -> None:
        # k2 = rotl64(src*C2, 33) * C1 ; gh2 ^= k2
        np.multiply(src, _C2, out=k2)
        np.right_shift(k2, u31, out=tmp)
        np.left_shift(k2, u33, out=k2)
        np.bitwise_or(k2, tmp, out=k2)
        np.multiply(k2, _C1, out=k2)
        np.bitwise_xor(gh2, k2, out=gh2)

    for j in range(b):
        _mix_k1(words[:, 2 * j])
        # gh1 = rotl64(gh1, 27) + gh2 ; gh1 = gh1*5 + N1
        np.right_shift(gh1, u37, out=tmp)
        gh1 <<= u27
        gh1 |= tmp
        gh1 += gh2
        gh1 *= _FIVE
        gh1 += _N1
        _mix_k2(words[:, 2 * j + 1])
        # gh2 = rotl64(gh2, 31) + gh1 ; gh2 = gh2*5 + N2
        np.right_shift(gh2, u33, out=tmp)
        gh2 <<= u31
        gh2 |= tmp
        gh2 += gh1
        gh2 *= _FIVE
        gh2 += _N2
    # Tail: zero-padded LE load == the scalar switch's byte assembly; a zero
    # k-lane mixes to zero, so applying unconditionally matches the scalar
    # algorithm's "only if tail bytes exist" behavior exactly.
    _mix_k2(words[:, 2 * b + 1])
    _mix_k1(words[:, 2 * b])
    # Finalize (fmix64 in place, sharing the scratch buffer)
    ln = lens.astype(U64)
    gh1 ^= ln
    gh2 ^= ln
    gh1 += gh2
    gh2 += gh1
    for h in (gh1, gh2):
        np.right_shift(h, u33, out=tmp)
        h ^= tmp
        h *= _F1
        np.right_shift(h, u33, out=tmp)
        h ^= tmp
        h *= _F2
        np.right_shift(h, u33, out=tmp)
        h ^= tmp
    gh1 += gh2
    gh2 += gh1
    h1_out[idx] = gh1
    h2_out[idx] = gh2


def murmur3_x64_128_u64(values, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Fixed 8-byte-key fast path (int64/uint64 batches — the reference's
    AddUint64 byte-collapse, /root/reference/bloomfilter.go:171-174).

    An 8-byte row has zero full 16-byte blocks and a tail whose zero-padded
    LE load is (k1=value, k2=0); a zero k2 lane mixes to zero, so the whole
    hash collapses to the k1 tail mix + finalization — no flat buffer, no
    window gather, no tail zeroing.  Bit-identical to
    murmur3_x64_128(*bytes_view_of_int64(values)) (pinned in
    tests/test_hashing.py); ~4× fewer ops than the general path.

    Written as in-place passes over two live arrays plus one scratch
    buffer: this path sits under every int-keyed sketch update/probe, and
    the out-of-place version spent ~40% of its time allocating and
    re-touching temporaries.  The algebra is folded where the scalar
    initial state allows (h2 before mixing is the CONSTANT seed^8, so
    "h1 ^= seed; h1 ^= len; h1 += h2" collapses to scalar ops) — every
    fold is value-preserving, so outputs stay bit-identical (pinned).
    """
    v = (
        np.ascontiguousarray(np.asarray(values))
        .astype("<u8", copy=False)
        .view(U64)
    )
    n = v.size
    if n == 0:
        return np.full(0, U64(seed), dtype=U64), np.full(0, U64(seed), dtype=U64)
    h1 = np.empty(n, dtype=U64)
    h2 = np.empty(n, dtype=U64)
    s8 = U64(seed) ^ U64(8)
    tmp = np.empty(min(n, _MIX_TILE_ROWS), dtype=U64)
    with np.errstate(over="ignore"):
        # cache tiling (same rationale as the variable-length mixer): the
        # ~26 passes below re-touch every buffer, so slices are sized to
        # stay LLC-resident — measured 1.4× over one monolithic pass at 2M
        # keys; tiles are independent, output identical at any tile size
        for s in range(0, n, _MIX_TILE_ROWS):
            a = h1[s : s + _MIX_TILE_ROWS]
            b = h2[s : s + _MIX_TILE_ROWS]
            t = tmp[: len(a)]
            # k1 tail mix, in place: the h1 slice is born as k1
            np.multiply(v[s : s + _MIX_TILE_ROWS], _C1, out=a)
            np.right_shift(a, U64(33), out=t)  # rotl64(k1, 31)
            np.left_shift(a, U64(31), out=a)
            np.bitwise_or(a, t, out=a)
            np.multiply(a, _C2, out=a)
            # pre-finalization: h1 = k1 ^ seed ^ 8 (+= h2), h2 = seed ^ 8
            np.bitwise_xor(a, s8, out=a)
            np.add(a, s8, out=a)
            np.add(a, s8, out=b)
            # fmix64 both halves in place, sharing the scratch buffer
            for h in (a, b):
                np.right_shift(h, U64(33), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _F1, out=h)
                np.right_shift(h, U64(33), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _F2, out=h)
                np.right_shift(h, U64(33), out=t)
                np.bitwise_xor(h, t, out=h)
            np.add(a, b, out=a)
            np.add(b, a, out=b)
    return h1, h2


# ---------------------------------------------------------------------------
# Batch input: one coercion to Arrow -> (flat uint8, offsets int64)
# ---------------------------------------------------------------------------


def as_arrow(values):
    """The library's one key coercion: an Arrow Array/ChunkedArray passes
    through unchanged; anything else (numpy, pandas, list, tuple) becomes
    one ``pa.array(values)`` — a contiguous numpy int64 array zero-copy.
    Python ints past int64 (genuine uint64-range keys) retry as uint64."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        return values
    try:
        return pa.array(values)
    except OverflowError:
        return pa.array(values, type=pa.uint64())


def _bytes_view(values, want_binary: bool) -> tuple[np.ndarray, np.ndarray]:
    """Shared adapter behind bytes_view_of_strings/bytes_view_of_binary.

    Takes anything `as_arrow` takes.  Nulls hash as empty values (callers
    that need to skip nulls drop them first).  Batches whose flat bytes
    exceed the int32-offset 2 GiB capacity are widened to the
    large_(string|binary) layout instead of failing with an opaque
    ArrowCapacityError deep in the hash path — the offsets are normalized
    to int64 either way, so the murmur kernel sees one shape."""
    import pyarrow as pa

    pa_type = pa.binary() if want_binary else pa.string()
    large_type = pa.large_binary() if want_binary else pa.large_string()
    is_flat = pa.types.is_binary if want_binary else pa.types.is_string
    is_large = (
        pa.types.is_large_binary if want_binary else pa.types.is_large_string
    )
    fill = b"" if want_binary else ""

    arr = as_arrow(values)
    if isinstance(arr, pa.ChunkedArray):
        try:
            arr = arr.combine_chunks()
        except (pa.ArrowCapacityError, pa.ArrowInvalid):
            arr = arr.cast(large_type).combine_chunks()
    if not (is_flat(arr.type) or is_large(arr.type)):
        try:
            arr = arr.cast(pa_type)
        except (pa.ArrowCapacityError, pa.ArrowInvalid):
            arr = arr.cast(large_type)
    if arr.null_count:
        arr = arr.fill_null(fill)
    off_dtype = np.int64 if is_large(arr.type) else np.int32
    raw_offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)
    # astype always copies: the kernel gets a writable int64 array in both
    # offset layouts (np.frombuffer views are read-only)
    offsets = raw_offsets[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    flat = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    return flat, offsets


def bytes_view_of_strings(values) -> tuple[np.ndarray, np.ndarray]:
    """(flat, offsets) view of a batch of strings, zero-copy via Arrow."""
    return _bytes_view(values, want_binary=False)


def bytes_view_of_binary(values) -> tuple[np.ndarray, np.ndarray]:
    """(flat, offsets) for a batch of bytes objects (binary column)."""
    return _bytes_view(values, want_binary=True)


def bytes_view_of_int64(values) -> tuple[np.ndarray, np.ndarray]:
    """(flat, offsets) for int64/uint64 values as fixed 8-byte little-endian.

    The reference hashes uint64 as its native-endian 8-byte view
    (/root/reference/bloomfilter.go:171-174); we standardize little-endian
    so sketches are portable across nodes.
    """
    arr = np.ascontiguousarray(np.asarray(values)).astype("<u8", copy=False)
    flat = arr.view(np.uint8)
    offsets = np.arange(len(arr) + 1, dtype=np.int64) * 8
    return flat, offsets


# ---------------------------------------------------------------------------
# Cross-engine-reproducible 60-bit hash (the one rule DuckDB can replay)
# ---------------------------------------------------------------------------

# DuckDB fragment computing the IDENTICAL value as md5_hash60 — every SQL
# oracle that replays the hash must be built from this, not hand-copied.
MD5_HASH60_SQL = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def md5_hash60(col):
    """Catalyst Column: first 60 bits of md5(col) as a bigint.

    md5 is the only hash Spark and DuckDB both expose, and 15 hex chars
    fit a signed 64-bit int in both engines — the foundation of every
    SQL-oracle-able hash rule (sampling thresholds, the md5 simhash)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash_any(values, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) of a key batch: `as_arrow`, then one switch on the Arrow
    type — the reference's byte-collapse rule (int→8 bytes, string→utf8,
    bytes→bytes).  NULL strings and bytes hash as empty; every other key
    type (float, bool, temporal, decimal, nested, dictionary) is refused
    rather than hashed through a cast."""
    import pyarrow as pa

    arr = as_arrow(values)
    t = arr.type
    if pa.types.is_integer(t):
        if arr.null_count:
            raise TypeError(
                f"hash_any: {t} key batch has nulls — drop NaN/None rows "
                "before hashing"
            )
        return murmur3_x64_128_u64(arr.to_numpy(), seed)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return murmur3_x64_128(*bytes_view_of_binary(arr), seed)
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_null(t):
        return murmur3_x64_128(*bytes_view_of_strings(arr), seed)
    raise TypeError(
        f"hash_any: unsupported key type {t} — keys are int, string, or "
        "bytes; cast the column upstream"
    )
