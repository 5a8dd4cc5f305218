"""Binary blob format shared by all sketches.

A sketch crossing the JVM boundary (fold and merge-tree partials,
broadcast variables, checkpoint files) is a self-describing blob:

    header:  magic 4s = b"SKB1" | version u8 | kind u8 | flags u16
             seed u64 | n_added u64 | param_len u32
    params:  param_len bytes of sketch-specific packed parameters
    payload: the sketch state (numpy array bytes)

The header carries everything needed for the merge-compatibility check the
reference enforces (geometry equality before Union/Intersection,
/root/reference/bloomfilter.go:197-199): two blobs merge only if
(kind, seed, params) match exactly.
"""

from __future__ import annotations

import struct

MAGIC = b"SKB1"
VERSION = 1

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_FREQ = 6
KIND_THETA = 7
KIND_CBF = 8
KIND_DDS = 9
KIND_BBLOOM = 10
KIND_MOMENTS = 11
KIND_STRSTATS = 12
KIND_SAMPLE = 13

_HEADER = struct.Struct("<4sBBHQQI")  # magic, version, kind, flags, seed, n_added, param_len

_REGISTRY: dict[int, type] = {}


def register(kind: int):
    def deco(cls):
        _REGISTRY[kind] = cls
        cls.KIND = kind
        return cls

    return deco


def pack(kind: int, seed: int, n_added: int, params: bytes, payload: bytes) -> bytes:
    return (
        _HEADER.pack(MAGIC, VERSION, kind, 0, seed & (2**64 - 1), n_added, len(params))
        + params
        + payload
    )


def unpack(blob: bytes | bytearray | memoryview):
    """-> (kind, seed, n_added, params bytes, payload memoryview)."""
    blob = memoryview(blob)
    if len(blob) < _HEADER.size:
        raise ValueError(
            f"sketch blob: {len(blob)} bytes is shorter than the {_HEADER.size}-byte "
            "header (truncated or not a SKB1 sketch)"
        )
    magic, version, kind, _flags, seed, n_added, param_len = _HEADER.unpack(
        blob[: _HEADER.size]
    )
    if magic != MAGIC:
        raise ValueError("sketch blob: bad magic (not a SKB1 sketch)")
    if version != VERSION:
        raise ValueError(f"sketch blob: unsupported version {version}")
    if len(blob) < _HEADER.size + param_len:
        raise ValueError(
            f"sketch blob truncated inside params: header declares "
            f"{param_len} param bytes, {len(blob) - _HEADER.size} present"
        )
    params = bytes(blob[_HEADER.size : _HEADER.size + param_len])
    payload = blob[_HEADER.size + param_len :]
    return kind, seed, n_added, params, payload


def _register_all() -> None:
    """Import every sketch module so its @register decorator runs.  Needed
    when a merge task deserializes a blob in a python worker that never ran
    a build stage (registration otherwise rides the pickled factory's class
    import, which a bytes-only merge task doesn't carry)."""
    import importlib

    for mod in (
        "bloom", "hll", "cms", "kll", "tdigest", "freqitems", "theta", "cbf",
        "ddsketch", "blocked", "moments", "sample",
    ):
        importlib.import_module(f"bloomfilter_spark.sketches.{mod}")


def deserialize(blob: bytes):
    """Reconstruct any registered sketch from its blob."""
    kind = unpack(blob)[0]
    cls = _REGISTRY.get(kind)
    if cls is None:
        _register_all()
        cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"sketch blob: unknown kind {kind}")
    return cls.from_bytes(blob)
