"""SQL surface: register sketch probe / estimate / merge functions with a
SparkSession, so sketch-BLOB tables are queryable from plain ``spark.sql``.

The reference exposes its query surface as library calls (Contains /
EstimateFalsePositiveRate / GetCacheStats — /root/reference/bloomfilter.go:
124,257,264); the Spark-native analog of "a user calls Contains" is a SQL
function over a serialized-sketch column, so a rollup table written by
`operators/build.py` (one blob per day / host / partition) answers

    SELECT day, hll_estimate(blob)            FROM daily_hll
    SELECT *  FROM urls u WHERE bf_contains((SELECT blob FROM corpus), u.url)
    SELECT week, hll_estimate(sketch_merge(blob)) FROM daily_hll GROUP BY week

without leaving SQL.

What is deliberately NOT here: the raw-key BUILD path.  A pandas
GROUPED_AGG UDF does no map-side partial aggregation — every raw key would
shuffle to its group's single reducer — so building sketches from raw
columns stays with the build engine (`operators/pipeline.py`: mapInArrow
partials + a canonical-order merge tree).  `sketch_merge` below is safe
because its inputs are PRE-REDUCED blobs: group sizes are the number
of sketches per rollup bucket (days per week, partitions per table), which
is bounded by construction, and every sketch's merge is associative and
commutative, so reducer order cannot change the result bits.

Per-batch blob memoization: probe tables repeat the same blob across many
rows (a constant subquery column, or one blob per low-cardinality group),
so each UDF deserializes once per DISTINCT blob per Arrow batch via a
bounded per-executor cache, not once per row.

Null semantics (SQL convention, matching the library-wide null policy):
any NULL argument row yields NULL, never an error.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T

from bloomfilter_spark.sketches import serde

# Byte-bounded per-executor deserialization cache, LRU-evicted.  Keys are
# 16-byte blake2b digests so the cache never pins the blob BYTES, only the
# deserialized sketch (whose resident size ≈ the serialized payload — the
# packed word/counter array dominates both).  Count-bounding instead would
# let a handful of GB-scale blocked-Bloom blobs pin unbounded memory.
_CACHE_MAX_BYTES = 256 << 20
_cache: "OrderedDict[bytes, tuple[object, int]]" = OrderedDict()
_cache_bytes = 0


def _sketch_for(blob) -> object:
    global _cache_bytes
    # hash without copying: a cache HIT costs one digest pass over the
    # blob (memoryview — no bytes() materialization); the copy for
    # deserialization is paid only on a miss.  The digest stays FULL-blob:
    # a truncated fingerprint could alias two different blobs and silently
    # answer probes from the wrong sketch.  For GB-scale filters probed at
    # billions of rows, prefer the DataFrame API (operators/membership.py
    # broadcasts the sketch once) over shipping the blob through SQL rows.
    mv = blob if isinstance(blob, (bytes, bytearray, memoryview)) else bytes(blob)
    key = hashlib.blake2b(mv, digest_size=16).digest()
    hit = _cache.get(key)
    if hit is not None:
        _cache.move_to_end(key)
        return hit[0]
    b = mv if isinstance(mv, bytes) else bytes(mv)
    sk = serde.deserialize(b)
    size = len(b)
    if size > _CACHE_MAX_BYTES:  # a single over-budget giant: use uncached
        return sk
    while _cache and _cache_bytes + size > _CACHE_MAX_BYTES:
        _, (_, old_size) = _cache.popitem(last=False)
        _cache_bytes -= old_size
    _cache[key] = (sk, size)
    _cache_bytes += size
    return sk


def _per_blob_batches(
    blobs: pd.Series, args: pd.Series, fn: Callable
) -> pd.Series:
    """Evaluate fn(sketch, arg_values) once per DISTINCT blob in the batch,
    vectorized over that blob's rows; NULL blob or NULL arg rows yield NULL."""
    out = pd.Series(np.full(len(blobs), None, dtype=object), index=blobs.index)
    valid = blobs.notna() & args.notna()
    if not valid.any():
        return out
    vb, va = blobs[valid], args[valid]
    codes, uniques = pd.factorize(vb.map(bytes))
    for i, blob in enumerate(uniques):
        sel = codes == i
        res = fn(_sketch_for(blob), va.values[sel])
        out.loc[va.index[sel]] = list(np.asarray(res))
    return out


def _per_blob_scalar(blobs: pd.Series, fn: Callable) -> pd.Series:
    """fn(sketch) once per DISTINCT blob in the batch (estimators like
    estimated_fpp scan the whole filter — O(m); running them per ROW against
    a repeated constant blob would rescan the filter N times); NULL blob →
    NULL."""
    out = pd.Series(np.full(len(blobs), None, dtype=object), index=blobs.index)
    valid = blobs.notna()
    if not valid.any():
        return out
    vb = blobs[valid]
    codes, uniques = pd.factorize(vb.map(bytes))
    per_blob = [fn(_sketch_for(b)) for b in uniques]
    out.loc[vb.index] = [per_blob[c] for c in codes]
    return out


# -- scalar probe / estimate UDFs ---------------------------------------------


@F.pandas_udf(T.BooleanType())
def bf_contains(blobs: pd.Series, keys: pd.Series) -> pd.Series:
    """Membership probe against a Bloom / blocked-Bloom / counting-Bloom
    blob.  True = probably present, False = definitely absent (zero false
    negatives — the reference Contains contract)."""
    return _per_blob_batches(
        blobs, keys, lambda sk, vals: [bool(x) for x in sk.contains(vals)]
    )


@F.pandas_udf(T.DoubleType())
def bf_estimated_fpp(blobs: pd.Series) -> pd.Series:
    """(bitsSet/m)^k of a (counting-)Bloom blob — the reference's
    EstimateFalsePositiveRate (bloomfilter.go:257-261)."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimated_fpp()))


@F.pandas_udf(T.DoubleType())
def bf_cardinality(blobs: pd.Series) -> pd.Series:
    """Bitset cardinality estimate -m/k·ln(1-X/m) of a Bloom-family blob."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimated_cardinality()))


@F.pandas_udf(T.LongType())
def sketch_n_added(blobs: pd.Series) -> pd.Series:
    """Rows folded into the blob (NULL keys were skipped at build time)."""
    return _per_blob_scalar(blobs, lambda sk: int(sk.n_added))


@F.pandas_udf(T.StringType())
def sketch_kind(blobs: pd.Series) -> pd.Series:
    """Sketch class name carried by the blob's kind tag (debugging /
    catalog-inspection aid)."""
    return _per_blob_scalar(blobs, lambda sk: type(sk).__name__)


@F.pandas_udf(T.DoubleType())
def hll_estimate(blobs: pd.Series) -> pd.Series:
    """Distinct-count estimate of an HLL or Theta/KMV blob."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimate()))


@F.pandas_udf(T.LongType())
def cms_estimate(blobs: pd.Series, keys: pd.Series) -> pd.Series:
    """Count-min point query: overestimate-only count of key in the blob."""
    return _per_blob_batches(
        blobs, keys, lambda sk, vals: [int(x) for x in sk.query(vals)]
    )


@F.pandas_udf(T.DoubleType())
def sketch_quantile(blobs: pd.Series, qs: pd.Series) -> pd.Series:
    """Quantile query against a KLL / t-digest / DDSketch blob."""
    return _per_blob_batches(
        blobs, qs, lambda sk, vals: np.asarray(sk.quantile(vals), dtype=float)
    )


@F.pandas_udf(T.DoubleType())
def sketch_rank(blobs: pd.Series, xs: pd.Series) -> pd.Series:
    """Rank (CDF) query against a KLL / t-digest / DDSketch blob."""
    return _per_blob_batches(
        blobs, xs, lambda sk, vals: np.asarray(sk.rank(vals), dtype=float)
    )


@F.pandas_udf(T.LongType())
def mg_estimate(blobs: pd.Series, keys: pd.Series) -> pd.Series:
    """Misra-Gries lower-bound count of key (0 if not tracked)."""
    return _per_blob_batches(
        blobs, keys, lambda sk, vals: [int(sk.estimate(v)) for v in vals]
    )


# -- grouped-agg merge ---------------------------------------------------------


@F.pandas_udf(T.BinaryType())
def sketch_merge(blobs: pd.Series) -> bytes:
    """Grouped-agg merge of pre-reduced sketch blobs (`GROUP BY` in SQL).

    Merge is associative AND commutative for every registered sketch
    (bitwise OR / register-max / counter-sum / compactor merge), so the
    reducer's arrival order cannot change the output bits.  Mixed kinds or
    mismatched geometry in one group raise, same as the library merge.
    NULL blobs are skipped; an all-NULL group yields NULL.

    Scale note: inputs must be PRE-REDUCED sketches (one blob per day /
    partition / host) — grouped-agg UDFs do no map-side combine, so raw-key
    builds belong to operators/build.py, which partial-aggregates before
    the shuffle.
    """
    acc = None
    for b in blobs:
        if b is None:
            continue
        sk = serde.deserialize(bytes(b))
        acc = sk if acc is None else acc.merge(sk)
    return None if acc is None else acc.to_bytes()


_FUNCTIONS: dict[str, object] = {
    "bf_contains": bf_contains,
    "bf_estimated_fpp": bf_estimated_fpp,
    "bf_cardinality": bf_cardinality,
    "sketch_n_added": sketch_n_added,
    "sketch_kind": sketch_kind,
    "hll_estimate": hll_estimate,
    "cms_estimate": cms_estimate,
    "sketch_quantile": sketch_quantile,
    "sketch_rank": sketch_rank,
    "mg_estimate": mg_estimate,
    "sketch_merge": sketch_merge,
}


def register_sql_functions(spark, prefix: str = "") -> list[str]:
    """Register every sketch SQL function with `spark`; returns the
    registered names.  Idempotent (re-registration replaces)."""
    names = []
    for name, udf in _FUNCTIONS.items():
        spark.udf.register(prefix + name, udf)
        names.append(prefix + name)
    return names
