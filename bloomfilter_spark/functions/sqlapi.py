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

without leaving SQL.  Every function is an Arrow UDF.

What is deliberately NOT here: the raw-key BUILD path.  A grouped-agg UDF
does no map-side partial aggregation — every raw key would shuffle to its
group's single reducer — so building sketches from raw columns stays with
the build engine (`operators/pipeline.py`: mapInArrow partials + a
canonical-order merge tree).  `sketch_merge` below is safe because its
inputs are PRE-REDUCED blobs: group sizes are the number of sketches per
rollup bucket (days per week, partitions per table), which is bounded by
construction.  It merges through the library's one merge rule
(`build._merge_sorted`) with the blobs in content order, so the reducer's
arrival order — which varies with the partition layout — cannot change
the output bits, compaction sketches (KLL / t-digest / frequent items)
included.

Per-batch blob deduplication: probe tables repeat the same blob across many
rows (a constant subquery column, or one blob per low-cardinality group),
so each function dictionary-encodes the batch's blob column and
deserializes once per DISTINCT blob per Arrow batch, not once per row.
Nothing is cached across batches: hashing a blob to look it up costs more
than deserializing it.  For GB-scale filters probed at billions of rows,
prefer the DataFrame API (`operators/membership.py` broadcasts the sketch
once and caches it per worker).

Null semantics (SQL convention, the library-wide probe rule
`membership._answer_non_null`): any NULL argument row yields NULL, never an
error.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pyspark.sql.types as T

from bloomfilter_spark.operators.build import _merge_sorted
from bloomfilter_spark.operators.membership import _answer_non_null
from bloomfilter_spark.sketches import serde


def _each_blob(fn: Callable, blobs: pa.Array, args: pa.Array) -> np.ndarray:
    """fn(sketch, arg_values) once per DISTINCT blob, vectorized over that
    blob's rows; answers come back in row order.  No NULLs in either."""
    enc = blobs.dictionary_encode()
    idx = enc.indices.to_numpy()
    order = np.argsort(idx, kind="stable")
    ends = np.cumsum(np.bincount(idx))
    res = np.concatenate(
        [
            np.asarray(fn(serde.deserialize(blob.as_buffer()), args.take(rows)))
            for blob, rows in zip(enc.dictionary, np.split(order, ends[:-1]))
        ]
    )
    out = np.empty_like(res)
    out[order] = res
    return out


def _per_blob_batches(blobs: pa.Array, args: pa.Array, fn: Callable) -> pa.Array:
    """Evaluate fn(sketch, arg_values) once per DISTINCT blob in the batch,
    vectorized over that blob's rows; NULL blob or NULL arg rows yield NULL."""
    return _answer_non_null(lambda b, a: _each_blob(fn, b, a), blobs, args)


def _per_blob_scalar(blobs: pa.Array, fn: Callable) -> pa.Array:
    """fn(sketch) once per DISTINCT blob in the batch (estimators like
    estimated_fpp scan the whole filter — O(m); running them per ROW against
    a repeated constant blob would rescan the filter N times); NULL blob →
    NULL."""

    def each(b: pa.Array) -> pa.Array:
        enc = b.dictionary_encode()
        per_blob = [fn(serde.deserialize(x.as_buffer())) for x in enc.dictionary]
        return pa.array(per_blob).take(enc.indices)

    return _answer_non_null(each, blobs)


# -- scalar probe / estimate UDFs ---------------------------------------------


@F.arrow_udf(T.BooleanType())
def bf_contains(blobs: pa.Array, keys: pa.Array) -> pa.Array:
    """Membership probe against a Bloom / blocked-Bloom / counting-Bloom
    blob.  True = probably present, False = definitely absent (zero false
    negatives — the reference Contains contract)."""
    return _per_blob_batches(blobs, keys, lambda sk, vals: sk.contains(vals))


@F.arrow_udf(T.DoubleType())
def bf_estimated_fpp(blobs: pa.Array) -> pa.Array:
    """(bitsSet/m)^k of a (counting-)Bloom blob — the reference's
    EstimateFalsePositiveRate (bloomfilter.go:257-261)."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimated_fpp()))


@F.arrow_udf(T.DoubleType())
def bf_cardinality(blobs: pa.Array) -> pa.Array:
    """Bitset cardinality estimate -m/k·ln(1-X/m) of a Bloom-family blob."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimated_cardinality()))


@F.arrow_udf(T.LongType())
def sketch_n_added(blobs: pa.Array) -> pa.Array:
    """Rows folded into the blob (NULL keys were skipped at build time)."""
    return _per_blob_scalar(blobs, lambda sk: int(sk.n_added))


@F.arrow_udf(T.StringType())
def sketch_kind(blobs: pa.Array) -> pa.Array:
    """Sketch class name carried by the blob's kind tag (debugging /
    catalog-inspection aid)."""
    return _per_blob_scalar(blobs, lambda sk: type(sk).__name__)


@F.arrow_udf(T.DoubleType())
def hll_estimate(blobs: pa.Array) -> pa.Array:
    """Distinct-count estimate of an HLL or Theta/KMV blob."""
    return _per_blob_scalar(blobs, lambda sk: float(sk.estimate()))


@F.arrow_udf(T.LongType())
def cms_estimate(blobs: pa.Array, keys: pa.Array) -> pa.Array:
    """Count-min point query: overestimate-only count of key in the blob."""
    return _per_blob_batches(blobs, keys, lambda sk, vals: sk.query(vals))


@F.arrow_udf(T.DoubleType())
def sketch_quantile(blobs: pa.Array, qs: pa.Array) -> pa.Array:
    """Quantile query against a KLL / t-digest / DDSketch blob."""
    return _per_blob_batches(
        blobs, qs, lambda sk, vals: np.asarray(sk.quantile(vals), dtype=float)
    )


@F.arrow_udf(T.DoubleType())
def sketch_rank(blobs: pa.Array, xs: pa.Array) -> pa.Array:
    """Rank (CDF) query against a KLL / t-digest / DDSketch blob."""
    return _per_blob_batches(
        blobs, xs, lambda sk, vals: np.asarray(sk.rank(vals), dtype=float)
    )


@F.arrow_udf(T.LongType())
def mg_estimate(blobs: pa.Array, keys: pa.Array) -> pa.Array:
    """Misra-Gries lower-bound count of key (0 if not tracked)."""
    return _per_blob_batches(blobs, keys, lambda sk, vals: sk.estimate_arrow(vals))


# -- grouped-agg merge ---------------------------------------------------------


@F.arrow_udf(T.BinaryType())
def sketch_merge(blobs: pa.Array) -> bytes | None:
    """Grouped-agg merge of pre-reduced sketch blobs (`GROUP BY` in SQL).

    The group's blobs merge through `build._merge_sorted` in content order,
    so the output bits are a pure function of the group's blob multiset,
    whatever order the reducer receives them in.  Mixed kinds or mismatched
    geometry in one group raise, same as the library merge.  NULL blobs are
    skipped; an all-NULL group yields NULL.

    Scale note: inputs must be PRE-REDUCED sketches (one blob per day /
    partition / host) — grouped-agg UDFs do no map-side combine, so raw-key
    builds belong to operators/build.py, which partial-aggregates before
    the shuffle.
    """
    blobs = blobs.drop_null()
    if not len(blobs):
        return None
    first = serde.deserialize(blobs[0].as_buffer())
    tbl = pa.table({"blob": blobs})
    return _merge_sorted(tbl, ["blob"], {"blob": first.empty_like})["blob"].to_bytes()


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
