"""Distributed membership queries — the reference's Contains* family
(/root/reference/bloomfilter.go:133-180) as a broadcast sketch + vectorized
Arrow UDF.

This is the sketch analog of a broadcast semi-join: build on one side,
`might_contain` on the other — the same pattern Catalyst's own runtime
bloom-filter join rewrite uses. False positives are possible (prune with an
exact join afterwards when exactness is needed); false negatives are not.

`_answer_non_null` is the library's one NULL rule for every sketch probe
(these UDFs, the sharded probe, the SQL functions, `grouped_estimates`).
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, functions as F, types as T

from bloomfilter_spark.sketches import serde

# Executor-side deserialization cache: one sketch instance per broadcast
# blob per python worker (the UDF would otherwise deserialize per batch).
# Bounded: long-lived reused workers probe many different sketches over a
# session; an unbounded dict would pin every blob ever seen.
_SKETCH_CACHE_MAX = 4
_SKETCH_CACHE: dict[int, tuple] = {}


def _cached_sketch(blob: bytes):
    entry = _SKETCH_CACHE.get(id(blob))
    if entry is None or entry[0] is not blob:
        if len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX:
            _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        entry = (blob, serde.deserialize(blob))
        _SKETCH_CACHE[id(blob)] = entry
    return entry[1]


def _answer_non_null(fn, *cols: pa.Array, fill=None) -> pa.Array:
    """The library's one NULL rule for sketch probes: `fn(*cols)` answers
    only the rows where every column is non-null, and every other row gets
    `fill` (None = SQL NULL).  A NULL key was never inserted (builds skip
    it), so a membership probe answers False and a count answers 0; a NULL
    blob holds no sketch.  Probing only the non-null rows also keeps an int
    batch with nulls on the integer hash path."""
    if not any(c.null_count for c in cols):
        return pa.array(fn(*cols))
    valid = reduce(pc.and_, [c.is_valid() for c in cols])
    out = pa.repeat(pa.scalar(fill), len(valid))
    if not valid.true_count:
        return out
    answers = pa.array(fn(*(c.filter(valid) for c in cols)))
    return pc.replace_with_mask(out.cast(answers.type), valid, answers)


def might_contain_udf(spark, sketch) -> "callable":
    """Returns a Column-producing function: f(col) -> BooleanType Column.

    The sketch is broadcast once; each python worker deserializes once and
    answers whole Arrow batches vectorized.  A NULL key answers False."""
    bc = spark.sparkContext.broadcast(sketch.to_bytes())

    @F.arrow_udf(T.BooleanType())
    def _might_contain(keys: pa.Array) -> pa.Array:
        return _answer_non_null(_cached_sketch(bc.value).contains, keys, fill=False)

    return _might_contain


def filter_might_contain(df: DataFrame, col: str | Column, sketch) -> DataFrame:
    """Keep rows whose `col` is probably in the sketch (no false negatives)."""
    spark = df.sparkSession
    udf = might_contain_udf(spark, sketch)
    return df.filter(udf(F.col(col) if isinstance(col, str) else col))


def _bloom_factory_for(layout: str, n: int, fpp: float):
    """flat = the reference's exact position semantics; blocked = the
    cache-line-blocked layout (sketches/blocked.py) — one DRAM line/TLB
    entry per probe on giant filters, at ~1.2x FPP inflation.  Choose
    blocked when the filter is sized far past LLC (>= hundreds of MB)."""
    if layout == "flat":
        from bloomfilter_spark.operators.build import bloom_factory

        return bloom_factory(n, fpp)
    if layout == "blocked":
        from bloomfilter_spark.sketches.blocked import blocked_bloom_factory

        return blocked_bloom_factory(n, fpp)
    raise ValueError(f"layout must be flat|blocked, got {layout!r}")


def bloom_semi_join(
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    n_expected: int | None = None,
    fpp: float = 0.01,
    exact: bool = True,
    layout: str = "flat",
) -> DataFrame:
    """Semi-join accelerated by a Bloom pre-filter.

    Build a Bloom over build_df[build_col], pre-filter probe_df with the
    broadcast sketch (cheap, vectorized, no shuffle of the probe side), then
    optionally finish with an exact left-semi join to drop false positives.

    At 100TB scale this is the payoff operator: the exact semi-join only
    shuffles the ≤(match + fpp) fraction of the probe side that survives the
    sketch, instead of the full table.

    Sizing: pass n_expected whenever build_df is a FILTERED relation —
    the default count() of a filtered scan is a real extra pass over the
    build side (on unfiltered parquet it's metadata-only and cheap).  An
    UPPER bound is always safe: an oversized filter costs memory but only
    lowers the FPP, so the unfiltered table's metadata row count is the
    recommended zero-scan default.
    """
    from bloomfilter_spark.operators.build import build_sketch

    if n_expected is None:
        n_expected = max(1, build_df.count())
    factory = _bloom_factory_for(layout, n_expected, fpp)
    sketch = build_sketch(build_df, build_col, factory)
    pre = filter_might_contain(probe_df, probe_col, sketch)
    if not exact:
        return pre
    # no .distinct() on the build side: left-semi dedups by construction,
    # and the distinct would add an extra exchange+aggregate.
    # The build side is aliased to a reserved name: an unqualified
    # F.col(build_col) is AMBIGUOUS_REFERENCE when probe_col == build_col
    # (the common same-named-key case).
    return pre.join(
        build_df.select(F.col(build_col).alias("__build_key")),
        on=pre[probe_col] == F.col("__build_key"),
        how="left_semi",
    )


def bloom_anti_join(
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    n_expected: int | None = None,
    fpp: float = 0.01,
    counter_filter: bool = False,
    layout: str = "flat",
) -> DataFrame:
    """Probe rows whose `probe_col` value does NOT appear in
    build_df[build_col] — the incremental-dedup shape ("drop documents
    already in the existing corpus") — EXACT, with Bloom filters pruning
    both shuffle sides.

    Plan: rows the broadcast sketch rejects are definitely novel (no false
    negatives) and never shuffle; only the ≤(match + fpp) candidate
    fraction reaches an exact left-anti join that kills false positives.
    The probe side is scanned twice (both scans map-only, no shuffle) —
    at scale, persist upstream if the input is not a cheap parquet scan.

    counter_filter=True additionally builds a Bloom over the CANDIDATES
    and pre-filters the build side map-side before the exact join, so
    build rows that cannot match never shuffle either — worth it when the
    build side is corpus-sized, not a small reference list.  It costs one
    extra candidate count + scan; candidates ≈ dups + fpp·|probe|.

    NULL keys follow anti-join semantics: a NULL-keyed probe row matches
    nothing and is always kept (routed around the sketch, which cannot
    hash NULL); NULL build keys are ignored.

    layout="blocked" swaps in the cache-line-blocked filter — the right
    choice when n_expected puts the filter far past LLC (a 10^9-key corpus
    filter is 1.2 GB): probes cost one DRAM line instead of k, and the
    ~1.2x FPP inflation only grows the candidate fraction the exact join
    kills anyway — the result is identical.
    """
    from bloomfilter_spark.operators.build import build_sketch

    pkey = F.col(probe_col)
    null_probe = probe_df.filter(pkey.isNull())
    probe_nn = probe_df.filter(pkey.isNotNull())
    # reserved alias: keeps the exact-join condition unambiguous when
    # probe_col == build_col (same-named-key case)
    build_nn = (
        build_df.select(F.col(build_col).alias("__build_key"))
        .filter(F.col("__build_key").isNotNull())
    )

    if n_expected is None:
        n_expected = build_nn.count()
    n_expected = max(1, n_expected)
    sketch = build_sketch(
        build_nn, "__build_key", _bloom_factory_for(layout, n_expected, fpp)
    )
    pred = might_contain_udf(probe_df.sparkSession, sketch)  # one broadcast
    clean = probe_nn.filter(~pred(pkey))
    cand = probe_nn.filter(pred(pkey))

    build_side = build_nn
    if counter_filter:
        n_cand = max(1, cand.count())
        # candidate set ≈ dups + fpp·|probe| — small, so the flat layout's
        # tighter FPP wins here regardless of the main filter's layout
        cand_sketch = build_sketch(
            cand, probe_col, _bloom_factory_for("flat", n_cand, fpp)
        )
        build_side = filter_might_contain(build_side, "__build_key", cand_sketch)
    survivors = cand.join(
        build_side, on=cand[probe_col] == F.col("__build_key"), how="left_anti"
    )
    return clean.unionByName(survivors).unionByName(null_probe)


def query_counts_udf(spark, cms) -> "callable":
    """Count-min point-query as a vectorized UDF: f(col) -> LongType Column.
    A NULL key was never inserted, so it counts 0."""
    bc = spark.sparkContext.broadcast(cms.to_bytes())

    @F.arrow_udf(T.LongType())
    def _query(keys: pa.Array) -> pa.Array:
        return _answer_non_null(_cached_sketch(bc.value).query, keys, fill=0)

    return _query
