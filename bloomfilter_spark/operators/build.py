"""Single-sketch builds, grouped sketches and rollups — the library's UDAF
surface over the one build engine (operators/pipeline.py).

`build_sketch`, `build_sketch_weighted` and `build_sketch_with_deletes` are
one-spec calls of `pipeline.build_multi`: an Arrow fold per partition, zstd
partials, a deterministic bounded-fan-in merge tree and a driver merge
(SURVEY.md §3.4 lifecycle: partial build → associative merge → finalize).
A weighted build is a spec with a weight column; a counting-Bloom build
with deletes is the same spec over a signed-delta stream.

Grouped sketches (`build_grouped`) fold one sketch per key with a
groupBy/applyInArrow through the engine's own fold
(`pipeline._fold_partition`), so a grouped sketch consumes its column by
the same rule as a global build.  The rollups merge those per-key blobs
into coarser groups, trailing windows, or one sketch (`rollup_grouped`,
which reduces through the engine's merge tree).  Every merge in the
library — group merges, merge-tree rounds, the driver step, the checkpoint
merge — is `_merge_sorted`: blobs in a canonical sorted order.

All hashing/bit-setting is vectorized numpy inside the UDF; no per-row
Python anywhere (input_hint, BASELINE.json:15).
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLLSketch
from bloomfilter_spark.sketches.ddsketch import DDSketch
from bloomfilter_spark.sketches.tdigest import TDigest
from bloomfilter_spark.sketches.theta import ThetaSketch

# max partial blobs any single merge task (or the driver) holds at once
DEFAULT_FANIN = 64


def _merge_sorted(
    tbl: pa.Table,
    order: list[str],
    factories: dict[str, Callable[[], object]],
    load: Callable | None = None,
) -> dict[str, object]:
    """The library's one merge rule: merge each blob column named in
    `factories` into a fresh sketch, taking rows in canonical `order`.
    Shuffle fetch order varies run to run, so the merge order of a
    compaction sketch must come from the data.  `load(blob, name=column)`
    opens one blob (`pipeline._unpack` for packed partials); None opens a
    plain serde blob.

    The blobs are walked lazily in sort-index order, never copied into a
    sorted table or a list.  Kinds with merge_all take the whole multiset
    at once (their result is a pure function of it, and their blobs are
    KB-sized); every other kind merges and drops one blob at a time, so a
    giant Bloom merge holds 2 sketches, not one per row."""
    idx = pc.sort_indices(
        tbl, sort_keys=[(c, "ascending") for c in order]
    ).to_pylist()
    out = {}
    for name, make in factories.items():
        col = tbl.column(name)
        open_ = serde.deserialize if load is None else partial(load, name=name)
        acc = out[name] = make()
        if hasattr(acc, "merge_all"):
            acc.merge_all([open_(col[i].as_buffer()) for i in idx])
        else:
            for i in idx:
                acc.merge(open_(col[i].as_buffer()))
    return out


def build_sketch(df: DataFrame, col: str, factory: Callable[[], object]):
    """Build one sketch over `col`: `build_multi` with a single spec.
    Returns the merged sketch object."""
    from bloomfilter_spark.operators.pipeline import build_multi

    return build_multi(df, {"sketch": (col, factory)})["sketch"]


def build_sketch_with_deletes(
    inserts_df: DataFrame,
    deletes_df: DataFrame,
    key_col: str,
    factory: Callable[[], object],
):
    """Distributed counting-Bloom build with deletes (the one operation the
    plain bitset can never do).  Inserts and deletes are unioned into one
    signed-delta stream and folded as a weighted spec, so a delete needs NO
    co-location with its insert: a partition folding only the delete emits
    a legal negative delta partial, and the commutative counter-sum merge
    restores non-negativity globally (deletes ⊆ inserts contract;
    violations surface as negative_cells() > 0 on the merged filter)."""
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.pipeline import build_multi

    def signed(df: DataFrame, delta: int) -> DataFrame:
        return df.select(F.col(key_col).alias("__key"), F.lit(delta).alias("__delta"))

    stream = signed(inserts_df, 1).unionAll(signed(deletes_df, -1))
    return build_multi(stream, {"sketch": ("__key", factory, "__delta")})["sketch"]


def build_sketch_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    factory: Callable[[], object],
):
    """Weighted distributed build (CMS): each key row adds `weight_col`
    instead of 1; a null weight adds nothing.  The sketch rejects negative
    and non-integer weights."""
    from bloomfilter_spark.operators.pipeline import build_multi

    return build_multi(df, {"sketch": (key_col, factory, weight_col)})["sketch"]


# ---------------------------------------------------------------------------
# Grouped sketches: one sketch per key, with optional salting for skew
# ---------------------------------------------------------------------------


def build_grouped(
    df: DataFrame,
    key_cols: list[str] | str,
    value_col: str,
    factory: Callable[[], object],
    salts: int = 0,
) -> DataFrame:
    """Per-key sketch blobs: (key..., blob, rows).

    salts=0: single groupBy(key).applyInArrow — one shuffle on key.
    salts=s>0 (skew defense, north rule): two-stage aggregation —
      stage 1 groups by (key, hash(value) % s) so a hot key fans out over s
      tasks building partial sketches; stage 2 merges the ≤s partials per
      key. This is map-side-combine semantics expressed as sketches, the
      salted-repartition pattern the north rule names.

    Sizing salts: a stage-1 task holds ONE (key, salt) cell's values
    (~hot_key_rows/salts × 8 B for numerics), so pick salts ≥
    hot_key_rows / 10^7 to keep the hottest cell under ~100 MB — e.g. a
    10^9-row host needs salts≈128.  Cold keys are unaffected (their s
    partials are tiny).  Commutative sketches give bit-identical results
    for ANY salts value; compaction sketches are bit-identical run-to-run
    for a FIXED salts (the value is part of the canonical merge schedule).

    Determinism: shuffle FETCH order is not stable across runs, so both the
    rows inside a group and the ≤s partials per key can arrive in any
    order.  Commutative sketches (Bloom/HLL/CMS) don't care; the compaction
    sketches (KLL/t-digest) do.  We canonicalize both: group values are
    sorted before the fold, and salted partials carry their `_salt` and are
    merged in salt order — so a grouped build is a pure function of each
    group's value multiset, run-to-run and schedule-to-schedule.
    """
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.pipeline import _fold_partition

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_schema_src = df.select(*key_cols).schema
    key_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in key_schema_src)
    out_schema = f"{key_ddl}, blob binary, rows long"
    partial_schema = f"{key_ddl}, `_salt` bigint, blob binary, rows long"

    def build_group(tbl: pa.Table, head: list[str]) -> pa.Table:
        # the sorted values as ONE batch: one fold call per group, so a
        # compaction sketch sees the same single update whatever the
        # shuffle's chunking
        vals = tbl.column(value_col)
        rb = pa.record_batch(
            [vals.take(pc.sort_indices(vals)).combine_chunks()], names=[value_col]
        )
        sk = factory()
        _fold_partition([rb], {"s": sk}, {"s": value_col}, {})
        out = {c: tbl.column(c).slice(0, 1) for c in head}
        out["blob"] = [sk.to_bytes()]
        out["rows"] = [tbl.num_rows]
        return pa.table(out)

    if salts <= 1:
        return (
            df.select(*key_cols, value_col)
            .groupBy(*key_cols)
            .applyInArrow(lambda t: build_group(t, key_cols), schema=out_schema)
        )

    salted = df.select(*key_cols, value_col).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(salts))
    )
    partials = salted.groupBy(*key_cols, "_salt").applyInArrow(
        lambda t: build_group(t, [*key_cols, "_salt"]), schema=partial_schema
    )

    def merge_group(tbl: pa.Table) -> pa.Table:
        out = {c: tbl.column(c).slice(0, 1) for c in key_cols}
        merged = _merge_sorted(tbl, ["_salt"], {"blob": factory})["blob"]
        out["blob"] = [merged.to_bytes()]
        out["rows"] = [pc.sum(tbl.column("rows")).as_py()]
        return pa.table(out)

    return partials.groupBy(*key_cols).applyInArrow(merge_group, schema=out_schema)


def rollup_grouped(
    grouped_blobs: DataFrame,
    key_cols: list[str] | str,
    factory: Callable[[], object],
    n_buckets: int = 1024,
    fanin: int = DEFAULT_FANIN,
):
    """Roll the per-key blobs of build_grouped up into ONE merged sketch —
    the finer aggregate answers the coarser query without rescanning the
    base table (hypertable-rollup payoff) — WITHOUT collecting the per-group
    blobs to the driver (a per-host key at 10^12 docs is ~10^8 groups).

    Stage 1 buckets groups by pmod(xxhash64(key), n_buckets) and merges each
    bucket's blobs in canonical (key_str, blob) order; stage 2 reduces the
    bucket sketches through the build engine's deterministic bounded-fan-in
    tree (pipeline._merge_tree, fixed `fanin`), with bucket id as the
    ordering key.  Every stage's
    grouping and ordering is a pure function of the group keys, so the
    rollup is a pure function of the {(key, blob)} set + (n_buckets, fanin):
    bit-identical run-to-run regardless of scheduling.  For commutative
    sketches (Bloom/HLL/CMS) it is additionally bit-identical to a direct
    global build; compaction sketches (KLL/t-digest) follow the canonical
    tree semantic (see operators/pipeline.py) and honor their rank-error
    bound.

    Sizing n_buckets: a stage-1 task holds ONE bucket's blobs in memory
    (~n_groups/n_buckets × blob bytes), so pick n_buckets ≥ n_groups ×
    blob_kb / 100_000 to keep a bucket under ~100 MB — the 1024 default
    covers ~10^7 KB-sized groups; a 10^8-group per-host rollup should pass
    n_buckets≈16384.  Empty buckets cost nothing; oversizing only adds a
    cheap extra tree round, so round up.
    """
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.pipeline import (
        _merge_tree,
        _partial_row,
        _row_schema,
    )

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    bucketed = grouped_blobs.select(
        key_str.alias("__key_str"), "blob"
    ).withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col("__key_str")), F.lit(n_buckets))
    )

    def merge_bucket(tbl: pa.Table) -> pa.Table:
        # (key_str, blob) order fully canonicalizes even hash-equal keys
        merged = _merge_sorted(tbl, ["__key_str", "blob"], {"blob": factory})
        bucket = tbl.column("__bucket")[0].as_py()
        row = _partial_row(bucket, {"sketch": merged["blob"]}, tbl.num_rows)
        return pa.Table.from_batches([row])

    partials = bucketed.groupBy("__bucket").applyInArrow(
        merge_bucket, schema=_row_schema(["sketch"])
    )
    par = grouped_blobs.sparkSession.sparkContext.defaultParallelism
    return _merge_tree(partials, {"sketch": factory}, n_buckets, fanin, par)["sketch"]


def rollup_regroup(
    grouped_blobs: DataFrame,
    fine_key_cols: list[str] | str,
    coarse_col: str,
    factory: Callable[[], object],
) -> DataFrame:
    """Merge fine-group sketch blobs into COARSER groups (day → week,
    host → domain, shard → tenant) in ONE applyInArrow pass — the
    hierarchy rollup that `rollup_grouped` (all groups → one sketch)
    doesn't cover.

    Per coarse group, blobs merge in canonical (fine_key_str, blob) order
    — a pure function of the data, bit-deterministic under any
    scheduling.  Task memory holds one coarse group's blobs (hierarchy
    fan-ins are small: 7 days/week, ~10² hosts/domain); a pathological
    fan-in belongs in `rollup_grouped`'s bucketed tree instead.

    Returns (coarse_col, blob) — feed `grouped_estimates` or roll up
    again for the next hierarchy level.
    """
    from pyspark.sql import functions as F

    if isinstance(fine_key_cols, str):
        fine_key_cols = [fine_key_cols]
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in fine_key_cols]
    )
    coarse_type = dict(grouped_blobs.dtypes)[coarse_col]
    src = grouped_blobs.select(
        F.col(coarse_col), key_str.alias("__fine"), "blob"
    )

    def merge(tbl: pa.Table) -> pa.Table:
        merged = _merge_sorted(tbl, ["__fine", "blob"], {"blob": factory})["blob"]
        return pa.table(
            {
                coarse_col: tbl.column(coarse_col).slice(0, 1),
                "blob": [merged.to_bytes()],
            }
        )

    return src.groupBy(coarse_col).applyInArrow(
        merge, schema=f"`{coarse_col}` {coarse_type}, blob binary"
    )


def rollup_sliding(
    grouped_blobs: DataFrame,
    unit_col: str,
    window: int,
    factory: Callable[[], object],
) -> DataFrame:
    """TRAILING-window merge of per-unit sketch blobs: for each unit u,
    merge the blobs of units (u−window+1 .. u) — the WAU/MAU shape
    (trailing 7-day distinct users, 30-day heavy hitters) that tumbling
    `rollup_regroup` can't express because its windows overlap.

    This is the payoff of mergeable sketches: the trailing answer for
    EVERY unit comes from re-merging the tiny per-unit blobs (window × a
    few KB each — sparse HLL blobs are bytes), never from re-scanning
    the raw events.  Plan: each blob fans out to the `window` trailing
    units it participates in (an explode over a literal offset range —
    shuffle volume is window × the blob relation, independent of the
    event count), then the same canonical-order merge as rollup_regroup.
    Units with no blob of their own still get no row (a silent day
    reports through its neighbors' windows, not as its own unit), which
    mirrors the GROUP BY of the SQL replay.

    `unit_col` must be an integer period index (day/hour number).
    Returns (unit_col, n_units, blob): n_units = how many source units
    actually fed the window — window heads cover fewer (warm-up); filter
    on it if only complete windows are wanted.
    """
    from pyspark.sql import functions as F

    if window < 1:
        # F.sequence(u, u-1) would silently generate a DESCENDING range,
        # attributing blobs to earlier units instead of erroring
        raise ValueError(f"rollup_sliding: window must be >= 1, got {window}")
    # NULL units are dropped EXPLICITLY (a null endpoint makes F.sequence
    # null and the explode silently emits nothing — the blob would vanish
    # from every window with no trace); a unit-less blob has no place on
    # the time axis, same skip-NULL-keys policy as the sketch builds
    src = grouped_blobs.filter(F.col(unit_col).isNotNull()).select(
        F.col(unit_col).cast("long").alias("__u"), "blob"
    )
    fanned = src.select(
        F.explode(
            F.sequence(F.col("__u"), F.col("__u") + F.lit(int(window) - 1))
        ).alias("__target"),
        F.col("__u").alias("__fine"),
        "blob",
    )
    # a trailing window is only reported for units that exist themselves
    units = src.select(F.col("__u").alias("__target")).distinct()
    fanned = fanned.join(units, "__target")

    def merge(tbl: pa.Table) -> pa.Table:
        merged = _merge_sorted(tbl, ["__fine", "blob"], {"blob": factory})["blob"]
        return pa.table(
            {
                "__target": tbl.column("__target").slice(0, 1),
                "n_units": [pc.count_distinct(tbl.column("__fine")).as_py()],
                "blob": [merged.to_bytes()],
            }
        )

    return (
        fanned.groupBy("__target")
        .applyInArrow(merge, schema="__target long, n_units long, blob binary")
        .withColumnRenamed("__target", unit_col)
    )


def grouped_estimates(grouped_blobs: DataFrame, finalize: str = "estimate") -> DataFrame:
    """Map per-key blobs to per-key scalar estimates:
    finalize ∈ {estimate (HLL), popcount/estimated_fpp (Bloom), ...}."""
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.DoubleType())
    def _finalize(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: float(getattr(serde.deserialize(b), finalize)()))

    return grouped_blobs.withColumn(finalize, _finalize("blob"))


# convenient factories ---------------------------------------------------------


def bloom_factory(n: int, p: float = 0.01, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    # validate + size ONCE on the driver, but capture only the scalars:
    # a prototype filter in the closure would pickle its full zero words
    # array into every executor's task binary (1.2 GB at n=1e9)
    proto = BloomFilter.create(n, p, seed=s)
    m, k = proto.m, proto.k
    return lambda: BloomFilter(m, k, s)


def cbf_factory(n: int, p: float = 0.01, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED
    from bloomfilter_spark.sketches.cbf import CountingBloomFilter

    s = DEFAULT_SEED if seed is None else seed
    proto = CountingBloomFilter.create(n, p, seed=s)
    m, k = proto.m, proto.k
    return lambda: CountingBloomFilter(m, k, s)  # scalars only (see above)


def hll_factory(precision: int = 14, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    return lambda: HyperLogLog(p=precision, seed=s)


def cms_factory(epsilon: float = 0.0005, delta: float = 0.001, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    proto = CountMinSketch.create(epsilon, delta, seed=s)
    depth, width = proto.depth, proto.width
    return lambda: CountMinSketch(depth, width, s)  # scalars only (see above)


def kll_factory(k: int = 200):
    return lambda: KLLSketch(k=k)


def freqitems_factory(capacity: int = 4096):
    return lambda: FrequentItemsSketch(capacity)


def theta_factory(k: int = 16384, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    return lambda: ThetaSketch(k, seed=s)


def tdigest_factory(delta: int = 200):
    return lambda: TDigest(delta=delta)


def dds_factory(alpha: float = 0.01):
    return lambda: DDSketch(alpha=alpha)
