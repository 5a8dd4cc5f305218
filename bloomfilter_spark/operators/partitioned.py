"""Partitioned (sharded) Bloom filter — membership at 10¹²-key scale.

A 1%-FPP filter for 10⁹ keys is ~1.2 GB; for 10¹² keys, ~1.2 TB — far past
broadcast limits (SURVEY.md §7.2, and the reference's own removed map-mode
scaling concern, /root/reference/docs/future/FUTURE_PAGED_ARRAY_OPTIMIZATION.md:137-145).
The Spark-native answer is sharding by key hash:

- build: rows route to `shard = xxhash64(key) % n_shards`; one Bloom per
  shard, folded from the JVM-cast key strings by the build engine's fold
  (`pipeline._fold_partition`) in a groupBy(shard).applyInArrow task (each
  shard sized for its expected n/n_shards keys).  The shard table
  (shard, blob) lives as a DataFrame — persist it as parquet and it
  doubles as the filter's durable serialized form.
- probe: probes route by the same hash, then a **cogrouped**
  applyInPandas pairs each shard's probe rows with that shard's single
  blob row — the blob crosses the wire once per shard, never per row.

Both sides shuffle only by the 8-byte hash key; no blob is ever broadcast
or joined row-wise.  FPP/zero-false-negative semantics are identical to the
single filter (each key is answered by exactly the shard that inserted it).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter


_SHARD_COL = "__bf_shard"  # internal names — never collide with user columns
_KEY_COL = "__bf_key_str"


def _with_shard(df: DataFrame, col: str, n_shards: int) -> DataFrame:
    """Adds the shard id AND the canonical key string.

    The insert/probe identity is the JVM `CAST(key AS STRING)` rendering,
    computed ONCE here (Catalyst-side) and carried to the Python workers:
    build and probe batches therefore always see byte-identical key forms.
    Rendering in pandas instead (astype(str)) breaks the zero-FN contract
    for integer keys — an int64 partition that happens to contain a null
    arrives as float64 and renders '123.0' while a null-free probe batch
    renders '123'.  NULL keys keep a NULL rendering (cast preserves null);
    they carry no identity — dropped at build, definitely-absent at probe."""
    key_str = F.col(col).cast("string")
    return df.withColumn(_KEY_COL, key_str).withColumn(
        _SHARD_COL, F.pmod(F.xxhash64(key_str), F.lit(n_shards))
    )


def _build_shards(
    keyed: DataFrame,
    head: dict[str, str],
    make_filter: Callable[[int], BloomFilter],
    n_shards: int,
) -> DataFrame:
    """One Bloom per group of `keyed` (grouped by `head`'s source columns),
    folded from `_KEY_COL` by the build engine's fold.  `head` maps output
    column -> source column; `make_filter(n)` sizes a shard's filter from
    its non-null key count.  Rows: (*head, blob, n_keys, n_shards)."""
    from bloomfilter_spark.operators.pipeline import _fold_partition

    def build_shard(tbl: pa.Table) -> pa.Table:
        keys = tbl.column(_KEY_COL)
        n_keys = len(keys) - keys.null_count
        sk = make_filter(n_keys)
        _fold_partition(
            tbl.select([_KEY_COL]).to_batches(), {"s": sk}, {"s": _KEY_COL}, {}
        )
        out = {c: tbl.column(src).slice(0, 1) for c, src in head.items()}
        out.update(blob=[sk.to_bytes()], n_keys=[n_keys], n_shards=[n_shards])
        return pa.table(out)

    types = dict(keyed.dtypes)
    head_ddl = ", ".join(f"`{c}` {types[src]}" for c, src in head.items())
    return keyed.groupBy(*head.values()).applyInArrow(
        build_shard,
        schema=f"{head_ddl}, blob binary, n_keys long, n_shards long",
    )


def bloom_build_sharded(
    df: DataFrame,
    col: str,
    n_expected: int,
    fpp: float = 0.01,
    n_shards: int = 32,
    seed: int | None = None,
) -> DataFrame:
    """(shard, blob, n_keys) — one Bloom per shard, sized n_expected/n_shards."""
    from bloomfilter_spark.operators.build import bloom_factory

    new_filter = bloom_factory(max(1024, n_expected // n_shards), fpp, seed)
    return _build_shards(
        _with_shard(df.select(col), col, n_shards),
        {"shard": _SHARD_COL},
        lambda n_keys: new_filter(),
        n_shards,
    )


def _resolve_n_shards(shards: DataFrame, n_shards: int | None) -> int:
    """Routing modulus for a probe.  When the caller passes n_shards the
    value is validated LAZILY per task against the blob rows' recorded
    n_shards (see _make_check) — an eager .first() here would execute the
    whole (possibly uncached) build lineage once just to read one field,
    doubling build cost at 10M-key scale.  Only when n_shards is omitted
    do we pay that job to learn it."""
    if n_shards is not None:
        return n_shards
    head = shards.select("n_shards").first()
    if head is None:
        # empty shard table (filter built from an empty DataFrame): the
        # correct answer is "all probes absent", but routing needs a modulus
        raise ValueError(
            "shard table is empty; pass n_shards explicitly to probe "
            "(every probe will come back might_contain=False)"
        )
    return int(head["n_shards"])


def _make_check(col: str, n_shards: int):
    """Cogrouped probe function shared by the flat and grouped layouts:
    pairs one shard's probe rows with that shard's single blob row.
    Routing with the wrong modulus silently produces false negatives, so a
    blob row whose recorded n_shards disagrees is a hard error."""

    def check(probe_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        keys = probe_pdf[_KEY_COL]
        probe_pdf = probe_pdf.drop(columns=[_SHARD_COL, _KEY_COL])
        if len(probe_pdf) == 0:
            probe_pdf["might_contain"] = pd.Series([], dtype=bool)
            return probe_pdf
        if len(blob_pdf) == 0:
            # no keys were inserted into this shard → definitely absent
            probe_pdf["might_contain"] = False
            return probe_pdf
        if len(blob_pdf) > 1:
            # e.g. two build outputs unioned: probing only one blob would
            # silently return false negatives — same hard-error rationale
            # as the modulus check below (merge the filters first)
            raise ValueError(
                f"shard {int(blob_pdf[_SHARD_COL].iloc[0])} has "
                f"{len(blob_pdf)} blob rows; a probe answers against ONE "
                "filter per shard — union the builds via BloomFilter.union "
                "before probing"
            )
        built_with = int(blob_pdf["n_shards"].iloc[0])
        if built_with != n_shards:
            raise ValueError(
                f"shard table was built with n_shards={built_with}, "
                f"got n_shards={n_shards}: probes would route to wrong shards"
            )
        sk = serde.deserialize(blob_pdf["blob"].iloc[0])
        null_mask = keys.isna().to_numpy()
        res = sk.contains(keys.fillna(""))
        res[null_mask] = False  # NULL carries no identity: never inserted
        probe_pdf["might_contain"] = res
        return probe_pdf

    return check


def _probe_schema(probe_df: DataFrame) -> str:
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in probe_df.schema
    )
    return f"{out_fields}, might_contain boolean"


def sharded_might_contain(
    probe_df: DataFrame,
    col: str,
    shards: DataFrame,
    n_shards: int | None = None,
) -> DataFrame:
    """probe_df + boolean `might_contain`, via cogrouped applyInPandas.

    Each task sees (probes of shard s, the single blob row of shard s):
    the filter bytes move once per shard, the probes shuffle once by hash.
    n_shards defaults to what the shard table records (one lookup job);
    passing it explicitly skips that job and is validated per task."""
    n_shards = _resolve_n_shards(shards, n_shards)
    probes = _with_shard(probe_df, col, n_shards)
    return (
        probes.groupby(_SHARD_COL)
        .cogroup(
            shards.withColumnRenamed("shard", _SHARD_COL).groupby(_SHARD_COL)
        )
        .applyInPandas(_make_check(col, n_shards), schema=_probe_schema(probe_df))
    )


# ---------------------------------------------------------------------------
# Grouped + sharded: one sharded filter per tenant (the 10¹²-key ×
# multi-tenant layout — per-lang / per-customer filters, each itself sharded
# so one hot tenant never exceeds a single task's memory)
# ---------------------------------------------------------------------------


def bloom_build_sharded_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    fpp: float = 0.01,
    n_shards: int = 8,
    seed: int | None = None,
) -> DataFrame:
    """(group, shard, blob, n_keys, n_shards) — one Bloom per
    (tenant, hash-shard).  Rows route by (group, pmod(xxhash64(key),
    n_shards)); each shard filter is sized from ITS OWN row count at build
    time (the group sizes are wildly skewed in a multi-tenant table, so a
    global n/shards sizing would over-allocate cold tenants and blow the
    FPP of hot ones).  Exactly-one-builder-per-key semantics are unchanged
    from the flat sharded filter, so zero false negatives and per-shard
    FPP ≤ configured hold per tenant."""
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    return _build_shards(
        _with_shard(df.select(group_col, col), col, n_shards),
        {"group": group_col, "shard": _SHARD_COL},
        lambda n_keys: BloomFilter.create(max(1024, n_keys), fpp, seed=s),
        n_shards,
    )


def sharded_grouped_might_contain(
    probe_df: DataFrame,
    group_col: str,
    col: str,
    shards: DataFrame,
    n_shards: int | None = None,
) -> DataFrame:
    """probe_df + boolean `might_contain`, routed by (group, key-hash).

    Cogrouped applyInPandas on the composite (group, shard) key: each task
    pairs one tenant-shard's probes with that tenant-shard's single blob
    row.  A probe for a tenant with no filter (or an empty shard) is
    definitely absent."""
    n_shards = _resolve_n_shards(shards, n_shards)
    probes = _with_shard(probe_df, col, n_shards)
    return (
        probes.groupby(group_col, _SHARD_COL)
        .cogroup(
            shards.withColumnRenamed("shard", _SHARD_COL)
            .withColumnRenamed("group", group_col)
            .groupby(group_col, _SHARD_COL)
        )
        .applyInPandas(_make_check(col, n_shards), schema=_probe_schema(probe_df))
    )
