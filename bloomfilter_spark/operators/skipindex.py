"""Bloom-sidecar file skipping: point lookups over a partitioned table
that read only the partitions whose Bloom says "maybe".

The lakehouse pattern (Iceberg/Delta bloom columns, Parquet bloom pages)
re-expressed with this library's own sketch: data lands partitioned by
its NATURAL key (ingest day, source, host bucket) but gets probed by a
DIFFERENT key (url, doc id) that partition pruning can't serve.  A
per-partition Bloom over the probe key — a few KB per partition, built
by a grouped sketch pass alongside the write — lets the driver prune
partitions before the scan:

1. `write_partitioned_with_bloom` writes `partitionBy(part_col)` data
   plus a `<path>__bloomidx` sidecar of (part_value, blob) rows;
2. `bloom_skipping_lookup` loads the sidecar (one row per partition —
   driver-tiny at any data scale), probes the wanted keys through each
   blob, and scans ONLY the candidate partitions via an `isin` filter
   that Catalyst turns into real PartitionFilters.

No false negatives (Bloom property), so the lookup is EXACT after the
final key filter; false positives only cost extra partition reads
(≈ fpp per non-matching partition).  At 10^12 docs in daily partitions
the sidecar is ~3 years × a few KB — the driver probe is microseconds
while the pruned scan skips ~everything.

Reference analog: Contains as an index-acceleration primitive
(/root/reference/bloomfilter.go:133-180) — here wired into Spark's
partition-pruning machinery instead of a hand-rolled reader.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from bloomfilter_spark.sketches import serde

_SIDECAR_SUFFIX = "__bloomidx"


def write_partitioned_with_bloom(
    df: DataFrame,
    path: str,
    part_col: str,
    key_col: str,
    fpp: float = 0.01,
) -> int:
    """Write `df` partitioned by `part_col` + the per-partition Bloom
    sidecar over `key_col`.  Returns the number of partitions indexed.

    Sizing: every partition's filter is sized for the LARGEST partition
    (one tiny count aggregate) — oversizing only lowers the FPP, and the
    blobs stay KB-scale.  NULL part values are written by Spark as the
    default partition and indexed like any other group; NULL keys are
    skipped by the build (library-wide sketch policy).
    """
    from bloomfilter_spark.operators.build import (
        bloom_factory,
        build_grouped,
    )

    # materialize the caller's plan ONCE: the write, the max-partition
    # count, and the grouped sketch build all read it — an expensive (or
    # nondeterministic) upstream would otherwise run three times and
    # could make the sidecar disagree with the written files
    df = df.localCheckpoint()
    df.write.mode("overwrite").partitionBy(part_col).parquet(path)
    n_max = (
        df.groupBy(part_col).count().agg(F.max("count")).collect()[0][0]
    )
    sidecar = build_grouped(
        df, part_col, key_col, bloom_factory(max(1, int(n_max or 1)), fpp)
    )
    sidecar.write.mode("overwrite").parquet(path + _SIDECAR_SUFFIX)
    # count from the written KB-scale sidecar — counting the DataFrame
    # would re-run the whole grouped build
    return df.sparkSession.read.parquet(path + _SIDECAR_SUFFIX).count()


def bloom_skipping_lookup(
    spark: SparkSession,
    path: str,
    part_col: str,
    key_col: str,
    keys: list,
) -> tuple[DataFrame, int, int]:
    """Rows whose `key_col` is in `keys`, scanning only Bloom-candidate
    partitions.  Returns (rows_df, n_candidate_partitions, n_partitions).

    Exact: the sidecar has no false negatives and the final `isin` filter
    kills Bloom false positives.
    """
    if not keys:
        raise ValueError("bloom_skipping_lookup needs at least one key")
    side = spark.read.parquet(path + _SIDECAR_SUFFIX).toPandas()
    cands = [
        r[part_col]
        for _, r in side.iterrows()
        if bool(np.any(serde.deserialize(r["blob"]).contains(keys)))
    ]
    data = spark.read.parquet(path)
    # isin on the partition column compiles to PartitionFilters — only
    # candidate directories are listed/read (pytest-pinned).  SQL IN never
    # matches NULL, so the NULL partition (Hive default dir) needs its own
    # isNull branch or its rows would be FALSE NEGATIVES.  EMPTY-STRING
    # partition values take the same branch: Spark writes "" to the Hive
    # default dir too and reads it back as NULL, while the sidecar (built
    # from the DataFrame, not the files) records "" — isin([""]) would
    # never match those rows
    non_null = [
        c for c in cands if c is not None and not pd.isna(c) and c != ""
    ]
    part_pred = F.col(part_col).isin(non_null)
    if len(non_null) != len(cands):
        part_pred = part_pred | F.col(part_col).isNull()
    pruned = data.filter(part_pred).filter(F.col(key_col).isin(keys))
    return pruned, len(cands), len(side)
