"""Skew handling: salted repartitioning (north rule: 'explicit salted
repartitioning to defuse host-skewed partitions').

Web data is host-skewed (Zipf): a handful of hosts dominate row counts, so
hash-partitioning by host sends whole hot hosts to single tasks. Salting
splits each key across `salts` sub-partitions; sketch merges being
associative make the re-combine free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_repartition(
    df: DataFrame, key_col: str, num_partitions: int, salts: int = 8
) -> DataFrame:
    """Repartition by (key, salt) where salt cycles over the row's
    position (monotonically_increasing_id % salts).

    Position-based, NOT a content hash: hashing the row's columns would
    give every byte-identical copy of a hot key the SAME salt — replayed
    events and duplicated pages (the degenerate-skew case salting exists
    to defuse) would still pile into one task.  Position salting splits
    them uniformly, costs nothing per row (no wide-column hashing), and
    stays deterministic GIVEN the source's split layout (a checkpoint
    resume re-reading the same parquet splits reproduces the same
    partition contents; no rand()).

    Checkpointed builds need split-stable input partitioning, so salted
    output only qualifies as their input when its source is a plain
    parquet or Iceberg scan: over any other source the row positions, and
    with them the salts, can move between runs.  Even then a resume that
    has a pending partition re-runs the whole scan, because the shuffle
    needs every input split."""
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salts)).alias("_salt")
    return (
        df.withColumn("_salt", salt)
        .repartition(num_partitions, F.col(key_col), F.col("_salt"))
        .drop("_salt")
    )


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Fan a narrow input out to the cluster before CPU-heavy per-row work.

    A small parquet file arrives as 1 split; shingling/hashing it inline
    would then run on one core no matter the cluster size.  Repartition is
    a no-op (returns df) when the scan already has enough splits — at real
    scale the 128 MB-split scan parallelism is already there and no extra
    shuffle happens."""
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)


def partition_stats(df: DataFrame) -> DataFrame:
    """Rows per partition — the skew diagnostic used in tests/bench."""
    from pyspark.sql.functions import spark_partition_id

    return df.withColumn("_pid", spark_partition_id()).groupBy("_pid").count()


def skew_report(
    df: DataFrame,
    key_col: str,
    num_partitions: int | None = None,
    top: int = 20,
) -> DataFrame:
    """The measuring half of the salting story: per-key load for the `top`
    heaviest keys, plus the salt factor `salted_repartition` needs to defuse
    each one.

    For each hot key: rows, share of the table, and
    suggested_salts = ⌈rows / (total/num_partitions)⌉ — the number of
    sub-partitions that brings the key's heaviest slice back down to one
    average task's worth of rows (computed with integer arithmetic, exact
    at any table size).  A key with suggested_salts == 1 fits a task and
    needs no salting.

    Plan shape at 100 TB: one map-side-combined groupBy over the key, a
    driver-sized scalar for the total, and a TakeOrderedAndProject for the
    top slice — the per-key relation is never collected.  NULL keys are
    excluded: they carry no join/grouping identity, and the library-wide
    null policy routes them around key-equality operators."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("rows"))
        # one shuffle feeds both consumers.  localCheckpoint truncates
        # lineage: on a cluster with executor churn/dynamic allocation,
        # .persist() is the fault-tolerant equivalent (recomputable); the
        # library standardizes on localCheckpoint because the shared
        # relations here are one-shuffle aggregates that are cheap to
        # re-derive by re-running the query on failure
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("rows")).first()[0] or 0
    if total == 0:
        return counts.select(
            key_col,
            "rows",
            F.lit(0.0).alias("share"),
            F.lit(1).cast("long").alias("suggested_salts"),  # schema-stable
        ).limit(0)
    suggested = F.greatest(
        F.lit(1),
        F.expr(f"(rows * {int(num_partitions)} + {int(total)} - 1) DIV {int(total)}"),
    )
    return (
        counts.select(
            key_col,
            "rows",
            F.round(F.col("rows") / F.lit(float(total)), 6).alias("share"),
            suggested.cast("long").alias("suggested_salts"),
        )
        .orderBy(F.col("rows").desc(), F.col(key_col).asc())
        .limit(top)
    )
