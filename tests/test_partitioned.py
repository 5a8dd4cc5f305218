"""Sharded Bloom filter tests: same membership contract as the broadcast
filter (zero false negatives, FPP ≤ 2× configured) without ever broadcasting
or row-joining a blob."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bloomfilter_spark.operators.partitioned import (
    bloom_build_sharded,
    sharded_might_contain,
)


@pytest.fixture(scope="module")
def keys(spark):
    return spark.range(20_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
        (F.col("id") % 2 == 0).alias("inserted"),
    )


def test_sharded_membership_contract(spark, keys):
    inserted = keys.filter("inserted")
    shards = bloom_build_sharded(inserted, "k", n_expected=10_000, fpp=0.01,
                                 n_shards=16)
    spdf = shards.toPandas()
    assert len(spdf) <= 16 and spdf.n_keys.sum() == 10_000

    checked = sharded_might_contain(keys, "k", shards, n_shards=16).toPandas()
    assert len(checked) == 20_000
    ins = checked[checked.inserted]
    neg = checked[~checked.inserted]
    assert ins.might_contain.all()  # zero false negatives
    assert (neg.might_contain.mean()) <= 2 * 0.01  # FPP ≤ 2× configured


def test_sharded_empty_shard_answers_false(spark):
    # only 3 keys → most of the 8 shards have no blob row at all
    few = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    shards = bloom_build_sharded(few, "k", n_expected=3, n_shards=8)
    probes = spark.createDataFrame(
        [(f"probe-{i}",) for i in range(100)] + [("a",)], "k string"
    )
    got = sharded_might_contain(probes, "k", shards, n_shards=8).toPandas()
    assert bool(got[got.k == "a"].might_contain.iloc[0])
    assert got[got.k != "a"].might_contain.mean() <= 0.05


def test_sharded_matches_broadcast_filter(spark, keys):
    """Differential: sharded answer ≡ per-shard single filters; inserted
    keys always true in both paths."""
    from bloomfilter_spark.operators.build import bloom_factory, build_sketch
    from bloomfilter_spark.operators.membership import might_contain_udf

    inserted = keys.filter("inserted")
    single = build_sketch(inserted, "k", bloom_factory(10_000, 0.01))
    udf = might_contain_udf(spark, single)
    broadcast_hits = (
        keys.withColumn("hit", udf("k")).filter("inserted").filter("NOT hit").count()
    )
    shards = bloom_build_sharded(inserted, "k", n_expected=10_000, n_shards=16)
    sharded_miss = (
        sharded_might_contain(keys, "k", shards, n_shards=16)
        .filter("inserted AND NOT might_contain")
        .count()
    )
    assert broadcast_hits == 0 and sharded_miss == 0


def test_shard_table_parquet_roundtrip(spark, tmp_path):
    """The shard table's documented durable form: persist as parquet,
    reload in a fresh DataFrame, probe — identical answers (the sink/
    source story for sketch state)."""

    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.partitioned import (
        bloom_build_sharded,
        sharded_might_contain,
    )

    keys = spark.range(2000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    )
    shards = bloom_build_sharded(keys, "key", n_expected=2000, fpp=0.01,
                                 n_shards=4)
    path = str(tmp_path / "shards")
    shards.write.parquet(path)
    reloaded = spark.read.parquet(path)

    probes = spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
        (F.col("id") < 2000).alias("inserted"),
    )
    out = sharded_might_contain(probes, "key", reloaded).toPandas()
    assert bool(out[out["inserted"]]["might_contain"].all())  # no false negs
    fp = out[~out["inserted"]]["might_contain"].mean()
    assert fp <= 0.03


def test_grouped_sharded_membership_contract(spark):
    """Multi-tenant layout: per-group sharded filters with skewed tenant
    sizes.  Zero false negatives and FPP ≤ 2× configured must hold PER
    tenant; a tenant absent from the build answers definitely-absent; shard
    filters size from their own key counts (skew-proof sizing)."""
    from bloomfilter_spark.operators.partitioned import (
        bloom_build_sharded_grouped,
        sharded_grouped_might_contain,
    )

    # skewed tenants: t0 has 16k keys, t1 has 2k, t2 has 200
    rows = spark.range(18_200).select(
        F.when(F.col("id") < 16_000, F.lit("t0"))
        .when(F.col("id") < 18_000, F.lit("t1"))
        .otherwise(F.lit("t2"))
        .alias("tenant"),
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
        (F.col("id") % 2 == 0).alias("inserted"),
    )
    inserted = rows.filter("inserted")
    shards = bloom_build_sharded_grouped(
        inserted, "tenant", "k", fpp=0.01, n_shards=4
    )
    spdf = shards.toPandas()
    assert spdf.n_keys.sum() == 9_100
    assert set(spdf["group"]) == {"t0", "t1", "t2"}
    # skew-proof sizing: a t0 shard holds ~2000 keys, a t2 shard ~25 — the
    # t0 blobs must be larger (sized from their own counts, not a global n)
    by_tenant = spdf.groupby("group")["blob"].apply(
        lambda s: max(len(bytes(b)) for b in s)
    )
    assert by_tenant["t0"] > by_tenant["t2"]

    # probes include a tenant that never built a filter
    probes = rows.unionAll(
        spark.range(500).select(
            F.lit("t-unknown").alias("tenant"),
            F.concat(F.lit("key-"), F.col("id")).alias("k"),
            F.lit(False).alias("inserted"),
        )
    )
    checked = sharded_grouped_might_contain(
        probes, "tenant", "k", shards
    ).toPandas()
    assert len(checked) == 18_700
    for t in ("t0", "t1", "t2"):
        sub = checked[checked.tenant == t]
        assert sub[sub.inserted].might_contain.all(), t  # zero FN per tenant
        neg = sub[~sub.inserted]
        assert neg.might_contain.mean() <= 2 * 0.01 + 0.01, t
    unk = checked[checked.tenant == "t-unknown"]
    assert not unk.might_contain.any()  # no filter → definitely absent


def test_sharded_int_keys_with_nulls_no_false_negatives(spark):
    """The zero-FN killer the canonical JVM key rendering fixes: an int64
    build partition that contains a null arrives in pandas as float64, so
    a pandas-side astype(str) would insert '123.0' while null-free probe
    batches render '123'.  Build/probe must agree for every real key, and
    NULL keys carry no identity (never inserted, probe False)."""
    from bloomfilter_spark.operators.partitioned import (
        bloom_build_sharded,
        sharded_might_contain,
    )

    rows = [(i,) for i in range(500)] + [(None,)] * 7
    df = spark.createDataFrame(rows, "key long")
    shards = bloom_build_sharded(df, "key", n_expected=1000, n_shards=4)

    probes = spark.createDataFrame(
        [(i,) for i in range(500)] + [(None,)] * 3 + [(10_000 + i,) for i in range(200)],
        "key long",
    )
    got = sharded_might_contain(probes, "key", shards, n_shards=4).toPandas()
    inserted = got[got.key.notna() & (got.key < 500)]
    assert inserted.might_contain.all(), "false negatives on int keys"
    assert not got[got.key.isna()].might_contain.any(), "null probes must be False"
    absent = got[got.key >= 10_000]
    assert absent.might_contain.mean() <= 0.05


def test_sharded_probe_rejects_multi_blob_shards(spark):
    """Two unioned build outputs would silently answer against one blob
    (false negatives) — the probe must hard-error instead."""
    import pytest

    from bloomfilter_spark.operators.partitioned import (
        bloom_build_sharded,
        sharded_might_contain,
    )

    a = spark.createDataFrame([(i,) for i in range(100)], "key long")
    b = spark.createDataFrame([(i,) for i in range(100, 200)], "key long")
    sa = bloom_build_sharded(a, "key", n_expected=500, n_shards=2)
    sb = bloom_build_sharded(b, "key", n_expected=500, n_shards=2)
    probes = spark.createDataFrame([(5,), (150,)], "key long")
    with pytest.raises(Exception, match="blob rows"):
        sharded_might_contain(
            probes, "key", sa.unionAll(sb), n_shards=2
        ).collect()


def test_shard_blobs_equal_local_filters_over_cast_keys(spark):
    """Each shard blob, flat and grouped, is exactly a local BloomFilter
    updated with that shard's JVM-cast key strings: int keys render as
    '123', NULL keys are skipped, and the flat layout sizes every shard
    n_expected // n_shards while the grouped one sizes from the shard's
    non-null key count."""
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED
    from bloomfilter_spark.operators.build import bloom_factory
    from bloomfilter_spark.operators.partitioned import (
        _KEY_COL,
        _SHARD_COL,
        _with_shard,
        bloom_build_sharded,
        bloom_build_sharded_grouped,
    )
    from bloomfilter_spark.sketches import serde
    from bloomfilter_spark.sketches.bloom import BloomFilter

    df = spark.range(3_000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.col("id") * 1_000_003)
        .cast("long")
        .alias("k"),
    ).repartition(3)
    n_shards = 4
    routed = (
        _with_shard(df, "k", n_shards)
        .select("g", F.col(_SHARD_COL).alias("shard"), F.col(_KEY_COL).alias("key"))
        .toPandas()
    )
    assert routed.key.isna().any()

    def local(make, keys):
        sk = make(len(keys))
        if len(keys):
            sk.update(keys)
        return sk.to_bytes()

    flat = bloom_build_sharded(df, "k", n_expected=40_000, n_shards=n_shards)
    make_flat = bloom_factory(40_000 // n_shards, 0.01)
    got = flat.toPandas().set_index("shard")
    assert sorted(got.index) == sorted(routed.shard.unique())
    for shard, grp in routed.groupby("shard"):
        keys = list(grp.key.dropna())
        assert int(got.loc[shard, "n_keys"]) == len(keys)
        assert int(got.loc[shard, "n_shards"]) == n_shards
        assert bytes(got.loc[shard, "blob"]) == local(lambda n: make_flat(), keys)

    grouped = bloom_build_sharded_grouped(df, "g", "k", n_shards=n_shards)
    got = grouped.toPandas().set_index(["group", "shard"])
    assert len(got) == routed.groupby(["g", "shard"]).ngroups
    for (g, shard), grp in routed.groupby(["g", "shard"]):
        keys = list(grp.key.dropna())
        row = got.loc[(g, shard)]
        assert int(row["n_keys"]) == len(keys)
        want = local(
            lambda n: BloomFilter.create(max(1024, n), 0.01, seed=DEFAULT_SEED),
            keys,
        )
        assert bytes(row["blob"]) == want, (g, shard)
        assert serde.deserialize(bytes(row["blob"])).contains(keys).all()
