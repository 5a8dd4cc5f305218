"""Differential pin vs Spark's OWN Bloom filter implementation.

`Dataset.stat.bloomFilter` (public Scala API, reached via the py4j gateway
PySpark ships) builds `org.apache.spark.util.sketch.BloomFilter` — an
independent, widely-deployed implementation with a different hash family
(Spark uses 32-bit Murmur3 pairs; we use the murmur3 x64-128 halves of
/root/reference/hash.go's scheme).  The two filters are NOT bit-compatible,
so the pin is behavioral, on the same inserted key set and the same
(n, fpp) sizing contract:

  * zero false negatives on BOTH filters (the hard invariant);
  * observed FPP on a disjoint probe set inside the same <=2x acceptance
    band the reference's own test gate uses
    (/root/reference/bloomfilter_test.go false-positive-rate assertions);
  * the distributed build path produces the same behavioral
    answers as the single-shot local build.

This guards against a whole class of self-consistent bugs (e.g. a hashing
error that both our build AND our probe share would pass every in-repo
test; it cannot pass a zero-FN check against an independent engine unless
the membership semantics are genuinely right).
"""

from __future__ import annotations

import numpy as np
import pytest

from bloomfilter_spark.operators.build import build_sketch
from bloomfilter_spark.sketches.bloom import BloomFilter

N = 20_000
FPP = 0.01
N_ABSENT = 10_000


def _spark_builtin_filter(spark, df, col, n, fpp):
    """Build org.apache.spark.util.sketch.BloomFilter over df[col]."""
    return df._jdf.stat().bloomFilter(col, n, fpp)


@pytest.fixture(scope="module")
def int_keys():
    rng = np.random.default_rng(20260821)
    # disjoint present/absent universes, both well above the int32 range so
    # the 64-bit paths of both engines are exercised
    present = rng.choice(np.arange(1 << 33, (1 << 33) + 10 * N), N, replace=False)
    absent = np.arange(1 << 40, (1 << 40) + N_ABSENT)
    return present.astype(np.int64), absent.astype(np.int64)


def test_int64_membership_matches_spark_builtin(spark, int_keys):
    present, absent = int_keys
    df = spark.createDataFrame([(int(v),) for v in present], "key long")

    jbf = _spark_builtin_filter(spark, df, "key", N, FPP)
    ours = build_sketch(df, "key", lambda: BloomFilter.create(N, FPP))

    # zero false negatives, both engines, every inserted key
    assert bool(np.all(ours.contains(present))), "our filter dropped an insert"
    missed = [int(v) for v in present[:2000] if not jbf.mightContainLong(int(v))]
    assert missed == [], f"spark builtin dropped inserts: {missed[:5]}"

    # observed FPP within the reference gate's 2x band — for BOTH engines,
    # on the SAME disjoint probe set
    ours_fp = float(np.mean(ours.contains(absent)))
    spark_fp = sum(
        1 for v in absent[:N_ABSENT] if jbf.mightContainLong(int(v))
    ) / float(N_ABSENT)
    assert ours_fp <= 2 * FPP, f"our observed FPP {ours_fp} > 2x configured"
    assert spark_fp <= 2 * FPP, f"spark observed FPP {spark_fp} > 2x configured"

    # the two independent engines should see a similar world: their FP rates
    # on the same probes agree to within the binomial noise of 10k trials
    # (3 sigma ~ 0.003 at p=0.01) plus sizing rounding; a 2x divergence
    # would mean one side's m/k sizing or hashing is off
    assert abs(ours_fp - spark_fp) < 0.01, (ours_fp, spark_fp)


def test_string_membership_matches_spark_builtin(spark, int_keys):
    present, absent = int_keys
    urls = [f"https://host{v % 997}.example.com/p/{v}" for v in present[:5000]]
    absent_urls = [f"https://host{v % 997}.example.com/q/{v}" for v in absent[:5000]]
    df = spark.createDataFrame([(u,) for u in urls], "url string")

    jbf = _spark_builtin_filter(spark, df, "url", len(urls), FPP)
    ours = build_sketch(df, "url", lambda: BloomFilter.create(len(urls), FPP))

    assert bool(np.all(ours.contains(np.array(urls, dtype=object))))
    missed = [u for u in urls[:1500] if not jbf.mightContainString(u)]
    assert missed == []

    ours_fp = float(np.mean(ours.contains(np.array(absent_urls, dtype=object))))
    spark_fp = sum(1 for u in absent_urls if jbf.mightContainString(u)) / float(
        len(absent_urls)
    )
    assert ours_fp <= 2 * FPP
    assert spark_fp <= 2 * FPP
    assert abs(ours_fp - spark_fp) < 0.015, (ours_fp, spark_fp)


def test_local_build_behaviorally_equals_distributed(spark, int_keys):
    """The distributed build and a single local update() must answer every
    present/absent probe identically — bit-identity is already pinned in
    test_spark_build.py; this keeps the behavioral contract visible next to
    the cross-engine pin."""
    present, absent = int_keys
    df = spark.createDataFrame(
        [(int(v),) for v in present], "key long"
    ).repartition(16)
    dist = build_sketch(df, "key", lambda: BloomFilter.create(N, FPP))
    local = BloomFilter.create(N, FPP)
    local.update(present)
    assert np.array_equal(dist.contains(present), local.contains(present))
    assert np.array_equal(dist.contains(absent), local.contains(absent))
