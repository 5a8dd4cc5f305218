"""Counting Bloom filter: delete semantics the reference bitset can't do.

Local contracts first (zero FN after deletes, to_bloom bit-identity with a
plain Bloom over the net key set, signed-delta merge algebra), then the
distributed build path including deletes landing in different partitions
than their inserts and a >64-partition build with a distributed merge round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.cbf import CountingBloomFilter

KEYS = [f"key-{i}" for i in range(4000)]
NEGS = [f"neg-{i}" for i in range(4000)]


def _filled(n=10000, p=0.01):
    cbf = CountingBloomFilter.create(n, p)
    cbf.update(KEYS)
    return cbf


def test_sizing_matches_plain_bloom():
    cbf = CountingBloomFilter.create(12345, 0.02)
    b = BloomFilter.create(12345, 0.02)
    assert (cbf.m, cbf.k, cbf.seed) == (b.m, b.k, b.seed)
    assert cbf.counts.shape == (cbf.m,)


def test_membership_and_delete():
    cbf = _filled()
    assert cbf.contains(KEYS).all()
    cbf.remove(KEYS[:1500])
    remaining = KEYS[1500:]
    # the headline invariant: deleting OTHER keys never creates a false
    # negative for keys still present
    assert cbf.contains(remaining).all()
    # deleted keys fall back to collision-rate hits
    assert cbf.contains(KEYS[:1500]).mean() <= 2 * 0.01
    assert cbf.contains(NEGS).mean() <= 2 * 0.01
    assert cbf.n_added == len(KEYS) and cbf.n_removed == 1500


def test_delete_all_copies_restores_empty():
    cbf = CountingBloomFilter.create(1000, 0.01)
    cbf.update(KEYS[:100])
    cbf.update(KEYS[:100])  # duplicate insert: counters go to 2
    cbf.remove(KEYS[:100])
    assert cbf.contains(KEYS[:100]).all()  # one copy still present
    cbf.remove(KEYS[:100])
    assert cbf.popcount() == 0 and cbf.negative_cells() == 0


def test_to_bloom_bit_identity():
    cbf = _filled()
    cbf.remove(KEYS[:1500])
    plain = BloomFilter(cbf.m, cbf.k, seed=cbf.seed)
    plain.update(KEYS[1500:])
    assert np.array_equal(cbf.to_bloom().words, plain.words)
    assert cbf.to_bloom().n_added == len(KEYS) - 1500


def test_signed_delta_merge_equals_local():
    proto = CountingBloomFilter.create(1000, 0.01)
    # delete arrives in a different "partition" than its insert: the
    # delete-only partial is legally negative until the merge
    a = proto.empty_like()
    a.update_signed(KEYS[:100], np.full(100, -1, dtype=np.int64))
    assert a.negative_cells() > 0
    b = proto.empty_like()
    b.update(KEYS[:200])
    merged = a.merge(b)
    assert merged.negative_cells() == 0
    local = proto.empty_like()
    local.update(KEYS[100:200])
    assert np.array_equal(merged.counts, local.counts)
    assert merged.contains(KEYS[100:200]).all()


def test_delete_of_never_inserted_key_is_diagnosed():
    cbf = _filled()
    cbf.remove(["never-inserted"])
    assert cbf.negative_cells() > 0


def test_geometry_check_and_clear():
    a = CountingBloomFilter.create(1000, 0.01)
    b = CountingBloomFilter.create(2000, 0.01)
    with pytest.raises(ValueError, match="same size"):
        a.merge(b)
    a.update(KEYS[:10])
    a.clear()
    assert a.popcount() == 0 and a.n_added == 0 and a.n_removed == 0


def test_serde_roundtrip_and_compression():
    cbf = _filled()
    cbf.remove(KEYS[:100])
    blob = cbf.to_bytes()
    rt = serde.deserialize(blob)
    assert rt == cbf
    assert rt.n_added == cbf.n_added and rt.n_removed == cbf.n_removed
    # mostly-zero counters must compress far below the raw int64 array
    assert len(blob) < cbf.counts.nbytes / 4
    with pytest.raises(ValueError, match="kind"):
        CountingBloomFilter.from_bytes(BloomFilter.create(100, 0.1).to_bytes())


def test_update_signed_validates_length():
    cbf = CountingBloomFilter.create(100, 0.1)
    with pytest.raises(ValueError, match="length"):
        cbf.update_signed(["a", "b"], np.array([1], dtype=np.int64))


def test_stats_fields():
    cbf = _filled()
    cbf.update(KEYS[:50])  # duplicates drive max_count ≥ 2
    st = cbf.stats()
    assert st["max_count"] >= 2
    assert st["negative_cells"] == 0
    assert st["n_added"] == len(KEYS) + 50
    assert 0 < st["load_factor"] < 1


# -- distributed ------------------------------------------------------------


def test_build_with_deletes_matches_local(spark):
    from bloomfilter_spark.operators.build import (
        build_sketch_with_deletes,
        cbf_factory,
    )

    n = 5000
    inserts = spark.range(n).selectExpr("id as key")
    deletes = spark.range(n).filter("id % 3 = 0").selectExpr("id as key")
    factory = cbf_factory(n, 0.01)
    dist = build_sketch_with_deletes(
        inserts.repartition(16), deletes.repartition(16), "key", factory
    )

    local = factory()
    local.update(np.arange(n, dtype=np.int64))
    local.remove(np.arange(0, n, 3, dtype=np.int64))
    assert np.array_equal(dist.counts, local.counts)
    assert dist.negative_cells() == 0
    assert dist.n_added == n and dist.n_removed == len(range(0, n, 3))


def test_build_with_deletes_treeaggregate_path(spark):
    # >64 partitions exercises a distributed merge round; the blobs
    # deserialize in merge-only workers (serde lazy registration)
    from bloomfilter_spark.operators.build import (
        build_sketch_with_deletes,
        cbf_factory,
    )

    n = 2000
    inserts = spark.range(n).selectExpr("id as key").repartition(80)
    deletes = (
        spark.range(n).filter("id % 2 = 0").selectExpr("id as key").repartition(80)
    )
    factory = cbf_factory(n, 0.01)
    dist = build_sketch_with_deletes(inserts, deletes, "key", factory)
    local = factory()
    local.update(np.arange(n, dtype=np.int64))
    local.remove(np.arange(0, n, 2, dtype=np.int64))
    assert np.array_equal(dist.counts, local.counts)
    odd = np.arange(1, n, 2, dtype=np.int64)
    assert dist.contains(odd).all()


def test_build_multi_cbf_string_keys_matches_local(spark):
    """A counting-Bloom spec over a string column folds through the
    hashed-key path (null keys skipped), next to a plain Bloom spec."""
    from bloomfilter_spark.operators.build import bloom_factory, cbf_factory
    from bloomfilter_spark.operators.pipeline import build_multi

    keys = [f"key-{i}" for i in range(3000)]
    df = spark.createDataFrame(
        [(k,) for k in keys] + [(None,)], "key string"
    ).repartition(4)
    factory = cbf_factory(3000, 0.01)
    got = build_multi(
        df, {"cbf": ("key", factory), "bloom": ("key", bloom_factory(3000, 0.01))}
    )
    local = factory()
    local.update(pd.Series(keys))
    assert np.array_equal(got["cbf"].counts, local.counts)
    assert got["cbf"].n_added == len(keys)


def test_catalog_query_invariants(spark):
    from bloomfilter_spark.queries import q_cbf_delete_membership
    from tests.conftest import SF_DIR

    row = q_cbf_delete_membership(spark, SF_DIR).collect()[0]
    assert row.false_negatives == 0
    assert row.found_remaining == row.remaining
    assert row.negative_cells == 0
    assert row.deleted_hit_ok and row.fp_rate_ok
