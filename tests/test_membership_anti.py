"""bloom_anti_join: exactness vs a plain anti-join (FPs killed), the
counter-filter path, and tiny/saturated sketches; the broadcast probe
UDFs' NULL rule."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from bloomfilter_spark.operators.membership import bloom_anti_join, query_counts_udf
from bloomfilter_spark.sketches.cms import CountMinSketch


def _ids(df):
    return sorted(r["k"] for r in df.select("k").collect())


def test_matches_plain_anti_join(spark):
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    build = spark.range(1000, 1500).select((F.col("id") * 2).alias("b"))
    want = _ids(
        probe.join(build, probe["k"] == F.col("b"), "left_anti")
    )
    for cf in (False, True):
        got = _ids(bloom_anti_join(probe, "k", build, "b", counter_filter=cf))
        assert got == want


def test_fp_killed_with_saturated_sketch(spark):
    # deliberately undersized sketch -> high FPP -> many candidates; the
    # exact confirm must still return the true anti-join
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))
    build = spark.range(0, 1000).select((F.col("id") * 3).alias("b"))
    want = _ids(probe.join(build, probe["k"] == F.col("b"), "left_anti"))
    got = _ids(
        bloom_anti_join(probe, "k", build, "b", n_expected=8, fpp=0.5)
    )
    assert got == want


def test_empty_sides(spark):
    probe = spark.range(0, 50).select(F.col("id").alias("k"))
    empty = spark.range(0, 0).select(F.col("id").alias("b"))
    assert _ids(bloom_anti_join(probe, "k", empty, "b")) == list(range(50))
    assert bloom_anti_join(empty.select(F.col("b").alias("k")), "k",
                           probe.select(F.col("k").alias("b")), "b").count() == 0


def test_same_named_key_columns(spark):
    """probe_col == build_col (the common same-named-key case) must not
    raise AMBIGUOUS_REFERENCE in the exact-join condition (r3 ADVICE)."""
    from bloomfilter_spark.operators.membership import bloom_semi_join

    probe = spark.range(0, 300).select(F.col("id").alias("k"))
    build = spark.range(100, 200).select(F.col("id").alias("k"))
    anti = _ids(bloom_anti_join(probe, "k", build, "k", counter_filter=True))
    assert anti == list(range(0, 100)) + list(range(200, 300))
    semi = _ids(bloom_semi_join(probe, "k", build, "k"))
    assert semi == list(range(100, 200))


def test_dedup_keep_best_prefers_priority(spark):
    from bloomfilter_spark.operators.components import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7), (5, None)],
        "doc_id long, pri long",
    )
    # cluster {1,2,3}: 2 and 3 tie on priority -> min id 2 kept; 4 alone;
    # 5 has NULL priority and duplicates 4 -> 4 (non-null) kept
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["component"], r["is_kept"])
        for r in dedup_keep_best(docs, "doc_id", "pri", pairs).collect()
    }
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),
        4: (4, True), 5: (4, False),
    }


def test_blocked_layout_identical_results(spark):
    """layout='blocked' swaps the sketch for the cache-line-blocked filter;
    its ~1.2x FPP inflation only grows the candidate fraction the exact
    join kills, so semi- and anti-join results must be IDENTICAL to flat."""
    from bloomfilter_spark.operators.membership import bloom_semi_join

    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    build = spark.range(500, 1200).select((F.col("id") * 2).alias("b"))
    want_anti = _ids(probe.join(build, probe["k"] == F.col("b"), "left_anti"))
    got_anti = _ids(bloom_anti_join(probe, "k", build, "b", layout="blocked"))
    assert got_anti == want_anti
    want_semi = _ids(probe.join(build, probe["k"] == F.col("b"), "left_semi"))
    got_semi = _ids(bloom_semi_join(probe, "k", build, "b", layout="blocked"))
    assert got_semi == want_semi


def test_unknown_layout_rejected(spark):
    import re

    import pytest

    probe = spark.range(0, 10).select(F.col("id").alias("k"))
    build = spark.range(0, 5).select(F.col("id").alias("b"))
    # re.escape: the raw string is a regex ALTERNATION that would match
    # any message containing just "blocked"
    with pytest.raises(ValueError, match=re.escape("layout must be flat|blocked")):
        bloom_anti_join(probe, "k", build, "b", layout="cuckoo")


def test_query_counts_null_keys_count_zero(spark):
    """A NULL key was never inserted, so it counts 0 (might_contain's False
    for counts) — not the count of "" on a string column, and not a hashing
    error on a long column."""
    by_str = CountMinSketch.create(0.001, 0.01)
    by_str.update(pa.array(["", "a", "a"]))
    df = spark.createDataFrame([("a",), ("",), (None,), ("b",)], "k string")
    count = query_counts_udf(spark, by_str)
    got = {r["k"]: r["n"] for r in df.select("k", count("k").alias("n")).collect()}
    assert got == {"a": 2, "": 1, None: 0, "b": 0}

    by_long = CountMinSketch.create(0.001, 0.01)
    by_long.update(np.array([7, 7, 9], dtype=np.int64))
    df = spark.createDataFrame([(7,), (9,), (None,), (11,)], "k long")
    count = query_counts_udf(spark, by_long)
    got = {r["k"]: r["n"] for r in df.select("k", count("k").alias("n")).collect()}
    assert got == {7: 2, 9: 1, None: 0, 11: 0}
