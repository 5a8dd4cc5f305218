"""SQL-registered sketch functions: probe/estimate/merge blobs from spark.sql.

Contracts pinned here:
  * bf_contains over SQL == BloomFilter.contains in-process (zero FN, same
    bits), for flat, blocked, and counting layouts;
  * hll_estimate / cms_estimate / sketch_quantile replay the library value
    EXACTLY (same blob → same float), not merely within bound;
  * sketch_merge(GROUP BY) produces a blob whose estimate equals the
    in-process merge of the same blobs (merge is order-independent);
  * NULL argument rows yield NULL, never an error;
  * mixed-kind merge inside one group raises (geometry contract);
  * sketch_merge output bits do not depend on the partition layout, for
    compaction sketches too (blobs merge in content order);
  * mg_estimate replays FrequentItemsSketch.estimate for int and string keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
import pyspark.sql.functions as F

from bloomfilter_spark.functions.sqlapi import register_sql_functions
from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.blocked import BlockedBloomFilter
from bloomfilter_spark.sketches.cbf import CountingBloomFilter
from bloomfilter_spark.operators.build import _merge_sorted
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLLSketch
from bloomfilter_spark.sketches.tdigest import TDigest
from bloomfilter_spark.sketches import serde


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    names = register_sql_functions(spark)
    assert "bf_contains" in names and "sketch_merge" in names
    return names


def _probe_df(spark, keys, blob):
    pdf = pd.DataFrame({"k": keys})
    return spark.createDataFrame(pdf).withColumn("sketch", F.lit(blob))


@pytest.mark.parametrize("cls", [BloomFilter, BlockedBloomFilter])
def test_bf_contains_matches_library(spark, cls):
    present = [f"https://host{i}.example/p" for i in range(500)]
    absent = [f"https://absent{i}.example/q" for i in range(500)]
    bf = cls.create(1000, 0.01)
    bf.update(pd.Series(present))
    blob = bf.to_bytes()

    df = _probe_df(spark, present + absent, blob)
    got = {
        r["k"]: r["hit"]
        for r in df.selectExpr("k", "bf_contains(sketch, k) AS hit").collect()
    }
    lib = bf.contains(pd.Series(present + absent))
    for key, want in zip(present + absent, lib):
        assert got[key] == bool(want)
    assert all(got[k] for k in present)  # zero false negatives


def test_bf_contains_int64_and_nulls(spark):
    bf = BloomFilter.create(100, 0.01)
    bf.update(np.arange(50, dtype=np.int64))
    pdf = pd.DataFrame({"k": pd.array([1, 49, 1000, None], dtype="Int64")})
    df = spark.createDataFrame(pdf).withColumn("sketch", F.lit(bf.to_bytes()))
    rows = df.selectExpr("k", "bf_contains(sketch, k) AS hit").collect()
    by_k = {r["k"]: r["hit"] for r in rows}
    assert by_k[1] is True and by_k[49] is True
    assert by_k[None] is None  # NULL key → NULL, not an error
    # NULL blob → NULL
    row = (
        spark.range(1)
        .selectExpr("bf_contains(CAST(NULL AS BINARY), id) AS hit")
        .collect()[0]
    )
    assert row["hit"] is None


def test_cbf_contains_and_stats_functions(spark):
    cbf = CountingBloomFilter.create(200, 0.01)
    cbf.update(pd.Series([f"u{i}" for i in range(100)]))
    blob = cbf.to_bytes()
    df = _probe_df(spark, ["u3", "nope"], blob)
    rows = df.selectExpr(
        "k",
        "bf_contains(sketch, k) AS hit",
        "bf_estimated_fpp(sketch) AS fpp",
        "bf_cardinality(sketch) AS card",
        "sketch_n_added(sketch) AS n",
        "sketch_kind(sketch) AS kind",
    ).collect()
    by_k = {r["k"]: r for r in rows}
    assert by_k["u3"]["hit"] is True and by_k["nope"]["hit"] is False
    assert by_k["u3"]["fpp"] == pytest.approx(cbf.estimated_fpp())
    assert by_k["u3"]["card"] == pytest.approx(cbf.estimated_cardinality())
    assert by_k["u3"]["n"] == 100
    assert by_k["u3"]["kind"] == "CountingBloomFilter"


def test_hll_estimate_and_merge_sql(spark):
    # three daily blobs with overlapping users; weekly = SQL sketch_merge
    days = {
        "d1": [f"u{i}" for i in range(0, 600)],
        "d2": [f"u{i}" for i in range(300, 900)],
        "d3": [f"u{i}" for i in range(600, 1200)],
    }
    blobs = {}
    for day, users in days.items():
        h = HyperLogLog(p=12)
        h.update(pd.Series(users))
        blobs[day] = h.to_bytes()
    pdf = pd.DataFrame(
        {"day": list(blobs), "week": [0, 0, 0], "blob": list(blobs.values())}
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("daily_hll")

    daily = {
        r["day"]: r["est"]
        for r in spark.sql(
            "SELECT day, hll_estimate(blob) AS est FROM daily_hll"
        ).collect()
    }
    for day, users in days.items():
        sk = serde.deserialize(blobs[day])
        assert daily[day] == pytest.approx(sk.estimate())  # exact replay

    merged_row = spark.sql(
        "SELECT week, hll_estimate(sketch_merge(blob)) AS est,"
        "       sketch_kind(sketch_merge(blob)) AS kind "
        "FROM daily_hll GROUP BY week"
    ).collect()[0]
    acc = serde.deserialize(blobs["d1"])
    acc.merge(serde.deserialize(blobs["d2"]))
    acc.merge(serde.deserialize(blobs["d3"]))
    assert merged_row["est"] == pytest.approx(acc.estimate())
    assert merged_row["kind"] == "HyperLogLog"
    # sanity: the merged estimate tracks the true union within the bound
    assert abs(merged_row["est"] - 1200) / 1200 <= 4 * 1.04 / 2**6


def test_sketch_merge_skips_nulls_and_all_null_group(spark):
    h = HyperLogLog(p=12)
    h.update(pd.Series(["a", "b", "c"]))
    pdf = pd.DataFrame(
        {
            "g": ["x", "x", "y"],
            "blob": [h.to_bytes(), None, None],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("merge_nulls")
    rows = {
        r["g"]: r["est"]
        for r in spark.sql(
            "SELECT g, hll_estimate(sketch_merge(blob)) AS est "
            "FROM merge_nulls GROUP BY g"
        ).collect()
    }
    assert rows["x"] == pytest.approx(h.estimate())
    assert rows["y"] is None


def test_sketch_merge_mixed_kinds_raises(spark):
    h = HyperLogLog(p=12)
    h.update(pd.Series(["a"]))
    b = BloomFilter.create(10, 0.01)
    b.update(pd.Series(["a"]))
    pdf = pd.DataFrame({"g": [1, 1], "blob": [h.to_bytes(), b.to_bytes()]})
    spark.createDataFrame(pdf).createOrReplaceTempView("merge_mixed")
    with pytest.raises(Exception, match="(?s)(?=.*HyperLogLog)(?=.*BloomFilter)"):
        spark.sql(
            "SELECT g, sketch_merge(blob) FROM merge_mixed GROUP BY g"
        ).collect()


def test_merge_sorted_mixed_kinds_raises_naming_both():
    """The one merge rule refuses a blob of another kind with a ValueError
    naming both kinds, whichever kind sorts first, before any per-kind
    geometry check reads a field the other kind lacks."""
    h = HyperLogLog(p=12)
    h.update(["a"])
    b = BloomFilter.create(10, 0.01)
    b.update(["a"])
    c = CountMinSketch.create(0.01, 0.01)
    c.update(["a"])
    k = KLLSketch(k=16)
    k.update(np.array([1.0, 2.0]))
    for x, y in ((h, b), (c, k)):
        for first, second in ((x, y), (y, x)):
            tbl = pa.table({"blob": [first.to_bytes(), second.to_bytes()]})
            names = f"(?=.*{type(x).__name__})(?=.*{type(y).__name__})"
            with pytest.raises(ValueError, match=names):
                _merge_sorted(tbl, ["blob"], {"blob": first.empty_like})


def test_sketch_merge_layout_independent(spark):
    """12 compaction-sketch blobs per group merged by SQL GROUP BY under
    several partition layouts: every layout gives the same bytes, and they
    equal the library merge (`_merge_sorted`) of the same blobs."""
    rng = np.random.default_rng(17)
    makers = {
        "kll": (lambda: KLLSketch(k=16), lambda: rng.normal(0.0, 1.0, 400)),
        "tdigest": (lambda: TDigest(delta=20), lambda: rng.exponential(5.0, 400)),
        "freq": (
            lambda: FrequentItemsSketch(8),
            lambda: pa.array(rng.zipf(1.3, 400) % 60, pa.int64()),
        ),
    }
    rows, want = [], {}
    for kind, (make, draw) in makers.items():
        blobs = []
        for _ in range(12):
            sk = make()
            if kind == "freq":
                sk.update_arrow(draw())
            else:
                sk.update(draw())
            blobs.append(sk.to_bytes())
        rows += [(kind, b) for b in blobs]
        merged = _merge_sorted(pa.table({"blob": blobs}), ["blob"], {"blob": make})
        want[kind] = merged["blob"].to_bytes()

    got = []
    for order, parts in [(rows, 1), (rows[::-1], 4), (rows[5:] + rows[:5], 3)]:
        df = spark.createDataFrame(order, "kind string, blob binary").repartition(parts)
        df.createOrReplaceTempView("merge_layout")
        got.append(
            {
                r["kind"]: bytes(r["m"])
                for r in spark.sql(
                    "SELECT kind, sketch_merge(blob) AS m "
                    "FROM merge_layout GROUP BY kind"
                ).collect()
            }
        )
    for g in got:
        assert g == want


def test_mg_estimate_sql(spark):
    ints = FrequentItemsSketch(64)
    ints.update_arrow(pa.array([1] * 5 + [2] * 3 + [7]))
    strs = FrequentItemsSketch(64)
    strs.update_arrow(pa.array(["x"] * 4 + ["y"]))
    bi, bs = ints.to_bytes(), strs.to_bytes()
    int_rows = spark.createDataFrame(
        [(bi, 1), (bi, 2), (bi, 7), (bi, 99), (bi, None), (None, 1)],
        "blob binary, k long",
    ).selectExpr("blob IS NULL AS nb", "k", "mg_estimate(blob, k) AS est")
    got = {(r["nb"], r["k"]): r["est"] for r in int_rows.collect()}
    assert got == {
        (False, 1): 5, (False, 2): 3, (False, 7): 1, (False, 99): 0,
        (False, None): None, (True, 1): None,
    }
    str_rows = spark.createDataFrame(
        [(bs, "x"), (bs, "y"), (bs, "untracked"), (bs, None)], "blob binary, k string"
    ).selectExpr("k", "mg_estimate(blob, k) AS est")
    got = {r["k"]: r["est"] for r in str_rows.collect()}
    assert got == {"x": 4, "y": 1, "untracked": 0, None: None}
    assert [got[k] for k in ("x", "y", "untracked")] == [
        strs.estimate(k) for k in ("x", "y", "untracked")
    ]


def test_cms_estimate_sql(spark):
    vals = ["x"] * 50 + ["y"] * 7 + ["z"] * 1
    c = CountMinSketch.create(epsilon=0.001, delta=0.01)
    c.update(pd.Series(vals))
    df = _probe_df(spark, ["x", "y", "z", "absent"], c.to_bytes())
    got = {
        r["k"]: r["est"]
        for r in df.selectExpr("k", "cms_estimate(sketch, k) AS est").collect()
    }
    lib = c.query(pd.Series(["x", "y", "z", "absent"]))
    assert [got[k] for k in ["x", "y", "z", "absent"]] == [int(v) for v in lib]
    assert got["x"] >= 50 and got["y"] >= 7  # overestimate-only


def test_sketch_quantile_and_rank_sql(spark):
    rng = np.random.default_rng(7)
    data = rng.normal(100.0, 15.0, 20000)
    k = KLLSketch(k=200)
    k.update(data)
    blob = k.to_bytes()
    pdf = pd.DataFrame({"q": [0.1, 0.5, 0.9]})
    df = spark.createDataFrame(pdf).withColumn("sketch", F.lit(blob))
    rows = df.selectExpr(
        "q",
        "sketch_quantile(sketch, q) AS qv",
        "sketch_rank(sketch, sketch_quantile(sketch, q)) AS rk",
    ).collect()
    for r in rows:
        assert r["qv"] == pytest.approx(float(k.quantile(r["q"])))
        assert r["rk"] == pytest.approx(float(k.rank(r["qv"])))


def test_blob_memoization_one_deserialize_per_distinct_blob():
    """The per-batch probe groups rows by distinct blob: one contains()
    call per blob, vectorized over that blob's rows (driver-side check of
    the grouping helper itself, on the Arrow arrays the UDF receives)."""
    from bloomfilter_spark.functions.sqlapi import _per_blob_batches

    bf1 = BloomFilter.create(10, 0.01)
    bf1.update(pd.Series(["a"]))
    bf2 = BloomFilter.create(10, 0.01)
    bf2.update(pd.Series(["b"]))
    blobs = pa.array([bf1.to_bytes(), bf2.to_bytes(), bf1.to_bytes(), None])
    keys = pa.array(["a", "b", "b", "a"])
    calls = []

    def probe(sk, vals):
        calls.append(len(vals))
        return sk.contains(vals)

    out = _per_blob_batches(blobs, keys, probe)
    assert len(calls) == 2 and sorted(calls) == [1, 2]
    assert out.to_pylist()[:3] == [True, True, False] and out.to_pylist()[3] is None
