"""Distributed build/merge tests — the Spark analog of the reference's
concurrency + SIMD-equivalence integration suites:

- distributed result == local single-process result, bit-identical
  (the merge-associativity contract, BASELINE.json:14; analog of
  /root/reference/tests/integration/bloomfilter_simd_comparison_test.go)
- repartition(1) vs repartition(16) vs shuffled row order → identical
- zero false negatives through the full distributed path (analog of
  /root/reference/tests/integration/bloomfilter_retry_test.go:54-68)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from bloomfilter_spark.operators.build import (
    bloom_factory,
    build_grouped,
    build_sketch,
    cms_factory,
    hll_factory,
    kll_factory,
    tdigest_factory,
)
from bloomfilter_spark.operators.membership import (
    bloom_semi_join,
    filter_might_contain,
)
from bloomfilter_spark.operators.pipeline import fold_partials, tree_merge_replay
from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter


@pytest.fixture(scope="module")
def docs_pdf(documents):
    return documents.toPandas()


def _partial_pairs(df, col, factory) -> list[tuple[int, bytes]]:
    """(partition_id, packed partial) of a one-sketch build's fold stage."""
    partials, _ = fold_partials(df, {"s": (col, factory)})
    return [(int(r.partition_id), bytes(r.s)) for r in partials.collect()]


def test_distributed_bloom_bit_identical_to_local(spark, documents, docs_pdf):
    factory = bloom_factory(n=10000, p=0.01)
    local = factory()
    local.update(docs_pdf["text"])

    for parts in (1, 4, 16):
        dist = build_sketch(documents.repartition(parts), "text", factory)
        assert np.array_equal(dist.words, local.words), f"parts={parts}"
        assert dist.n_added == len(docs_pdf)


def test_row_order_invariance(spark, documents):
    factory = bloom_factory(n=10000, p=0.01)
    a = build_sketch(documents.repartition(7), "text", factory)
    shuffled = documents.orderBy(F.rand(seed=1)).repartition(13)
    b = build_sketch(shuffled, "text", factory)
    assert np.array_equal(a.words, b.words)


def test_distributed_hll_bit_identical_and_bounded(spark, documents, docs_pdf):
    factory = hll_factory(precision=12)
    local = factory()
    local.update(docs_pdf["doc_id"].astype(str))
    dist = build_sketch(
        documents.repartition(8).withColumn("key", F.col("doc_id").cast("string")),
        "key",
        factory,
    )
    assert np.array_equal(dist.registers, local.registers)
    exact = docs_pdf["doc_id"].nunique()
    assert abs(dist.estimate() - exact) / exact <= 4 * dist.relative_error


def test_distributed_cms_exact_totals(spark, documents, docs_pdf):
    factory = cms_factory(epsilon=0.001, delta=0.001)
    dist = build_sketch(documents.repartition(8), "lang", factory)
    local = factory()
    local.update(docs_pdf["lang"])
    assert np.array_equal(dist.counts, local.counts)
    exact = docs_pdf["lang"].value_counts()
    est = dist.query(exact.index.tolist())
    assert (est >= exact.to_numpy()).all()
    assert (est <= exact.to_numpy() + dist.error_bound() + 1).all()


def test_distributed_kll_multiset_deterministic(spark, documents, docs_pdf):
    factory = kll_factory(k=200)
    # same partitioning run twice → identical sketch (determinism),
    # regardless of task completion order
    a = build_sketch(documents.repartition(8, "doc_id"), "n_chars", factory)
    b = build_sketch(documents.repartition(8, "doc_id"), "n_chars", factory)
    assert a == b
    exact = np.sort(docs_pdf["n_chars"].to_numpy(dtype=float))
    n = len(exact)
    for q in (0.25, 0.5, 0.75):
        est = a.quantile(q)
        lo = np.searchsorted(exact, est, "left") / n
        hi = np.searchsorted(exact, est, "right") / n
        assert lo - 0.04 <= q <= hi + 0.04


def test_distributed_tdigest(spark, events):
    factory = tdigest_factory(delta=200)
    td = build_sketch(events.repartition(8), "value", factory)
    exact = np.sort(events.select("value").toPandas()["value"].to_numpy())
    n = len(exact)
    for q in (0.01, 0.5, 0.99):
        est = td.quantile(q)
        lo = np.searchsorted(exact, est, "left") / n
        hi = np.searchsorted(exact, est, "right") / n
        tol = 0.01 if min(q, 1 - q) < 0.05 else 0.025
        assert lo - tol <= q <= hi + tol


def test_partial_counters(spark, documents):
    # 16 ≥ the session's parallelism, so the engine keeps the partitioning
    partials, n_parts = fold_partials(
        documents.repartition(16), {"bloom": ("text", bloom_factory(1000))}
    )
    pdf = partials.toPandas()
    assert n_parts == len(pdf) == 16
    assert pdf["rows"].sum() == documents.count()
    assert sorted(pdf["partition_id"].tolist()) == list(range(16))


def test_zero_false_negatives_distributed(spark, documents, docs_pdf):
    sketch = build_sketch(documents.repartition(16), "text", bloom_factory(10000, 0.01))
    kept = filter_might_contain(documents, "text", sketch)
    # every inserted key must be found — "FALSE NEGATIVE" is fatal
    assert kept.count() == documents.count()


def test_membership_fpp_on_negatives(spark, documents, docs_pdf):
    sketch = build_sketch(documents, "text", bloom_factory(10000, 0.01))
    probes = spark.range(5000).withColumn(
        "probe", F.concat(F.lit("never-inserted-"), F.col("id").cast("string"))
    )
    fp = filter_might_contain(probes, "probe", sketch).count()
    assert fp / 5000 <= 2 * 0.01


def test_bloom_semi_join_exact(spark):
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    hot = orders.filter(F.col("o_totalprice") > 100000)
    got = bloom_semi_join(lineitem, "l_orderkey", hot, "o_orderkey", fpp=0.01).count()
    expected = lineitem.join(
        hot.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    ).count()
    assert got == expected


def test_grouped_sketches(spark, documents, docs_pdf):
    grouped = build_grouped(documents, "lang", "doc_id", hll_factory(12)).toPandas()
    exact = docs_pdf.groupby("lang")["doc_id"].nunique()
    assert set(grouped["lang"]) == set(exact.index)
    for _, row in grouped.iterrows():
        sk = serde.deserialize(row["blob"])
        e = exact[row["lang"]]
        assert abs(sk.estimate() - e) / max(e, 1) <= max(4 * sk.relative_error, 0.05)


def test_grouped_salted_equals_unsalted(spark, documents):
    a = build_grouped(documents, "lang", "doc_id", hll_factory(12), salts=0).toPandas()
    b = build_grouped(documents, "lang", "doc_id", hll_factory(12), salts=8).toPandas()
    a = a.sort_values("lang").reset_index(drop=True)
    b = b.sort_values("lang").reset_index(drop=True)
    assert (a["lang"] == b["lang"]).all()
    for i in range(len(a)):
        # HLL max-merge is commutative → salted two-stage == single-stage,
        # register-for-register
        sa = serde.deserialize(a["blob"][i])
        sb = serde.deserialize(b["blob"][i])
        assert np.array_equal(sa.registers, sb.registers)
    assert (a["rows"] == b["rows"]).all()


def test_grouped_salted_compaction_sketches_deterministic(spark, documents):
    """The merge-order-sensitive case: grouped + salted KLL/t-digest.
    Shuffle fetch order varies run-to-run, so determinism rests on the
    canonicalization in build_grouped (values sorted within each partial,
    partials merged in salt order).  Two independent builds must be
    BIT-identical, and each group sketch must honor its rank bound."""
    from bloomfilter_spark.operators.build import kll_factory, tdigest_factory

    docs_pdf = documents.toPandas()
    for fac, slack in ((kll_factory(k=160), 0.04), (tdigest_factory(delta=100), 0.03)):
        a = build_grouped(documents, "lang", "n_chars", fac, salts=8).toPandas()
        b = build_grouped(documents, "lang", "n_chars", fac, salts=8).toPandas()
        a = a.sort_values("lang").reset_index(drop=True)
        b = b.sort_values("lang").reset_index(drop=True)
        assert (a["lang"] == b["lang"]).all()
        for i in range(len(a)):
            assert bytes(a["blob"][i]) == bytes(b["blob"][i]), a["lang"][i]
        for _, row in a.iterrows():
            sk = serde.deserialize(row["blob"])
            vals = docs_pdf[docs_pdf["lang"] == row["lang"]]["n_chars"]
            med = float(vals.median())
            err = getattr(sk, "rank_error", lambda: 0.02)()
            assert abs(sk.rank(med) - 0.5) <= err + slack, row["lang"]


def _fold_sorted_values(sk, vals: pd.Series) -> None:
    """The parent rule of a grouped build: ONE update with the group's
    sorted non-null values (numeric kinds take float64)."""
    from bloomfilter_spark.sketches.kll import KLLSketch
    from bloomfilter_spark.sketches.tdigest import TDigest

    vals = vals.dropna().sort_values(kind="stable")
    if isinstance(sk, (KLLSketch, TDigest)):
        sk.update(vals.to_numpy(dtype="float64"))
    else:
        sk.update(vals)


def _update_arrow_sorted(sk, vals: pd.Series) -> None:
    import pyarrow as pa

    sk.update_arrow(pa.array(sorted(vals.dropna()), type=pa.string()))


@pytest.mark.parametrize(
    "factory_name, col, local_fold",
    [
        ("kll", "v", _fold_sorted_values),
        ("tdigest", "v", _fold_sorted_values),
        ("hll", "k", lambda sk, vals: sk.update(
            vals.dropna().astype("int64").sort_values(kind="stable"))),
        ("freqitems", "s", _fold_sorted_values),
        ("strstats", "s", _update_arrow_sorted),
    ],
    ids=["kll", "tdigest", "hll_long_nulls", "freqitems", "strstats"],
)
def test_grouped_blob_is_one_sorted_fold(spark, factory_name, col, local_fold):
    """Bit pin of build_grouped: each group's blob equals factory() folded
    ONCE with the group's sorted non-null values, whatever the input
    partitioning and Arrow chunking (20k-row groups span several Arrow
    batches).  `k` is a long column with NULLs; `s` a string column with
    NULLs; StringStatsSketch has no update() and must still fold."""
    from bloomfilter_spark.operators.build import freqitems_factory
    from bloomfilter_spark.sketches.moments import StringStatsSketch

    factory = {
        "kll": kll_factory(k=200),
        "tdigest": tdigest_factory(delta=100),
        "hll": hll_factory(12),
        "freqitems": freqitems_factory(64),
        "strstats": StringStatsSketch,
    }[factory_name]
    df = spark.range(60_000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") * 2654435761 % 100_003)
        .alias("k"),
        (F.col("id") * 48271 % 99991).cast("double").alias("v"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.concat(F.lit("host"), (F.col("id") * 7919 % 500).cast("string")))
        .alias("s"),
    ).repartition(5)
    pdf = df.toPandas()
    out = build_grouped(df, "g", col, factory).toPandas().set_index("g")
    assert sorted(out.index) == [0, 1, 2]
    for g, grp in pdf.groupby("g"):
        want = factory()
        local_fold(want, grp[col])
        assert bytes(out.loc[g, "blob"]) == want.to_bytes(), g
        assert int(out.loc[g, "rows"]) == len(grp)


def test_kll_tree_merge_512_partitions(spark):
    """VERDICT r2 item 1: compaction kinds at large fan-in must reduce
    through the bounded-fan-in tree — no full-partials collect().  The
    distributed tree result must be bit-identical to a driver-side replay
    of the same canonical tree (tree_merge_replay), deterministic across
    runs, and honor the rank bound vs exact."""
    factory = kll_factory(k=200)
    n = 120_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1000003).cast("double").alias("v")
    ).repartition(512)
    pairs = _partial_pairs(df, "v", factory)
    assert len(pairs) == 512
    dist = build_sketch(df, "v", factory)  # 512 > fanin → tree path
    replay = tree_merge_replay(
        pairs, factory, 512, spark.sparkContext.defaultParallelism
    )
    assert dist == replay
    assert dist.to_bytes() == replay.to_bytes()
    # determinism: a second distributed run is bit-identical
    dist2 = build_sketch(df, "v", factory)
    assert dist.to_bytes() == dist2.to_bytes()
    # rank bound vs exact
    exact = np.sort(
        ((np.arange(n, dtype=np.int64) * 2654435761) % 1000003).astype(float)
    )
    for q in (0.1, 0.5, 0.9):
        est = dist.quantile(q)
        lo = np.searchsorted(exact, est, "left") / n
        hi = np.searchsorted(exact, est, "right") / n
        assert lo - 0.04 <= q <= hi + 0.04, q
    assert dist.n_added == n


def test_tdigest_tree_merge_matches_replay(spark):
    factory = tdigest_factory(delta=100)
    df = spark.range(40_000).select(
        (F.sin(F.col("id").cast("double")) * 1000).alias("v")
    ).repartition(128)
    pairs = _partial_pairs(df, "v", factory)
    dist = build_sketch(df, "v", factory)
    replay = tree_merge_replay(
        pairs, factory, 128, spark.sparkContext.defaultParallelism
    )
    assert dist.to_bytes() == replay.to_bytes()


def test_rollup_grouped_10k_groups(spark):
    """VERDICT r2 item 2: distributed rollup of ≥10k per-group sketches —
    no driver collect of grouped blobs.  KLL rollup: deterministic
    run-to-run and rank-bounded vs exact.  HLL rollup: bit-identical to a
    direct global build (commutative merge ⇒ rollup ≡ any-order union)."""
    from bloomfilter_spark.operators.build import rollup_grouped

    n = 200_000
    base = spark.range(n).select(
        F.pmod(F.col("id"), F.lit(10_000)).alias("g"),
        (F.col("id") * 48271 % 99991).cast("double").alias("v"),
    )

    # KLL: rollup of 10k grouped sketches
    kf = kll_factory(k=200)
    grouped = build_grouped(base, "g", "v", kf)
    assert grouped.count() == 10_000
    a = rollup_grouped(grouped, "g", kf)
    b = rollup_grouped(build_grouped(base, "g", "v", kf), "g", kf)
    assert a.to_bytes() == b.to_bytes()  # pure function of the group set
    assert a.n_added == n
    exact = np.sort(((np.arange(n, dtype=np.int64) * 48271) % 99991).astype(float))
    for q in (0.25, 0.5, 0.75):
        est = a.quantile(q)
        lo = np.searchsorted(exact, est, "left") / n
        hi = np.searchsorted(exact, est, "right") / n
        assert lo - 0.05 <= q <= hi + 0.05, q

    # HLL: rollup == direct global build, register-for-register
    hf = hll_factory(12)
    hg = build_grouped(base.select("g", F.col("v").cast("long").alias("k")),
                       "g", "k", hf)
    rolled = rollup_grouped(hg, "g", hf)
    direct = build_sketch(
        base.select(F.col("v").cast("long").alias("k")), "k", hf
    )
    assert np.array_equal(rolled.registers, direct.registers)


def test_freqitems_distributed_tree_merge(spark):
    """Misra-Gries through the full distributed path at 256 partitions
    (> fanin → canonical tree): bit-identical to the driver replay,
    deterministic run-to-run, underestimate + merged deduction bound +
    ε-heavy completeness vs exact counts, and exact below capacity."""
    from bloomfilter_spark.operators.build import freqitems_factory

    # zipf-ish skew from a deterministic expression: key = floor(1e6 / (id%997+1))
    n = 150_000
    df = spark.range(n).select(
        (F.lit(1_000_000) / (F.col("id") % 997 + 1)).cast("long").alias("k")
    ).repartition(256)
    factory = freqitems_factory(64)
    pairs = _partial_pairs(df, "k", factory)
    assert len(pairs) == 256
    dist = build_sketch(df, "k", factory)
    replay = tree_merge_replay(
        pairs, factory, 256, spark.sparkContext.defaultParallelism
    )
    assert dist.to_bytes() == replay.to_bytes()
    dist2 = build_sketch(df, "k", factory)
    assert dist.to_bytes() == dist2.to_bytes()

    ids = np.arange(n, dtype=np.int64)
    keys = (1_000_000 // (ids % 997 + 1)).astype(np.int64)
    import pandas as pd

    vc = pd.Series(keys).value_counts()
    err = dist.error_bound()
    assert 0 < err <= dist.total // 65
    for k, c in vc.items():
        est = dist.estimate(int(k))
        assert est <= c
        assert est >= c - err
    assert all(dist.estimate(int(k)) > 0 for k, c in vc.items() if c > err)

    # capacity ≥ distinct (997 keys) → every count exact through the same path
    wide = freqitems_factory(2048)
    exact = build_sketch(df, "k", wide)
    assert exact.error_bound() == 0
    assert all(exact.estimate(int(k)) == c for k, c in vc.items())


def test_freqitems_grouped_salted(spark):
    """Per-lang frequent hosts via build_grouped: with capacity ≥ distinct
    hosts per lang, the salted two-stage build must agree bit-for-bit with
    the unsalted path AND with exact counts (no prune ⇒ exact ⇒ canonical
    blobs equal); a tight capacity must stay within the deduction bound
    per group and be run-to-run deterministic for fixed salts."""
    from bloomfilter_spark.operators.build import build_grouped, freqitems_factory

    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("string").alias("lang"),
        F.concat(
            F.lit("site"),
            ((F.col("id") * 2654435761) % 300).cast("string"),
        ).alias("host"),
    )
    wide = freqitems_factory(1024)
    unsalted = build_grouped(df, "lang", "host", wide).toPandas()
    salted = build_grouped(df, "lang", "host", wide, salts=4).toPandas()
    a = unsalted.set_index("lang").blob.map(bytes)
    b = salted.set_index("lang").blob.map(bytes)
    assert set(a.index) == set(b.index) == {"0", "1", "2"}
    for lang in a.index:
        assert a[lang] == b[lang]
        sk = serde.deserialize(a[lang])
        exact = (
            df.filter(F.col("lang") == lang)
            .groupBy("host")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        assert sk.error_bound() == 0
        assert all(sk.estimate(r["host"]) == r["c"] for r in exact)

    tight = freqitems_factory(16)
    run1 = build_grouped(df, "lang", "host", tight, salts=4).toPandas()
    run2 = build_grouped(df, "lang", "host", tight, salts=4).toPandas()
    b1 = run1.set_index("lang").blob.map(bytes)
    b2 = run2.set_index("lang").blob.map(bytes)
    for lang in b1.index:
        assert b1[lang] == b2[lang]  # fixed salts ⇒ bit-identical
        sk = serde.deserialize(b1[lang])
        err = sk.error_bound()
        assert 0 < err <= sk.total // 17
        exact = (
            df.filter(F.col("lang") == lang)
            .groupBy("host")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        for r in exact:
            est = sk.estimate(r["host"])
            assert est <= r["c"] and est >= r["c"] - err


def test_theta_distributed_commutative_path(spark, documents, docs_pdf):
    """Theta merges commutatively: distributed build
    == local single-process build, bit-identical, under any partitioning;
    set ops on two filter-pruned distributed builds are exact below k."""
    from bloomfilter_spark.operators.build import theta_factory

    factory = theta_factory(16384)
    local = factory()
    local.update(docs_pdf["text"])
    for parts in (1, 16):
        dist = build_sketch(documents.repartition(parts), "text", factory)
        assert dist.to_bytes() == local.to_bytes(), f"parts={parts}"
    assert dist.is_exact
    assert dist.estimate() == float(docs_pdf["text"].nunique())

    even = build_sketch(
        documents.filter(F.col("doc_id") % 2 == 0), "doc_id", factory
    )
    third = build_sketch(
        documents.filter(F.col("doc_id") % 3 == 0), "doc_id", factory
    )
    ids = docs_pdf["doc_id"]
    e, t = set(ids[ids % 2 == 0]), set(ids[ids % 3 == 0])
    assert even.union(third).estimate() == float(len(e | t))
    assert even.intersect(third).estimate() == float(len(e & t))
    assert even.a_not_b(third).estimate() == float(len(e - t))


def test_theta_grouped_rollup_equals_global(spark, documents):
    """Hypertable-rollup exactness for a commutative sketch: per-lang theta
    sketches rolled up through rollup_grouped must be bit-identical in
    STATE to one global build (distinct-set union is order-free)."""
    from bloomfilter_spark.operators.build import (
        build_grouped,
        rollup_grouped,
        theta_factory,
    )

    tf = theta_factory(16384)
    grouped = build_grouped(
        documents.withColumn("k", F.col("doc_id").cast("string")), "lang", "k", tf
    )
    rolled = rollup_grouped(grouped, "lang", tf)
    direct = build_sketch(
        documents.withColumn("k", F.col("doc_id").cast("string")), "k", tf
    )
    assert rolled == direct  # θ + retained values identical
    assert rolled.estimate() == direct.estimate() == float(documents.count())


def test_distributed_dds_bit_identical_to_local(spark, events):
    """DDSketch is a pure histogram, so the distributed build
    must equal a single-process build EXACTLY (bit-identity, not bounds) —
    at any partitioning."""
    from bloomfilter_spark.operators.build import dds_factory

    factory = dds_factory(alpha=0.01)
    local = factory()
    local.update(events.select("value").toPandas()["value"].to_numpy())
    for parts in (3, 16):
        dist = build_sketch(events.repartition(parts), "value", factory)
        assert dist == local
        assert dist.n_added == local.n_added
    exact = np.sort(events.select("value").toPandas()["value"].to_numpy())
    for q in (0.01, 0.5, 0.999):
        est = dist.quantile(q)
        true = exact[max(0, int(np.ceil(max(1.0, q * len(exact)))) - 1)]
        assert abs(est - true) <= 0.01 * abs(true) * (1 + 1e-9)


def test_dds_grouped_salted_equals_local_exactly(spark, documents):
    """DDSketch is a pure histogram, so the salted two-stage grouped build
    must agree BIT-for-bit with a local per-group build — a stronger
    invariant than the KLL/t-digest run-to-run determinism above."""
    from bloomfilter_spark.operators.build import dds_factory
    from bloomfilter_spark.sketches.ddsketch import DDSketch

    docs_pdf = documents.toPandas()
    out = build_grouped(
        documents, "lang", "n_chars", dds_factory(alpha=0.02), salts=8
    ).toPandas()
    assert len(out) == docs_pdf["lang"].nunique()
    for _, row in out.iterrows():
        local = DDSketch(alpha=0.02)
        local.update(
            docs_pdf[docs_pdf["lang"] == row["lang"]]["n_chars"].to_numpy(float)
        )
        assert serde.deserialize(bytes(row["blob"])) == local, row["lang"]


def test_rollup_regroup_matches_direct_grouped_build(spark):
    """day→week re-aggregation from blobs must be register-identical to
    building the weekly sketches directly from the raw rows (HLL max-merge
    is commutative), and deterministic across partitionings."""
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.build import (
        build_grouped,
        hll_factory,
        rollup_regroup,
    )

    rows = (
        spark.range(0, 4000)
        .select(
            F.concat(F.lit("d"), F.pmod("id", F.lit(21)).cast("string")).alias("day"),
            F.pmod(F.col("id") * 2654435761, F.lit(900)).alias("user"),
        )
        .withColumn("week", F.pmod(F.xxhash64("day"), F.lit(3)).cast("string"))
    )
    daily = build_grouped(rows, "day", "user", hll_factory(precision=12))
    wk = daily.join(rows.select("day", "week").distinct(), "day")
    rolled = {
        r["week"]: r["blob"]
        for r in rollup_regroup(wk, "day", "week", hll_factory(precision=12)).collect()
    }
    direct = {
        r["week"]: r["blob"]
        for r in build_grouped(rows, "week", "user", hll_factory(precision=12)).collect()
    }
    assert rolled.keys() == direct.keys()
    for k in direct:
        assert rolled[k] == direct[k]  # bit-identical (commutative max-merge)
    again = {
        r["week"]: r["blob"]
        for r in rollup_regroup(
            wk.repartition(13), "day", "week", hll_factory(precision=12)
        ).collect()
    }
    assert again == rolled


def test_rollup_sliding_trailing_windows(spark):
    """Trailing-window blob merge: each unit's merged sketch must be
    register-identical to a direct build over the trailing rows; warm-up
    heads report their smaller n_units; units absent from the data get
    no row even when neighbors' windows span them."""
    import pandas as pd

    from bloomfilter_spark.operators.build import (
        build_grouped,
        hll_factory,
        rollup_sliding,
    )
    from bloomfilter_spark.sketches import serde

    rows = [
        (d, f"u{d}-{i}")
        for d in (1, 2, 3, 5, 6)  # day 4 missing
        for i in range(20 * d)
    ]
    df = spark.createDataFrame(rows, "day long, user string")
    fac = hll_factory(precision=12)
    blobs = build_grouped(df, "day", "user", fac)
    out = rollup_sliding(blobs, "day", 3, fac).toPandas().set_index("day")

    assert set(out.index) == {1, 2, 3, 5, 6}  # no synthetic day-4 row
    assert int(out.loc[1, "n_units"]) == 1  # warm-up head
    assert int(out.loc[2, "n_units"]) == 2
    assert int(out.loc[3, "n_units"]) == 3
    assert int(out.loc[5, "n_units"]) == 2  # 4 missing: {3, 5}
    assert int(out.loc[6, "n_units"]) == 2  # {5, 6}

    pdf = pd.DataFrame(rows, columns=["day", "user"])
    for d in (1, 2, 3, 5, 6):
        want = fac()
        trail = pdf[(pdf.day >= d - 2) & (pdf.day <= d)]
        want.update(trail.user)
        got = serde.deserialize(bytes(out.loc[d, "blob"]))
        assert (got.registers == want.registers).all(), d


def test_driver_merge_holds_two_unpacked_blooms():
    """The merge of a bucket unpacks, merges and drops one Bloom partial at
    a time: at most the accumulator and one partial are alive (a bucket of
    64 partials of a 1.2 GB filter would otherwise need 77 GB).
    Driver-side only, no Spark."""
    import weakref

    import pyarrow as pa

    from bloomfilter_spark.operators import pipeline
    from bloomfilter_spark.operators.build import _merge_sorted

    factory = bloom_factory(100_000, 0.01)
    rng = np.random.default_rng(3)
    expect = factory()
    rows = []
    for pid in range(64):
        part = factory()
        part.update(rng.integers(0, 2**62, 200, dtype=np.int64))
        expect.merge(part)
        rows.append((pid, pipeline._pack(part)))

    refs: list = []
    peak = 0

    def tracked(make):
        def make_tracked(*args, **kwargs):
            nonlocal peak
            sk = make(*args, **kwargs)
            refs.append(weakref.ref(sk.words))
            peak = max(peak, sum(r() is not None for r in refs))
            return sk

        return make_tracked

    pids, blobs = zip(*rows[::-1])
    tbl = pa.table({"partition_id": list(pids), "bloom": pa.array(blobs, pa.binary())})
    merged = _merge_sorted(
        tbl, ["partition_id"], {"bloom": tracked(factory)},
        tracked(pipeline._unpack),
    )
    assert len(refs) == 65
    assert peak <= 2
    assert merged["bloom"].to_bytes() == expect.to_bytes()


_PARTIAL_ROWS = 20_000


@pytest.fixture(scope="module")
def packed_partials() -> dict:
    """One partial per pages-suite kind, each folded from one Arrow batch
    through the engine's fold, plus a dense Bloom partial: one of 4 splits
    of a 4M-key build (1M keys, ~14% of its bits set).  No Spark."""
    import pyarrow as pa

    from bloomfilter_spark.operators import pipeline

    rng = np.random.default_rng(7)
    n = _PARTIAL_ROWS
    hosts = np.array([f"h{i}.gamma.net" for i in range(300)], dtype=object)
    host = hosts[rng.zipf(1.5, n) % len(hosts)]
    rb = pa.RecordBatch.from_pydict(
        {
            "url": [f"https://{h}/p/{i}" for i, h in enumerate(host)],
            "text_hash": rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
            "host": list(host),
            "lang": list(rng.choice(["en", "de", "ja", "fr"], n)),
            "text_len": rng.integers(0, 5000, n, dtype=np.int64),
        }
    )
    specs = pipeline.pages_suite_specs(n)
    sks = {name: spec[1]() for name, spec in specs.items()}
    pipeline._fold_partition([rb], sks, {k: v[0] for k, v in specs.items()}, {})
    dense = bloom_factory(4_000_000, 0.01)()
    dense.update(rng.integers(0, 2**62, 1_000_000, dtype=np.int64))
    sks["bloom_dense"] = dense
    return sks


def test_packed_partials_round_trip(packed_partials):
    """Every suite kind and a dense Bloom partial come back bit-identical,
    and packing the same sketch twice gives the same bytes."""
    from bloomfilter_spark.operators import pipeline

    assert 0.1 < packed_partials["bloom_dense"].stats()["load_factor"] < 0.2
    for name, sk in packed_partials.items():
        blob = pipeline._pack(sk)
        assert pipeline._unpack(blob).to_bytes() == sk.to_bytes(), name
        assert pipeline._pack(sk) == blob, name


def _relength(blob: bytes, n: int) -> bytes:
    return n.to_bytes(8, "little") + blob[8:]


def _raw_len(blob: bytes) -> int:
    return int.from_bytes(blob[:8], "little")


@pytest.mark.parametrize(
    "damage",
    [
        lambda b: b[:5],
        lambda b: b[:8],
        lambda b: b[: len(b) // 2],
        lambda b: b[:-1],
        lambda b: _relength(b, _raw_len(b) - 1),
        lambda b: _relength(b, _raw_len(b) + 1),
        lambda b: _relength(b, 2**62),
        lambda b: _relength(b, 2**64 - 1),
    ],
    ids=["short_prefix", "no_frame", "cut_frame", "cut_1", "len_minus_1",
         "len_plus_1", "len_huge", "len_max"],
)
@pytest.mark.parametrize("name", ["bloom_url", "freq_host"])
def test_corrupt_packed_partial_names_it(packed_partials, damage, name):
    """A damaged packed partial raises ValueError naming the partial, on
    both merge paths (one partial at a time: Bloom; merge_all: freq-items)."""
    from bloomfilter_spark.operators import pipeline

    factory = pipeline.pages_suite_specs(_PARTIAL_ROWS)[name][1]
    import pyarrow as pa

    from bloomfilter_spark.operators.build import _merge_sorted

    bad = damage(pipeline._pack(packed_partials[name]))
    tbl = pa.table({"partition_id": [0], name: pa.array([bad], pa.binary())})
    with pytest.raises(ValueError, match=f"packed partial '{name}'.*truncated or corrupt"):
        _merge_sorted(tbl, ["partition_id"], {name: factory}, pipeline._unpack)
