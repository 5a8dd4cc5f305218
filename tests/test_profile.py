"""One-scan table profiler (operators/profile.py) + the exact-stats
mini-sketches it rides on (sketches/moments.py)."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.moments import (
    MODE_BINARY,
    MODE_UTF8,
    MomentsSketch,
    StringStatsSketch,
)


class TestMomentsSketch:
    def test_single_pass_equals_merged(self):
        rng = np.random.default_rng(7)
        data = rng.normal(50, 12, size=10_000)
        one = MomentsSketch()
        one.update(data)
        merged = MomentsSketch()
        for chunk in np.array_split(data, 13):
            part = MomentsSketch()
            part.update(chunk)
            merged.merge(part)
        assert merged.n == one.n == 10_000
        assert merged.minv == one.minv and merged.maxv == one.maxv
        assert math.isclose(merged.mean(), float(data.mean()), rel_tol=1e-12)
        assert math.isclose(merged.std(), float(data.std()), rel_tol=1e-9)

    def test_nonfinite_excluded_but_counted(self):
        sk = MomentsSketch()
        sk.update(np.array([1.0, math.nan, math.inf, -math.inf, 3.0]))
        assert sk.n == 2 and sk.n_nonfinite == 3 and sk.n_added == 5
        assert sk.min() == 1.0 and sk.max() == 3.0 and sk.mean() == 2.0

    def test_empty_queries_are_none(self):
        sk = MomentsSketch()
        assert sk.mean() is None and sk.min() is None and sk.std() is None
        sk2 = MomentsSketch()
        sk2.update(np.array([4.0]))
        sk.merge(sk2)  # empty absorbs non-empty
        assert sk.min() == sk.max() == 4.0 and sk.variance() == 0.0

    def test_serde_roundtrip(self):
        sk = MomentsSketch()
        sk.update(np.array([1.5, -2.5, math.nan]))
        rt = serde.deserialize(sk.to_bytes())
        assert rt == sk and rt.stats() == sk.stats()

    def test_merge_type_guard(self):
        with pytest.raises(ValueError, match="MomentsSketch"):
            MomentsSketch().merge(StringStatsSketch())

    def test_old_sum_layout_rejected(self):
        # layout 1: empty params, (sum, sum-of-squares) of [1, 2, 3] in
        # the slots layout 2 reads as (mean, M2)
        payload = MomentsSketch._PAYLOAD.pack(3, 0, 1.0, 3.0, 6.0, 14.0)
        old = serde.pack(serde.KIND_MOMENTS, 0, 3, b"", payload)
        with pytest.raises(ValueError, match="layout 1"):
            serde.deserialize(old)


class TestStringStatsSketch:
    def test_fold_and_merge(self):
        a = StringStatsSketch()
        a.update_arrow(pa.array(["abc", "", "zebra"]))
        b = StringStatsSketch()
        b.update_arrow(pa.array(["aardvark", "yy"]))
        a.merge(b)
        assert a.n == 5 and a.n_empty == 1
        assert a.len_min == 0 and a.len_max == 8
        assert a.min_value() == "" and a.max_value() == "zebra"
        assert math.isclose(a.avg_len(), (3 + 0 + 5 + 8 + 2) / 5)

    def test_utf8_lengths_are_characters(self):
        sk = StringStatsSketch()
        sk.update_arrow(pa.array(["émile"]))  # 5 chars, 6 utf8 bytes
        assert sk.len_min == sk.len_max == 5

    def test_binary_mode_lengths_are_bytes(self):
        sk = StringStatsSketch()
        sk.update_arrow(pa.array([b"\x00\x01\x02", b"\xff"], type=pa.binary()))
        assert sk.mode == MODE_BINARY
        assert sk.len_min == 1 and sk.len_max == 3
        assert sk.min_value() == b"\x00\x01\x02" and sk.max_value() == b"\xff"

    def test_mode_mismatch_rejected(self):
        s = StringStatsSketch()
        s.update_arrow(pa.array(["x"]))
        assert s.mode == MODE_UTF8
        b = StringStatsSketch()
        b.update_arrow(pa.array([b"y"], type=pa.binary()))
        with pytest.raises(ValueError, match="mode mismatch"):
            s.merge(b)

    def test_empty_merges_both_directions(self):
        s = StringStatsSketch()
        s.update_arrow(pa.array(["abc"]))
        e = StringStatsSketch()
        e.merge(s)
        assert e.stats() == s.stats()
        s.merge(StringStatsSketch())  # non-empty absorbs empty
        assert s.n == 1 and s.min_value() == "abc"

    def test_serde_roundtrip_including_binary(self):
        for arr in (pa.array(["aa", "zz", ""]),
                    pa.array([b"\x00", b"\xfe\xff"], type=pa.binary())):
            sk = StringStatsSketch()
            sk.update_arrow(arr)
            rt = serde.deserialize(sk.to_bytes())
            assert rt == sk and rt.stats() == sk.stats()
        # empty sketch roundtrip
        rt = serde.deserialize(StringStatsSketch().to_bytes())
        assert rt.n == 0 and rt.min_val is None


class TestProfileTable:
    @pytest.fixture(scope="class")
    def prof(self, spark, documents):
        from bloomfilter_spark.operators.profile import profile_table

        rows = profile_table(documents, freq_capacity=4096).collect()
        return {r["column"]: r for r in rows}

    def test_exact_fields_match_truth(self, prof, documents):
        import pyspark.sql.functions as F

        truth = documents.agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
            F.avg("n_chars").alias("avg"),
            F.min("lang").alias("lang_min"),
            F.max("lang").alias("lang_max"),
            F.avg(F.length("text")).alias("text_avg_len"),
        ).first()
        nc = prof["n_chars"]
        assert nc["n_rows"] == truth["n"] and nc["n_nulls"] == 0
        assert nc["min_num"] == float(truth["mn"])
        assert nc["max_num"] == float(truth["mx"])
        assert math.isclose(nc["mean"], truth["avg"], rel_tol=1e-12)
        lang = prof["lang"]
        assert lang["min_str"] == truth["lang_min"]
        assert lang["max_str"] == truth["lang_max"]
        text = prof["text"]
        assert math.isclose(text["avg_len"], truth["text_avg_len"], rel_tol=1e-12)

    def test_distinct_and_quantiles_within_bounds(self, prof, documents):
        import pyspark.sql.functions as F

        exact = documents.agg(
            F.countDistinct("lang").alias("lang_d"),
            F.countDistinct("doc_id").alias("id_d"),
            F.expr("percentile(n_chars, 0.5)").alias("med"),
        ).first()
        assert abs(prof["lang"]["distinct_est"] - exact["lang_d"]) <= max(
            2, 0.05 * exact["lang_d"]
        )
        assert abs(prof["doc_id"]["distinct_est"] - exact["id_d"]) <= max(
            2, 0.05 * exact["id_d"]
        )
        q25, q50, q75 = prof["n_chars"]["quantile_est"]
        n = prof["n_chars"]["n_rows"]
        ranked = documents.agg(
            F.avg((F.col("n_chars") <= q50).cast("double")).alias("r")
        ).first()["r"]
        assert abs(ranked - 0.5) <= 0.05
        assert q25 <= q50 <= q75

    def test_topk_exact_below_capacity(self, prof, documents):
        import pyspark.sql.functions as F

        truth = (
            documents.groupBy("lang").count()
            .orderBy(F.desc("count"), "lang").first()
        )
        lang = prof["lang"]
        assert lang["top_values"][0] == truth["lang"]
        assert lang["top_counts"][0] == truth["count"]
        assert lang["top_error_bound"] == 0  # distinct ≤ capacity ⇒ exact

    def test_partitioning_invariance_of_exact_fields(self, spark, documents):
        from bloomfilter_spark.operators.profile import profile_table

        base = {
            r["column"]: r
            for r in profile_table(
                documents, columns=["n_chars", "lang"]
            ).collect()
        }
        rep = {
            r["column"]: r
            for r in profile_table(
                documents.repartition(7), columns=["n_chars", "lang"]
            ).collect()
        }
        for c in ("n_chars", "lang"):
            for f in ("n_rows", "n_nulls", "min_num", "max_num",
                      "min_str", "max_str", "len_min", "len_max"):
                assert base[c][f] == rep[c][f], (c, f)
            # HLL registers are a pure function of the value SET — the
            # estimate is bit-identical under any partitioning
            assert base[c]["distinct_est"] == rep[c]["distinct_est"]

    def test_column_selection_and_errors(self, spark, documents):
        from bloomfilter_spark.operators.profile import profile_table

        got = profile_table(documents, columns=["lang"]).collect()
        assert [r["column"] for r in got] == ["lang"]
        with pytest.raises(ValueError, match="not in DataFrame"):
            profile_table(documents, columns=["nope"])

    def test_bool_timestamp_and_nulls(self, spark):
        import datetime

        from bloomfilter_spark.operators.profile import profile_table

        df = spark.createDataFrame(
            [
                (True, datetime.datetime(2024, 1, 1), "a"),
                (False, datetime.datetime(2024, 1, 3), None),
                (None, None, "b"),
            ],
            "flag boolean, ts timestamp, s string",
        )
        prof = {r["column"]: r for r in profile_table(df).collect()}
        assert prof["flag"]["kind"] == "bool"
        assert prof["flag"]["n_nulls"] == 1
        assert prof["flag"]["min_num"] == 0.0 and prof["flag"]["max_num"] == 1.0
        assert prof["ts"]["kind"] == "timestamp"
        assert prof["ts"]["n_nulls"] == 1
        assert prof["ts"]["max_num"] > prof["ts"]["min_num"] > 1e15  # epoch µs
        assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_values"] == 2


class TestSampleSketch:
    """KMV example-value sample (sketches/sample.py): the kept set is a
    pure function of the value SET (k smallest md5 hashes), so one-shot,
    chunked-any-order, and the SQL replay ORDER BY md5(v) LIMIT k must all
    agree bit-for-bit."""

    @staticmethod
    def _md5(v: str) -> str:
        import hashlib

        return hashlib.md5(v.encode("utf-8")).hexdigest()

    def _pairs(self, values):
        return [(self._md5(v), v) for v in values]

    def test_matches_sql_replay_rule(self):
        from bloomfilter_spark.sketches.sample import SampleSketch

        values = [f"doc-{i}" for i in range(200)] + ["doc-7"] * 50
        sk = SampleSketch(8)
        sk.update_pairs(self._pairs(values))
        expect = sorted({(self._md5(v), v) for v in values})[:8]
        assert sk.values() == [v for _, v in expect]
        assert sk.n_added == 250

    def test_arrow_fold_equals_python_fold(self):
        from bloomfilter_spark.sketches.sample import SampleSketch

        values = [f"v{i % 37}" for i in range(500)]
        py = SampleSketch(5)
        py.update_pairs(self._pairs(values))
        ar = SampleSketch(5)
        ar.update_arrow(
            pa.array(
                [{"h": self._md5(v), "v": v} for v in values],
                type=pa.struct([("h", pa.string()), ("v", pa.string())]),
            )
        )
        assert ar.values() == py.values()
        assert ar.to_bytes() == py.to_bytes()

    def test_merge_order_invariance(self):
        import random

        from bloomfilter_spark.sketches.sample import SampleSketch

        values = [f"item-{i}" for i in range(300)]
        one = SampleSketch(16)
        one.update_pairs(self._pairs(values))
        rng = random.Random(11)
        for trial in range(3):
            shuffled = values[:]
            rng.shuffle(shuffled)
            chunks = [shuffled[i::7] for i in range(7)]
            rng.shuffle(chunks)
            merged = SampleSketch(16)
            for ch in chunks:
                part = SampleSketch(16)
                part.update_pairs(self._pairs(ch))
                merged.merge(part)
            assert merged.values() == one.values()

    def test_serde_roundtrip(self):
        from bloomfilter_spark.sketches.sample import SampleSketch

        sk = SampleSketch(4)
        sk.update_pairs(self._pairs(["a", "b", "c", "d", "e", "f"]))
        rt = serde.deserialize(sk.to_bytes())
        assert rt == sk and rt.values() == sk.values()
        assert rt.stats() == sk.stats()

    def test_guards(self):
        from bloomfilter_spark.sketches.sample import SampleSketch

        with pytest.raises(ValueError, match="sample: k"):
            SampleSketch(0)
        with pytest.raises(ValueError, match="same k"):
            SampleSketch(4).merge(SampleSketch(8))
        with pytest.raises(ValueError, match="struct"):
            SampleSketch(4).update_arrow(pa.array(["x"]))

    def test_profile_sample_values_match_replay(self, spark, documents):
        import pyspark.sql.functions as F

        from bloomfilter_spark.operators.profile import profile_table

        prof = {
            r["column"]: r
            for r in profile_table(
                documents, columns=["lang", "doc_id"], sample_k=3
            ).collect()
        }
        for c in ("lang", "doc_id"):
            expect = [
                r["v"]
                for r in documents.filter(F.col(c).isNotNull())
                .select(F.col(c).cast("string").alias("v"))
                .distinct()
                .select("v", F.md5(F.col("v").cast("binary")).alias("h"))
                .orderBy("h")
                .limit(3)
                .collect()
            ]
            assert prof[c]["sample_values"] == expect, c
