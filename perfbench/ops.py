"""The benchmark's operations.  Each one calls a public library entry point
on the workload's generated inputs and returns what a caller keeps (a
sketch, a dict of sketches, or a small result row).  Nothing here reaches
into library internals."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from bloomfilter_spark.operators.build import (
    bloom_factory,
    build_sketch,
    hll_factory,
    kll_factory,
)
from bloomfilter_spark.operators.membership import bloom_anti_join, might_contain_udf
from bloomfilter_spark.operators.pipeline import (
    build_multi_checkpointed,
    build_suite,
    pages_suite_specs,
    with_page_features,
)

from inputs import page_id

# in the order one cycle runs them; probe uses the Bloom the last `bloom` built
CYCLE = ("suite", "ckpt", "resume", "bloom", "hll", "kll", "probe", "antijoin")
FPP = 0.01
# appended to a url, gives a key the table cannot hold
ABSENT_SUFFIX = "#absent"


class Operations:
    def __init__(self, spark, workload, inp, table: str, work: str):
        self.spark = spark
        self.work = work
        self.n = inp.rows
        self.df = spark.read.parquet(table)
        self.ckpt_dir = None
        self._ckpt_seq = 0
        self.bloom_sketch = None
        if workload.bloom_keys == "url":
            self.keys, self.key_col, self.n_keys = self.df.select("url"), "url", self.n
            even = page_id(F.col("url")) % 2 == 0
            self.probe_df = self.df.select(
                F.when(even, F.col("url"))
                .otherwise(F.concat(F.col("url"), F.lit(ABSENT_SUFFIX)))
                .alias("key"),
                even.alias("present"),
            )
            self.n_probe = self.n
        else:
            k, off = workload.int_keys, inp.key_offset
            self.keys, self.key_col, self.n_keys = spark.range(off, off + k), "id", k
            # half the probe range overlaps the inserted keys
            self.probe_df = spark.range(off + k // 2, off + k // 2 + k).select(
                F.col("id").alias("key"), (F.col("id") < off + k).alias("present")
            )
            self.n_probe = k

    # -- timed operations ----------------------------------------------------

    def suite(self):
        return build_suite(self.df, n_expected=self.n)

    def ckpt(self):
        return build_multi_checkpointed(
            with_page_features(self.df), pages_suite_specs(self.n), self.ckpt_dir
        )[0]

    def resume(self):
        return self.ckpt()

    def bloom(self):
        self.bloom_sketch = build_sketch(
            self.keys, self.key_col, bloom_factory(self.n_keys, FPP)
        )
        return self.bloom_sketch

    def hll(self):
        return build_sketch(self.df, "url", hll_factory(14))

    def kll(self):
        return build_sketch(
            self.df.select(F.length("text").alias("text_len")),
            "text_len",
            kll_factory(200),
        )

    def probe(self):
        hit = might_contain_udf(self.spark, self.bloom_sketch)
        rows = (
            self.probe_df.groupBy("present", hit(F.col("key")).alias("hit"))
            .count()
            .collect()
        )
        return {(r["present"], r["hit"]): r["count"] for r in rows}

    def antijoin(self):
        probe, build = self.antijoin_sides()
        r = (
            bloom_anti_join(probe, "url", build, "url", n_expected=self.n)
            .agg(F.count(F.lit(1)), F.sum("id"))
            .first()
        )
        return int(r[0]), int(r[1] or 0)

    # -- untimed bookkeeping around the timed calls --------------------------

    def antijoin_sides(self):
        probe = self.df.select("url", page_id(F.col("url")).alias("id"))
        return probe, probe.filter(F.col("id") % 4 == 0).select("url")

    def before(self, name: str) -> None:
        if name == "ckpt":
            self._drop_ckpt()
            self._ckpt_seq += 1
            self.ckpt_dir = os.path.join(self.work, "ckpt", f"c{self._ckpt_seq}")

    def close(self) -> None:
        self._drop_ckpt()

    def _drop_ckpt(self) -> None:
        if self.ckpt_dir:
            shutil.rmtree(self.ckpt_dir, ignore_errors=True)

