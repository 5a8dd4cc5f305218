"""Benchmark inputs: seed -> tables and keys, plus the exact answers the
output checks compare against.

A seed picks one of SLOTS id-range slices of one logical pages table
(`pages_df(spark, n, splits, start=slot*n, table_rows=SLOTS*n)`; every row
is a pure function of its id) and an offset for the int64 membership keys.
The slot count bounds how many tables a checkout ever materialises.  Tables and
exact answers are built once per slot, before any clock starts, under the
work directory; the library only ever sees the generated tables.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

SLOTS = 4
PAGES_ROWS = 64_000
# one split per core on the 4-core reference box; fixed, so the layout does
# not depend on the machine
SPLITS = 4
TOP_HOSTS = 20


@dataclass(frozen=True)
class Workload:
    name: str
    bloom_keys: str  # "url": the table's urls; "int": an int64 key range
    int_keys: int = 0  # size of the int64 key range


# why each workload exists: README.md and BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in (
        Workload("suite", bloom_keys="url"),
        Workload("membership", bloom_keys="int", int_keys=4_000_000),
    )
}


@dataclass(frozen=True)
class Inputs:
    seed: int
    slot: int
    start: int  # first pages id of the slice
    rows: int
    key_offset: int  # first int64 membership key


def inputs_for(seed: int) -> Inputs:
    slot = seed % SLOTS
    return Inputs(
        seed=seed,
        slot=slot,
        start=slot * PAGES_ROWS,
        rows=PAGES_ROWS,
        # distinct, non-overlapping 2^32-wide key ranges per seed
        key_offset=(seed % (1 << 20)) << 32,
    )


def table_path(work: str, inp: Inputs, splits: int) -> str:
    return os.path.join(work, "tables", f"pages_slot{inp.slot}_{splits}splits")


def ensure_tables(spark, work: str, inp: Inputs, splits: int = SPLITS) -> str:
    """Materialise the slot's pages slice as `splits` parquet files, one
    generator partition per file.  Returns its path."""
    from bloomfilter_spark.sources.pages import pages_df

    path = table_path(work, inp, splits)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages_df(spark, inp.rows, splits, start=inp.start,
                 table_rows=SLOTS * inp.rows).write.mode("overwrite").parquet(path)
    return path


def exact_answers(spark, work: str, inp: Inputs) -> dict:
    """Exact answers for one slot, by plain Spark aggregation (no sketch
    code), cached as JSON beside the tables."""
    from pyspark.sql import functions as F

    path = exact_path(work, inp)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    df = spark.read.parquet(table_path(work, inp, SPLITS))
    feats = df.select(
        "url",
        "lang",
        F.regexp_extract("url", r"^https?://([^/?#]+)", 1).alias("host"),
        F.length("text").alias("text_len"),
        page_id(F.col("url")).alias("id"),
    ).cache()
    n = feats.count()
    hosts = feats.groupBy("host").count()
    top = hosts.orderBy(F.desc("count"), "host").limit(TOP_HOSTS).collect()
    langs = feats.groupBy("lang").count().collect()
    hist = feats.groupBy("text_len").count().orderBy("text_len").collect()
    kept = feats.filter(F.col("id") % 4 != 0).agg(
        F.count(F.lit(1)), F.sum("id")
    ).first()
    out = {
        "rows": n,
        "distinct_urls": feats.select("url").distinct().count(),
        "distinct_hosts": hosts.count(),
        "top_hosts": [[r["host"], r["count"]] for r in top],
        "langs": [[r["lang"], r["count"]] for r in langs],
        "text_len_hist": [[r["text_len"], r["count"]] for r in hist],
        "antijoin": [int(kept[0]), int(kept[1])],
        "quarter_rows": n - int(kept[0]),
        "even_rows": feats.filter(F.col("id") % 2 == 0).count(),
    }
    feats.unpersist()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def exact_path(work: str, inp: Inputs) -> str:
    return os.path.join(work, "exact", f"slot{inp.slot}.json")


def page_id(url_col):
    """The generator's row id, recovered from the url's `/p<id>` suffix."""
    from pyspark.sql import functions as F

    return F.regexp_extract(url_col, r"/p(\d+)$", 1).cast("long")
