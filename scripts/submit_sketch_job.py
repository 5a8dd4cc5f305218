#!/usr/bin/env python
"""spark-submit entry point: the north-rule sketch-build job.

Run via scripts/run_spark_submit.sh, which ships the library as a
--py-files zip (BASELINE.json north_rule: "run via spark-submit --py-files
... at two cluster sizes").  The job:

  1. reads (or generates+caches) the Common-Crawl-style pages table,
  2. builds the full sketch suite in ONE scan (operators/pipeline.py),
     optionally checkpointed (--ckpt-dir → build_multi_checkpointed; a
     rerun into the same dir folds only the partitions without a partial),
  3. prints one JSON line: rows, wall seconds, docs/sec, sketch stats, the
     module of the per-task file set-up the Python workers ran
     (bloomfilter_spark.plans.daemon when get_spark's fast path is live),
     and with --ckpt-dir the resumed and folded partition counts read from
     the checkpoint lineage.

The same script at --cores 8 vs --cores 32 is the N→4N scaling-efficiency
evidence recorded in BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--input", default=None, help="existing pages parquet dir")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--ckpt-dir", default=None)
    ap.add_argument("--salts", type=int, default=0,
                    help="salted-repartition width for host skew (0 = off)")
    ap.add_argument("--max-partition-bytes", default="64m",
                    help="scan split size; 64m balances per-task fixed cost "
                         "(sketch alloc + blob serialize) against fan-out "
                         "for the GB-scale fixtures (at petabyte scale the "
                         "128m default is fine)")
    args = ap.parse_args()

    from bloomfilter_spark.plans.session import get_spark

    # the library's one session rule; under --py-files the package (and so
    # the Python daemon module get_spark switches on) lives in the zip
    spark = get_spark(
        app_name="bloomfilter-suite-job",
        master=args.master or (f"local[{args.cores}]" if args.cores else None),
        shuffle_partitions=args.cores,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": args.max_partition_bytes,
            "spark.sql.files.openCostInBytes": "1m",
        },
    )

    from bloomfilter_spark.operators.pipeline import (
        build_suite,
        pages_suite_specs,
        with_page_features,
    )
    from bloomfilter_spark.sources.pages import ensure_pages

    if args.input:
        paths = args.input.split(",")
    else:
        paths = [ensure_pages(spark, args.rows)]
    pages = spark.read.parquet(*paths)
    n_rows = pages.count()

    # warm the python-worker pool (worker spawn + numpy/pandas import is
    # ~1s/worker; a real long-running cluster pays this once, not per job)
    # and ask each worker which per-task file set-up it runs
    par = spark.sparkContext.defaultParallelism

    def _warm(it):
        import pandas as pd
        import pyspark.worker

        for _ in it:
            pass
        yield pd.DataFrame({"m": [pyspark.worker.setup_spark_files.__module__]})

    worker_setup = sorted({
        r.m for r in spark.range(0, par * 4, numPartitions=par * 4)
        .mapInPandas(_warm, schema="m string").collect()
    })

    t0 = time.perf_counter()
    partitions = None
    if args.ckpt_dir:
        from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

        suite, lineage = build_multi_checkpointed(
            with_page_features(pages), pages_suite_specs(n_rows), args.ckpt_dir
        )
        resumed = lineage.toPandas()["resumed"]
        partitions = {
            "resumed": int(resumed.sum()),
            "folded": int((~resumed).sum()),
        }
    else:
        df = pages
        if args.salts:
            from bloomfilter_spark.plans.skew import salted_repartition

            df = salted_repartition(
                df, "url", spark.sparkContext.defaultParallelism, args.salts
            )
        suite = build_suite(df, n_expected=n_rows)
    wall = time.perf_counter() - t0

    out = {
        "rows": n_rows,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_rows / wall, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
        "worker_setup_spark_files": worker_setup,
        "sketches": sorted(suite),
        "bloom_fpp_est": round(suite["bloom_url"].estimated_fpp(), 6),
    }
    out["hll_url_est"] = round(suite["hll_url"].estimate(), 1)
    if partitions is not None:
        out["partitions"] = partitions
    print(json.dumps(out))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
