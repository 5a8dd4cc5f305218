#!/usr/bin/env python3
"""Closed-loop sketch benchmark on local[nproc].

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One driver process runs the workload's
operations (ops.CYCLE) one after another, each starting when the previous
one has finished, checks every output (checks.py), and prints one JSON
object as the last line of stdout.  With --trace 0 it reports the
end-to-end metrics; with --trace 1 it runs one untraced and one traced
cycle plus the layer probes of tracing.py and reports the per-layer metrics.
Everything it writes goes under .perfbench/ in the checkout; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

from harness import (
    ROOT, WORK, Deadline, configure_env, run_cycle, session, warm_workers,
)

SETUPS = 3  # setup_s is the median of this many session set-ups
DEADLINE_S = 170  # the run must end within 180 s


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def parse_args(argv=None):
    from inputs import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def open_tables(spark, table: str, rows: int, splits: int):
    df = spark.read.parquet(table)
    got_rows, got_splits = df.count(), df.rdd.getNumPartitions()
    if (got_rows, got_splits) != (rows, splits):
        raise RuntimeError(
            f"{table}: {got_rows} rows in {got_splits} splits, "
            f"expected {rows} in {splits}"
        )
    return df


def prepare(cpus: int, inp, extra_splits=()) -> tuple[str, dict]:
    """Tables and exact answers for this seed, built before any clock."""
    from inputs import SPLITS, ensure_tables, exact_answers, exact_path, table_path

    table = table_path(WORK, inp, SPLITS)
    exact_file = exact_path(WORK, inp)
    tables = [table] + [table_path(WORK, inp, s) for s in extra_splits]
    if os.path.exists(exact_file) and all(
        os.path.exists(os.path.join(t, "_SUCCESS")) for t in tables
    ):
        with open(exact_file) as f:
            return table, json.load(f)
    spark = session(cpus)
    try:
        for splits in extra_splits:
            ensure_tables(spark, WORK, inp, splits)
        return ensure_tables(spark, WORK, inp), exact_answers(spark, WORK, inp)
    finally:
        spark.stop()


def canary(spark) -> float:
    """bench.py's box-speed canary: a fixed shuffle+agg micro-job, median of
    5.  Recorded beside the metrics, never used to scale them."""
    par = spark.sparkContext.defaultParallelism
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 1_000_000, numPartitions=par).selectExpr(
            "id % 32 AS g"
        ).groupBy("g").count().collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def check_keys(wl, inp, table: str, exact: dict):
    """Driver-side key sets for the output checks: every inserted url and
    int key, and keys known to be absent."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ops import ABSENT_SUFFIX

    urls = pq.read_table(table, columns=["url"]).column("url").combine_chunks()
    absent_urls = pc.binary_join_element_wise(urls, ABSENT_SUFFIX, "")
    if wl.bloom_keys == "url":
        present, absent = urls, absent_urls
        evens = exact["even_rows"]
        probe_exact = (evens, inp.rows - evens)
    else:
        k, off = wl.int_keys, inp.key_offset
        present = np.arange(off, off + k, dtype=np.int64)
        absent = np.arange(off + k, off + k + 200_000, dtype=np.int64)
        probe_exact = (k - k // 2, k // 2)
    return urls, absent_urls, present, absent, probe_exact


def end_to_end(timings: dict, setup_s: float, ops) -> dict:
    from ops import CYCLE

    med = {k: statistics.median(v) for k, v in timings.items()}
    missing = [k for k in CYCLE if k not in med]
    if missing:
        raise RuntimeError(f"no successful run of {missing}")
    return {
        "setup_s": (setup_s, "s"),
        "suite_docs_per_s": (ops.n / med["suite"], "docs/s"),
        "ckpt_docs_per_s": (ops.n / med["ckpt"], "docs/s"),
        "resume_s": (med["resume"], "s"),
        "bloom_build_keys_per_s": (ops.n_keys / med["bloom"], "keys/s"),
        "hll_build_docs_per_s": (ops.n / med["hll"], "docs/s"),
        "kll_build_docs_per_s": (ops.n / med["kll"], "docs/s"),
        "probe_keys_per_s": (ops.n_probe / med["probe"], "keys/s"),
        "antijoin_s": (med["antijoin"], "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bloomfilter_spark", "__init__.py")):
        print(f"perfbench: no bloomfilter_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # the JVM and libraries may write to fd 1; only the result line goes to
    # the real stdout
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    cpus = len(os.sched_getaffinity(0))
    configure_env(cpus)
    from checks import Ledger, OutputChecker
    from inputs import SPLITS, WORKLOADS, inputs_for
    from ops import CYCLE, Operations

    wl = WORKLOADS[args.workload]
    inp = inputs_for(args.seed)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "cpus": cpus, "loadavg_start": os.getloadavg()}
    spark = ops = None
    try:
        from tracing import TREE_SPLITS

        table, exact = prepare(cpus, inp, (TREE_SPLITS,) if args.trace else ())

        setups = []
        # the traced run reports no setup_s, so it sets up once
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session(cpus)
            warm_workers(spark)
            open_tables(spark, table, inp.rows, SPLITS)
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        record["setup_s"] = setups
        record["canary_sec"] = canary(spark)

        ledger = Ledger()
        keys = check_keys(wl, inp, table, exact)
        checker = OutputChecker(ledger, exact, *keys, url_keys=wl.bloom_keys == "url")
        ops = Operations(spark, wl, inp, table, WORK)
        warm: dict = {}
        run_cycle(ops, checker, warm, CYCLE)  # untimed, still checked
        timings: dict = {}
        if args.trace:
            import tracing
            from inputs import table_path

            run_cycle(ops, checker, timings, CYCLE)
            ops.close()
            spark.stop()
            spark = ops = None
            metrics = tracing.traced_run(
                cpus, wl, inp, table, table_path(WORK, inp, TREE_SPLITS),
                checker, timings,
            )
        else:
            t_end = time.perf_counter() + args.seconds
            while time.perf_counter() < t_end:
                run_cycle(ops, checker, timings, CYCLE)
            metrics = end_to_end(timings, setup_s, ops)
        record.update(
            timings=timings, warm=warm, errors=ledger.errors,
            loadavg_end=os.getloadavg(),
        )
    except Deadline as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if ops is not None:
            ops.close()
        stop_jvm(spark)
    write_record(record, metrics)

    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for err in ledger.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # keep going: the JVM must still be stopped
            print(f"perfbench: spark.stop failed: {exc}", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:
        print(f"perfbench: gateway shutdown failed: {exc}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_record(record: dict, metrics: dict) -> None:
    """The run record: per-operation timings, set-ups, canary and loadavg."""
    out = os.path.join(WORK, "runs")
    os.makedirs(out, exist_ok=True)
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{int(time.time() * 1000)}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
