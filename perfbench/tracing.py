"""The traced run: per-layer metrics for one workload.

Timed runs keep tracing off.  The traced run starts a second SparkContext
with the event log on (uncompressed: Spark 4 defaults to zstd, which this
reader cannot open), runs one warm cycle, then one cycle with every
operation under its own `setJobGroup`, then the layer probes below.  Spans
(operation name, start, end; stages belong to the operation whose job
group submitted them) are held in memory and the event log is read when
the context has stopped.  Driver-side kernel rates are timed on columns of
the same table, read with pyarrow.

Layer -> metrics (README.md has the full map):
  sources     scan_s, records_read, partitions, rows_max_over_median
  pipeline    arrow_hop_s, arrow_bytes, fold_stage_s, fold_task_cpu_s,
              partials, driver_merge_s, merge_rounds, merge_round_s
  hashing     str_keys_per_s, u64_keys_per_s
  sketches    <kind>.add_keys_per_s, bloom.contains_{hit,miss}_keys_per_s,
              serde.raw_bytes, serde.deserialize_s, merge_s,
              bloom.load_factor, bloom.fpp_est, bloom.fpp_observed
  build       partial_stage_s, tree_rounds, treeaggregate_s,
              driver_merge_s, result_bytes
  checkpoint  bytes_written, files, reload_s, resume_records_read
  membership  broadcast_bytes, probe_stage_s, candidates, useful_ratio,
              exact_join_shuffle_bytes
  session     jobs, stages, tasks, scheduler_delay_s, task_run_s,
              task_cpu_s, gc_s, shuffle_write_bytes
  trace       overhead_s (traced minus untraced wall, summed over the
              cycle), coverage_min (stage spans plus the driver's head and
              tail over wall, worst operation), driver_gap_s (driver time
              between stages, summed over the cycle)
"""

from __future__ import annotations

import json
import os
import statistics
import time

from harness import WORK, run_cycle, session, warm_workers
from ops import CYCLE, FPP, Operations

# splits of the table the merge-tree probes read: more than the 64-partial
# fan-in, so build_suite runs one distributed merge round, and build_sketch
# runs treeAggregate (commutative kinds) and tree_merge_blobs (KLL)
TREE_SPLITS = 72
KERNEL_REPS = 5


class Spans:
    """Operation spans in epoch milliseconds, the clock the event log uses."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: dict[str, list[float]] = {}
        self.outputs: dict = {}

    def begin(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.ops[name] = [time.time() * 1000.0, None]

    def end(self, name: str) -> None:
        self.ops[name][1] = time.time() * 1000.0
        self.sc.setJobGroup("untraced", "")

    def output(self, name: str, out) -> None:
        self.outputs[name] = out

    def run(self, name: str, fn):
        self.begin(name)
        try:
            out = fn()
        finally:
            self.end(name)
        self.output(name, out)
        return out


# -- event log ----------------------------------------------------------------


def read_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, stages) from every event file under `path`.  Task metrics are
    summed per stage from SparkListenerTaskEnd."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = []
    for d, _, names in os.walk(path):
        # skip Hadoop's .crc sidecars and the empty in-progress marker
        files += [os.path.join(d, n) for n in names
                  if not n.startswith((".", "appstatus"))]
    for fname in sorted(files):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = _stage(stages, si["Stage ID"])
                    st["submit"] = si.get("Submission Time")
                    st["complete"] = si.get("Completion Time")
                    st["tasks"] += si["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    _add_task(_stage(stages, e["Stage ID"]), e)
    return jobs, {k: v for k, v in stages.items() if v["submit"] and v["complete"]}


def _stage(stages: dict, sid: int) -> dict:
    return stages.setdefault(sid, {
        "id": sid, "submit": None, "complete": None, "tasks": 0,
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "duration_ms": 0,
        "input_records": 0, "shuffle_write_bytes": 0, "shuffle_read_records": 0,
    })


def _add_task(st: dict, e: dict) -> None:
    info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
    st["duration_ms"] += info.get("Finish Time", 0) - info.get("Launch Time", 0)
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    st["shuffle_read_records"] += (m.get("Shuffle Read Metrics") or {}).get(
        "Total Records Read", 0)


class OpView:
    """One operation's stages (in submission order) and its driver time."""

    def __init__(self, name: str, span: list, jobs: dict, stages: dict):
        self.name = name
        self.t0, self.t1 = span
        self.wall_s = (self.t1 - self.t0) / 1000.0
        self.jobs = sorted(j for j, v in jobs.items() if v["group"] == name)
        seen, self.by_job = set(), []
        for j in self.jobs:
            sts = [stages[s] for s in sorted(jobs[j]["stages"])
                   if s in stages and s not in seen]
            seen.update(s["id"] for s in sts)
            self.by_job.append(sorted(sts, key=lambda s: s["submit"]))
        self.stages = sorted((s for js in self.by_job for s in js),
                             key=lambda s: s["submit"])
        first = min((s["submit"] for s in self.stages), default=self.t1)
        last = max((s["complete"] for s in self.stages), default=self.t0)
        # driver time before the first stage (planning, job submission) and
        # after the last (collecting results, the driver-side merge)
        self.head_s = max(0.0, first - self.t0) / 1000.0
        self.tail_s = max(0.0, self.t1 - last) / 1000.0
        self.stage_union_s = _union_s(self.stages, self.t0, self.t1)
        # what is left is driver work between stages that the benchmark
        # cannot attribute without spans inside the library
        self.gap_s = max(0.0, self.wall_s - self.stage_union_s - self.head_s - self.tail_s)
        self.coverage = 1.0 - self.gap_s / max(1e-9, self.wall_s)

    def summary(self) -> dict:
        return {
            "wall_s": self.wall_s, "jobs": len(self.jobs),
            "stage_union_s": self.stage_union_s, "driver_head_s": self.head_s,
            "driver_tail_s": self.tail_s, "driver_gap_s": self.gap_s,
            "coverage": self.coverage,
            "stages": [
                {k: s[k] for k in ("id", "tasks", "input_records",
                                   "shuffle_read_records", "shuffle_write_bytes")}
                | {"dur_s": dur(s), "start_s": (s["submit"] - self.t0) / 1000.0}
                for s in self.stages
            ],
        }


def dur(st: dict) -> float:
    return (st["complete"] - st["submit"]) / 1000.0


def _union_s(stages: list, t0: float, t1: float) -> float:
    total, end = 0.0, t0
    for s in sorted(stages, key=lambda s: s["submit"]):
        a, b = max(s["submit"], end), min(s["complete"], t1)
        if b > a:
            total += b - a
        end = max(end, b)
    return total / 1000.0


# -- driver-side kernels -------------------------------------------------------


def _median_time(fn, reps: int = KERNEL_REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def kernel_metrics(table: str, n: int, suite_blobs: dict, bloom, present, absent) -> dict:
    """Driver-side rates of the hash, fold, probe, serde and merge kernels
    on the table's own columns, each the median of KERNEL_REPS runs."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bloomfilter_spark.functions.hashing import hash_any
    from bloomfilter_spark.operators.pipeline import pages_suite_specs
    from bloomfilter_spark.sketches import serde

    cols = pq.read_table(table, columns=["url", "text"])
    urls = cols.column("url").combine_chunks()
    hosts = pc.struct_field(
        pc.extract_regex(urls, r"^https?://(?P<h>[^/?#]+)"), [0])
    text_len = pc.utf8_length(cols.column("text").combine_chunks()).to_numpy(
        zero_copy_only=False).astype("float64")
    ints = np.arange(1 << 20, dtype=np.int64)
    m = {
        "hashing.str_keys_per_s": (len(urls) / _median_time(lambda: hash_any(urls)), "keys/s"),
        "hashing.u64_keys_per_s": (len(ints) / _median_time(lambda: hash_any(ints)), "keys/s"),
    }
    specs = pages_suite_specs(n)
    column = {"url": urls, "host": hosts}
    for kind, spec in (("bloom", "bloom_url"), ("hll", "hll_url"), ("cms", "cms_host"),
                       ("freqitems", "freq_host"), ("kll", "kll_textlen"),
                       ("tdigest", "tdigest_textlen"), ("dds", "dds_textlen")):
        col, factory = specs[spec]
        if col == "text_len":
            def add(f=factory):
                f().update(text_len)
            keys = len(text_len)
        elif kind == "freqitems":
            def add(f=factory, v=column[col]):
                f().update_arrow(v)
            keys = len(urls)
        else:
            h = hash_any(column[col], int(factory().seed))

            def add(f=factory, h=h):
                f().add_hashes(*h)
            keys = len(urls)
        m[f"sketches.{kind}.add_keys_per_s"] = (keys / _median_time(add), "keys/s")

    hit = hash_any(present[: 1 << 20], bloom.seed)
    miss = hash_any(absent[: 1 << 20], bloom.seed)
    m["sketches.bloom.contains_hit_keys_per_s"] = (
        len(hit[0]) / _median_time(lambda: bloom.contains_hashes(*hit)), "keys/s")
    m["sketches.bloom.contains_miss_keys_per_s"] = (
        len(miss[0]) / _median_time(lambda: bloom.contains_hashes(*miss)), "keys/s")

    m["sketches.serde.raw_bytes"] = (sum(len(b) for b in suite_blobs.values()), "bytes")
    m["sketches.serde.deserialize_s"] = (_median_time(
        lambda: [serde.deserialize(b) for b in suite_blobs.values()]), "s")

    def timed_merge():
        pairs = [(serde.deserialize(b), serde.deserialize(b)) for b in suite_blobs.values()]
        t0 = time.perf_counter()
        for a, b in pairs:
            a.merge(b)
        return time.perf_counter() - t0

    m["sketches.merge_s"] = (statistics.median(timed_merge() for _ in range(KERNEL_REPS)), "s")
    stats = bloom.stats()
    m["sketches.bloom.load_factor"] = (stats["load_factor"], "ratio")
    m["sketches.bloom.fpp_est"] = (stats["estimated_fpp"], "ratio")
    return m


# -- the traced run -------------------------------------------------------------


def layer_probes(spark, spans: Spans, ops, tree_table: str, checker) -> dict:
    """Spark jobs that split the cycle's operations into layers; each runs
    under its own job group.  Returns values measured outside the log."""
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.build import bloom_factory, build_sketch, kll_factory
    from bloomfilter_spark.operators.membership import might_contain_udf
    from bloomfilter_spark.operators.pipeline import build_suite, with_page_features
    from bloomfilter_spark.plans.skew import partition_stats

    import checks

    feats = with_page_features(ops.df)

    def passthrough(batches):
        yield from batches

    def sizes(batches):
        import pyarrow as pa

        yield pa.RecordBatch.from_pydict({"b": [sum(rb.nbytes for rb in batches)]})

    out = {}
    spans.run("scan", lambda: feats.write.format("noop").mode("overwrite").save())
    spans.run("arrow_pass", lambda: feats.mapInArrow(passthrough, feats.schema)
              .write.format("noop").mode("overwrite").save())
    out["arrow_bytes"] = spans.run(
        "arrow_bytes", lambda: feats.mapInArrow(sizes, "b long").agg(F.sum("b")).first()[0])
    rows = sorted(r["count"] for r in spans.run("skew", lambda: partition_stats(ops.df).collect()))
    out["rows_max_over_median"] = rows[-1] / statistics.median(rows)

    tree = spark.read.parquet(tree_table)
    ledger = checker.ledger
    suite = spans.run("tree_suite", lambda: build_suite(tree, n_expected=ops.n))
    blobs = {k: v.to_bytes() for k, v in suite.items()}
    values, counts = checks.text_len_hist(checker.exact)

    def check_tree_suite():
        checks.check_identical(blobs, checker.suite_ref, checks.COMMUTATIVE_SUITE)
        for name in ("kll_textlen", "tdigest_textlen"):
            checks.check_quantiles(blobs[name], values, counts)

    ledger.record("tree_suite", None, check_tree_suite)
    bloom = spans.run("tree_bloom", lambda: build_sketch(
        tree.select("url"), "url", bloom_factory(ops.n, FPP)))
    ledger.record("tree_bloom", None, lambda: checks.check_identical(
        {"bloom_url": bloom.to_bytes()}, checker.suite_ref, ["bloom_url"]))
    kll = spans.run("tree_kll", lambda: build_sketch(
        tree.select(F.length("text").alias("text_len")), "text_len", kll_factory(200)))
    ledger.record("tree_kll", None, lambda: checks.check_quantiles(
        kll.to_bytes(), values, counts))

    probe, build = ops.antijoin_sides()

    def candidates():
        sk = build_sketch(build, "url", bloom_factory(ops.n, FPP))
        return probe.filter(might_contain_udf(spark, sk)(F.col("url"))).count()

    out["candidates"] = spans.run("candidates", candidates)
    quarter = checker.exact["quarter_rows"]
    ledger.record("candidates", None, lambda: checks.require(
        out["candidates"] >= quarter,
        f"candidates: {out['candidates']} < {quarter} true matches"))
    out["useful_ratio"] = quarter / max(1, out["candidates"])
    return out


def traced_run(cpus, wl, inp, table, tree_table, checker, untraced) -> dict:
    """Per-layer metrics; `untraced` holds the untraced cycle's timings."""
    ev_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{inp.seed}-{int(time.time() * 1000)}")
    spark = session(cpus, event_log=ev_dir)
    ops = Operations(spark, wl, inp, table, WORK)
    try:
        warm_workers(spark)
        run_cycle(ops, checker, {}, CYCLE)
        spans = Spans(spark)
        traced: dict = {}
        run_cycle(ops, checker, traced, CYCLE, traced=spans)
        ckpt_sizes = [os.path.getsize(os.path.join(ops.ckpt_dir, f))
                      for f in os.listdir(ops.ckpt_dir)]
        probes = layer_probes(spark, spans, ops, tree_table, checker)
        partitions = ops.df.rdd.getNumPartitions()
        broadcast_bytes = len(ops.bloom_sketch.to_bytes())
    finally:
        ops.close()
        spark.stop()  # flushes the event log
    jobs, stages = read_event_log(ev_dir)
    v = {name: OpView(name, span, jobs, stages) for name, span in spans.ops.items()}
    suite_blobs = {k: s.to_bytes() for k, s in spans.outputs["suite"].items()}

    def stage_sum(names, key):
        return sum(s[key] for n in names for s in v[n].stages)

    def first(view):
        return view.stages[:1]

    def rest(view):
        return view.stages[1:]

    fold = [s for s in v["suite"].stages if s["input_records"] > 0]
    rounds = [s for s in v["tree_suite"].stages if s["shuffle_read_records"] > 0]
    builds = ("bloom", "hll", "kll")
    m = {
        "sources.scan_s": (v["scan"].wall_s, "s"),
        "sources.records_read": (sum(s["input_records"] for s in fold), "count"),
        "sources.partitions": (partitions, "count"),
        "sources.rows_max_over_median": (probes["rows_max_over_median"], "ratio"),
        "pipeline.arrow_hop_s": (v["arrow_pass"].wall_s - v["scan"].wall_s, "s"),
        "pipeline.arrow_bytes": (probes["arrow_bytes"], "bytes"),
        "pipeline.fold_stage_s": (sum(dur(s) for s in fold), "s"),
        "pipeline.fold_task_cpu_s": (sum(s["cpu_ns"] for s in fold) / 1e9, "s"),
        "pipeline.partials": (sum(s["tasks"] for s in fold), "count"),
        "pipeline.driver_merge_s": (v["suite"].tail_s, "s"),
        "pipeline.merge_rounds": (len(rounds), "count"),
        "pipeline.merge_round_s": (sum(dur(s) for s in rounds), "s"),
        "build.partial_stage_s": (sum(dur(s) for n in builds for s in first(v[n])), "s"),
        "build.driver_merge_s": (sum(v[n].tail_s for n in builds), "s"),
        "build.result_bytes": (sum(len(spans.outputs[n].to_bytes()) for n in builds), "bytes"),
        "build.tree_rounds": (sum(len(rest(v[n])) for n in ("tree_bloom", "tree_kll")), "count"),
        "build.treeaggregate_s": (sum(dur(s) for s in rest(v["tree_bloom"])), "s"),
        "checkpoint.bytes_written": (sum(ckpt_sizes), "bytes"),
        "checkpoint.files": (len(ckpt_sizes), "count"),
        "checkpoint.reload_s": (sum(dur(s) for js in v["ckpt"].by_job[1:] for s in js), "s"),
        "checkpoint.resume_records_read": (
            sum(s["input_records"] for s in (v["resume"].by_job or [[]])[0]), "count"),
        "membership.broadcast_bytes": (broadcast_bytes, "bytes"),
        "membership.probe_stage_s": (sum(dur(s) for s in first(v["probe"])), "s"),
        "membership.candidates": (probes["candidates"], "count"),
        "membership.useful_ratio": (probes["useful_ratio"], "ratio"),
        "membership.exact_join_shuffle_bytes": (
            stage_sum(["antijoin"], "shuffle_write_bytes"), "bytes"),
        "session.jobs": (sum(len(v[n].jobs) for n in CYCLE), "count"),
        "session.stages": (sum(len(v[n].stages) for n in CYCLE), "count"),
        "session.tasks": (stage_sum(CYCLE, "tasks"), "count"),
        "session.scheduler_delay_s": (
            (stage_sum(CYCLE, "duration_ms") - stage_sum(CYCLE, "run_ms")) / 1000.0, "s"),
        "session.task_run_s": (stage_sum(CYCLE, "run_ms") / 1000.0, "s"),
        "session.task_cpu_s": (stage_sum(CYCLE, "cpu_ns") / 1e9, "s"),
        "session.gc_s": (stage_sum(CYCLE, "gc_ms") / 1000.0, "s"),
        "session.shuffle_write_bytes": (stage_sum(CYCLE, "shuffle_write_bytes"), "bytes"),
        "trace.overhead_s": (
            sum(traced[n][0] - statistics.median(untraced[n]) for n in CYCLE), "s"),
        "trace.coverage_min": (min(v[n].coverage for n in CYCLE), "ratio"),
        "trace.driver_gap_s": (sum(v[n].gap_s for n in CYCLE), "s"),
    }
    m.update(kernel_metrics(table, ops.n, suite_blobs, spans.outputs["bloom"],
                            checker.bloom_present, checker.bloom_absent))
    m["sketches.bloom.fpp_observed"] = (checker.fpp_observed, "ratio")
    with open(ev_dir + ".spans.json", "w") as f:
        json.dump({n: view.summary() for n, view in v.items()}, f, indent=1)
    return m
