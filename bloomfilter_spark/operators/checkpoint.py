"""Checkpoint/resume for distributed sketch builds.

North rule (BASELINE.json:14): "resumable from checkpoint with per-partition
lineage + metrics" — a killed job must resume without re-scanning completed
input splits, and the final sketch must be bit-identical to an uninterrupted
build.

Mechanism: each fold task writes its partition's partial sketch blob to
``<ckpt_dir>/partial-<pid>.bin`` (tmp-file + atomic rename — a crashed task
leaves no half-written partial) plus a ``lineage-<pid>.json`` sidecar with
counters (rows, input_bytes, wall_ms, sketch header).  The resume decision
is the driver's (`fold_pending`): it lists the durable partials first and
launches the fold job over the pending partition ids only, so a finished
partition gets no task at all — its split is never scheduled, never read,
and no Python worker is spent on it.  A build with nothing pending runs no
fold job.  The merge stage always reads the complete set of partials in
sorted-partition order (deterministic n-ary merge ⇒ bit-identical results
whether the build ran once or resumed five times).

Correctness requirements on the caller:
- the input DataFrame's partitioning must be split-stable across runs:
  partition i must hold the same rows every time.  A parquet/Iceberg scan
  of an immutable table with fixed conf qualifies.  Salted or shuffled
  output (plans/skew.salted_repartition) qualifies only when its source is
  such a scan, and then a pending partition still re-runs the whole
  upstream map stage (the shuffle needs every input split);
- ckpt_dir must be shared storage on a real cluster (HDFS/S3/NFS); local
  filesystem suffices for local[N].

The reference has no persistence (serialization is explicitly future work,
/root/reference/tests/TEST_COVERAGE_SUMMARY.md:293-302); this layer is the
distributed-systems half the north rule adds on top.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from bloomfilter_spark.operators.build import _numeric_update
from bloomfilter_spark.sketches import serde

STATS_SCHEMA = (
    "partition_id long, rows long, input_bytes long, wall_ms double, "
    "resumed boolean"
)


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def partial_path(ckpt_dir: str, pid: int) -> str:
    return os.path.join(ckpt_dir, f"partial-{pid:06d}.bin")


def _durable_partials(ckpt_dir: str) -> set[int]:
    # tmp files of an unfinished write end in ".tmp.<pid>", not ".bin"
    return {
        int(name[len("partial-"):-len(".bin")])
        for name in os.listdir(ckpt_dir)
        if name.startswith("partial-") and name.endswith(".bin")
    }


def fold_pending(stats: DataFrame, ckpt_dir: str, n_parts: int) -> DataFrame:
    """Run the fold job over the partitions that have no durable partial.

    `stats` is the checkpointing fold: one STATS_SCHEMA row per partition,
    written by a task that folds its whole split and then leaves
    partial-<pid>.bin behind.  The driver lists the partials first and
    launches `stats` over the pending partition ids only; a task keeps its
    partition's original id, so partial names and the merge order are the
    same as in an uninterrupted build.  Nothing pending ⇒ no job.  Finished
    partitions get their lineage row here (rows/input_bytes = -1,
    resumed=True), so no task is spent on them and their splits are never
    scheduled.

    Returns the lineage DataFrame, one row per partition in id order.
    Raises RuntimeError when a partial is still missing after the job."""
    spark = stats.sparkSession
    done = _durable_partials(ckpt_dir)
    pending = [pid for pid in range(n_parts) if pid not in done]
    recs = [(pid, -1, -1, 0.0, True) for pid in range(n_parts) if pid in done]
    if pending:
        # runs the job; raises if a task fails.  A Row is a tuple in
        # STATS_SCHEMA field order.
        rows = spark.sparkContext.runJob(
            stats.rdd, lambda it: it, partitions=pending
        )
        recs += [tuple(r) for r in rows]
        missing = set(range(n_parts)) - _durable_partials(ckpt_dir)
        if missing:
            raise RuntimeError(
                "checkpoint incomplete: missing partials for partitions "
                f"{sorted(missing)}"
            )
    return spark.createDataFrame(sorted(recs), schema=STATS_SCHEMA)


def build_sketch_checkpointed(
    df: DataFrame,
    cols: list[str] | str,
    factory: Callable[[], object],
    ckpt_dir: str,
    fail_on: Callable[[int], bool] | None = None,
):
    """Build a sketch with per-partition checkpointing.

    A rerun into the same ckpt_dir folds only the partitions without a
    partial (`fold_pending`); the partials are then merged on the driver.
    The input's partitioning must be split-stable across runs (see the
    module docstring).

    Returns (sketch, lineage DataFrame).  `fail_on(pid)` is a test hook: a
    task whose partition satisfies it raises mid-build (simulating a kill),
    AFTER earlier partitions' checkpoints are durable.
    """
    if isinstance(cols, str):
        cols = [cols]
    os.makedirs(ckpt_dir, exist_ok=True)
    pruned = df.select(*cols)
    n_parts = pruned.rdd.getNumPartitions()

    # manifest guard: a checkpoint dir is only resumable for the same
    # (columns, sketch geometry, partition count).  Input *data* identity
    # can't be cheaply verified — the documented contract is an immutable
    # input (pin an Iceberg snapshot-id); this check catches the other
    # silent-corruption reuses (different column, factory, or layout).
    manifest = {
        "cols": cols,
        "n_parts": n_parts,
        "sketch_header": factory().to_bytes()[:64].hex(),
    }
    man_path = os.path.join(ckpt_dir, "MANIFEST.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            prev = json.load(f)
        if prev != manifest:
            raise ValueError(
                "checkpoint dir was written by a different build "
                f"(manifest {prev} != {manifest}); use a fresh ckpt_dir"
            )
    else:
        _atomic_write(man_path, json.dumps(manifest).encode())

    def build_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if fail_on is not None and fail_on(pid):
            raise RuntimeError(f"injected failure in partition {pid}")
        t0 = time.perf_counter()
        sk = factory()
        rows = 0
        nbytes = 0
        for pdf in batches:
            for c in cols:
                _numeric_update(sk, pdf[c])
            rows += len(pdf)
            nbytes += int(pdf.memory_usage(deep=False).sum())
        wall_ms = (time.perf_counter() - t0) * 1000.0
        _atomic_write(partial_path(ckpt_dir, pid), sk.to_bytes())
        _atomic_write(
            os.path.join(ckpt_dir, f"lineage-{pid:06d}.json"),
            json.dumps(
                {
                    "partition_id": pid,
                    "rows": rows,
                    "input_bytes": nbytes,
                    "wall_ms": wall_ms,
                    "cols": cols,
                    "sketch_kind": type(sk).__name__,
                    "completed_at": time.time(),
                }
            ).encode(),
        )
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "rows": [rows],
                "input_bytes": [nbytes],
                "wall_ms": [wall_ms],
                "resumed": [False],
            }
        )

    lineage = fold_pending(
        pruned.mapInPandas(build_iter, schema=STATS_SCHEMA), ckpt_dir, n_parts
    )

    # merge: complete partial set, sorted order → deterministic.  The
    # commutative path STREAMS (open → merge → discard): memory stays at
    # 2 sketches instead of n_parts sketches — a few hundred 1 GB Bloom
    # partials would otherwise OOM the driver.  Compaction sketches
    # (merge_all) keep the single canonical n-ary merge: their partials
    # are KB-sized (KLL/t-digest), and the one-shot order is the pinned
    # determinism contract.
    def _read(pid: int):
        with open(partial_path(ckpt_dir, pid), "rb") as f:
            return serde.deserialize(f.read())

    acc = factory()
    if hasattr(acc, "merge_all"):
        acc.merge_all([_read(pid) for pid in range(n_parts)])
    else:
        for pid in range(n_parts):
            acc.merge(_read(pid))

    return acc, lineage


def checkpoint_progress(ckpt_dir: str) -> dict:
    """Driver-side inspection: which partitions are durable, and their
    aggregate counters."""
    done = []
    totals = {"rows": 0, "input_bytes": 0, "wall_ms": 0.0}
    if not os.path.isdir(ckpt_dir):
        return {"completed_partitions": [], **totals}
    for name in sorted(os.listdir(ckpt_dir)):
        if name.startswith("lineage-") and name.endswith(".json"):
            with open(os.path.join(ckpt_dir, name)) as f:
                rec = json.load(f)
            done.append(rec["partition_id"])
            totals["rows"] += rec.get("rows", 0)
            # suite checkpoints (pipeline.build_multi_checkpointed) write
            # lineage sidecars without input_bytes — tolerate both shapes
            totals["input_bytes"] += rec.get("input_bytes", 0)
            totals["wall_ms"] += rec.get("wall_ms", 0.0)
    return {"completed_partitions": done, **totals}
