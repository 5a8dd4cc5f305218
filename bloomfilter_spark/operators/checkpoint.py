"""Checkpoint/resume for distributed sketch builds.

North rule (BASELINE.json:14): "resumable from checkpoint with per-partition
lineage + metrics" — a killed job must resume without re-scanning completed
input splits, and the final sketch must be bit-identical to an uninterrupted
build.

There is one checkpoint writer, `pipeline.build_multi_checkpointed`;
`build_sketch_checkpointed` is its one-spec call.  This module holds the
pieces it shares with that writer's callers: the atomic write, the partial
file names, the driver-side resume plan (`fold_pending`) and progress
inspection (`checkpoint_progress`).

Mechanism: each fold task writes its partition's partial blobs to
``<ckpt_dir>/partial-<pid>.bin`` (tmp-file + atomic rename — a crashed task
leaves no half-written partial) plus a ``lineage-<pid>.json`` sidecar with
counters (rows, input_bytes, wall_ms).  The resume decision is the
driver's (`fold_pending`): it lists the durable partials first and
launches the fold job over the pending partition ids only, so a finished
partition gets no task at all — its split is never scheduled, never read,
and no Python worker is spent on it.  A build with nothing pending runs no
fold job.  The merge stage always reads the complete set of partials in
sorted-partition order through the build's own merge tree (bit-identical
results whether the build ran once or resumed five times).  A MANIFEST
pins the columns, sketch geometry, partition count, merge-tree shape and
partial codec; a directory written by a different build is refused with a
ValueError.

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
tests/TEST_COVERAGE_SUMMARY.md:293-302 of the reference); this layer is the
distributed-systems half the north rule adds on top.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame

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
    col: str,
    factory: Callable[[], object],
    ckpt_dir: str,
    fail_on: Callable[[int], bool] | None = None,
):
    """Build one sketch with per-partition checkpointing:
    `build_multi_checkpointed` with a single spec.  Returns (sketch,
    lineage DataFrame); see that function for the resume contract and the
    `fail_on` test hook."""
    from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

    merged, lineage = build_multi_checkpointed(
        df, {"sketch": (col, factory)}, ckpt_dir, fail_on=fail_on
    )
    return merged["sketch"], lineage


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
            # sidecars written before input_bytes was recorded lack it
            totals["input_bytes"] += rec.get("input_bytes", 0)
            totals["wall_ms"] += rec.get("wall_ms", 0.0)
    return {"completed_partitions": done, **totals}
