"""Checkpoint/resume tests (SURVEY.md §5 item 5): kill mid-build, restart,
verify completed partitions are not rebuilt and the final sketch is
bit-identical to an uninterrupted build."""

from __future__ import annotations

import os
import time

import pytest

from bloomfilter_spark.operators.build import bloom_factory, build_sketch, kll_factory
from bloomfilter_spark.operators.checkpoint import (
    build_sketch_checkpointed,
    checkpoint_progress,
)
from bloomfilter_spark.sources.pages import pages_df


def _settled_partials(ckpt: str) -> set[int]:
    """Completed-partition ids once the directory stops changing.

    After a killed job's exception reaches the driver, straggler tasks for
    HEALTHY partitions can still be finishing their atomic partial writes
    — a snapshot taken too early then under-counts what the resume will
    legitimately find and report as resumed.  Poll until two consecutive
    listings agree (the writes are tmp+rename, so a listed file is always
    complete)."""
    import time

    def ls() -> tuple[set[int], frozenset]:
        # stability must cover the lineage sidecars too: build_iter writes
        # partial-N.bin THEN lineage-N.json, and checkpoint_progress counts
        # the lineage files — settling on partials alone could snapshot
        # between the two writes
        names = frozenset(os.listdir(ckpt))
        pids = {
            int(f[len("partial-"):-len(".bin")])
            for f in names
            if f.startswith("partial-") and f.endswith(".bin")
        }
        return pids, names

    prev = ls()
    for _ in range(20):  # ≤ 10 s; task abort is normally instant
        time.sleep(0.5)
        cur = ls()
        if cur == prev:
            return cur[0]
        prev = cur
    return prev[0]


@pytest.fixture()
def pages(spark):
    return pages_df(spark, 1500, num_partitions=8)


def test_kill_and_resume_bit_identical(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    factory = bloom_factory(2048, 0.01)

    # killed runs: partitions ≥ 4 always blow up; 0-3 checkpoint when they
    # get far enough before the job abort cancels them.  Local-mode abort
    # timing can cancel everything on a given attempt, so retry the killed
    # job until a durable prefix exists — monotone progress across killed
    # runs is itself the resume contract.
    done1: set[int] = set()
    for _ in range(5):
        with pytest.raises(Exception):
            build_sketch_checkpointed(
                pages, "url", factory, ckpt, fail_on=lambda pid: pid >= 4
            )
        _settled_partials(ckpt)  # wait out straggler writers (same race
        done1 = set(checkpoint_progress(ckpt)["completed_partitions"])  # as the multi test)
        if done1:
            break
    assert done1 and done1 <= {0, 1, 2, 3}
    assert checkpoint_progress(ckpt)["rows"] > 0

    # run 2: no injected failure — finishes the missing partitions only
    sk, lineage = build_sketch_checkpointed(pages, "url", factory, ckpt)
    lin = lineage.toPandas().set_index("partition_id")
    assert set(lin.index) == set(range(8))
    for pid in done1:
        assert bool(lin.loc[pid, "resumed"]) is True  # not re-scanned
    for pid in set(range(8)) - done1:
        assert bool(lin.loc[pid, "resumed"]) is False

    # bit-identical to an uninterrupted (non-checkpointed) build
    direct = build_sketch(pages, "url", factory)
    assert sk.to_bytes() == direct.to_bytes()


def test_full_resume_no_rescan(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    factory = kll_factory(k=200)
    sk1, _ = build_sketch_checkpointed(
        pages.selectExpr("length(text) as tl"), "tl", factory, ckpt
    )
    # second run: everything resumed from checkpoint, zero rows scanned
    sk2, lineage = build_sketch_checkpointed(
        pages.selectExpr("length(text) as tl"), "tl", factory, ckpt
    )
    lin = lineage.toPandas()
    assert lin.resumed.all()
    assert (lin.rows == -1).all()
    assert sk1.to_bytes() == sk2.to_bytes()


def test_checkpointed_kll_over_fanin_matches_build_sketch(spark, tmp_path):
    """Above the merge fan-in a checkpointed compaction-sketch build merges
    through the same tree as build_sketch, so the bits are the same."""
    df = spark.range(0, 20_000, 1, 72).selectExpr("cast(id * 7 % 1009 as double) as v")
    factory = kll_factory(k=200)
    sk, lineage = build_sketch_checkpointed(df, "v", factory, str(tmp_path / "k"))
    assert lineage.count() == 72
    assert sk.to_bytes() == build_sketch(df, "v", factory).to_bytes()


@pytest.mark.parametrize("fanin", [None, 2])
def test_build_multi_kill_and_resume_bit_identical(spark, pages, tmp_path, fanin):
    """The SUITE path (one-scan multi-sketch) must honor the same resume
    contract: kill mid-build → resume → every sketch bit-identical to an
    uninterrupted build_multi, completed splits never re-scanned.  fanin=2
    over 8 partitions takes the partial-reload path with distributed merge
    rounds; fanin=None merges the 8 partials on the driver."""
    from bloomfilter_spark.operators.build import hll_factory, tdigest_factory
    from bloomfilter_spark.operators.pipeline import (
        build_multi,
        build_multi_checkpointed,
    )

    feats = pages.selectExpr("url", "length(text) as text_len")
    specs = {
        "bloom_url": ("url", bloom_factory(2048, 0.01)),
        "hll_url": ("url", hll_factory(precision=12)),
        "kll_textlen": ("text_len", kll_factory(k=200)),
        "tdigest_textlen": ("text_len", tdigest_factory(delta=200)),
    }
    ckpt = str(tmp_path / "mckpt")

    done1: set[int] = set()
    for _ in range(5):  # see test_kill_and_resume_bit_identical on retries
        with pytest.raises(Exception):
            build_multi_checkpointed(
                feats, specs, ckpt, fanin=fanin, fail_on=lambda pid: pid >= 4
            )
        done1 = _settled_partials(ckpt)
        if done1:
            break
    assert done1 and done1 <= {0, 1, 2, 3}

    merged, lineage = build_multi_checkpointed(feats, specs, ckpt, fanin=fanin)
    lin = lineage.toPandas().set_index("partition_id")
    assert set(lin.index) == set(range(8))
    for pid in done1:
        assert bool(lin.loc[pid, "resumed"]) is True  # not re-scanned
    for pid in set(range(8)) - done1:
        assert bool(lin.loc[pid, "resumed"]) is False

    direct = build_multi(feats, specs, fanin=fanin)
    for name in specs:
        assert merged[name].to_bytes() == direct[name].to_bytes(), name

    # third run: everything resumes, and the result is still identical
    merged2, lineage2 = build_multi_checkpointed(feats, specs, ckpt, fanin=fanin)
    assert lineage2.toPandas().resumed.all()
    for name in specs:
        assert merged2[name].to_bytes() == direct[name].to_bytes(), name


def _writer(kind: str):
    """(df, ckpt_dir) -> merged bytes, lineage, for each checkpoint writer."""
    from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

    factory = bloom_factory(2048, 0.01)
    if kind == "sketch":
        def build(df, ckpt):
            sk, lineage = build_sketch_checkpointed(df, "url", factory, ckpt)
            return sk.to_bytes(), lineage
    else:
        def build(df, ckpt):
            merged, lineage = build_multi_checkpointed(
                df, {"bloom_url": ("url", factory)}, ckpt
            )
            return merged["bloom_url"].to_bytes(), lineage
    return build


def _tasks_launched(spark, build):
    """Run build() in its own job group; return (result, tasks launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"ckpt-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    tasks = sum(
        st.getStageInfo(sid).numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
    )
    return out, tasks


def _worker_pids(spark) -> set[int]:
    """PIDs of the idle Python workers, seen by mapInArrow tasks that run
    side by side; rounds repeat until one shows no new worker."""
    par = spark.sparkContext.defaultParallelism

    def pid_of(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        time.sleep(0.2)  # hold this worker while the round's others start
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})

    seen: set[int] = set()
    for _ in range(8):
        got = {
            r.pid
            for r in spark.range(par, numPartitions=par)
            .mapInArrow(pid_of, "pid long")
            .collect()
        }
        if got <= seen:
            break
        seen |= got
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


@pytest.mark.parametrize("kind", ["sketch", "multi"])
def test_full_resume_launches_no_task_and_keeps_workers(
    spark, pages, tmp_path, kind
):
    """A resume with every partial present runs no Spark job, so no split
    is scheduled and no Python worker is spent (a task that returns without
    draining its Arrow input makes PySpark kill its worker)."""
    build = _writer(kind)
    ckpt = str(tmp_path / "full")
    first, _ = build(pages, ckpt)
    before = _worker_pids(spark)
    (again, lineage), tasks = _tasks_launched(spark, lambda: build(pages, ckpt))
    assert tasks == 0
    assert again == first
    lin = lineage.toPandas()
    assert lin.partition_id.tolist() == list(range(8))
    assert lin.resumed.all() and (lin.rows == -1).all()
    time.sleep(1.0)  # a worker told not to be reused exits after its task
    assert {p for p in before if not _alive(p)} == set()


@pytest.mark.parametrize("kind", ["sketch", "multi"])
def test_partial_resume_folds_only_pending(spark, pages, tmp_path, kind):
    """k of n partials present ⇒ exactly n−k fold tasks, and the result is
    bit-identical to the uninterrupted build."""
    build = _writer(kind)
    ckpt = str(tmp_path / "partial")
    first, _ = build(pages, ckpt)
    lost = {1, 4, 6}
    for pid in lost:
        os.remove(os.path.join(ckpt, f"partial-{pid:06d}.bin"))
    (again, lineage), tasks = _tasks_launched(spark, lambda: build(pages, ckpt))
    assert tasks == len(lost)
    assert again == first
    lin = lineage.toPandas().set_index("partition_id")
    assert set(lin.index[~lin.resumed]) == lost


def test_build_multi_manifest_guard(spark, pages, tmp_path):
    from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

    feats = pages.selectExpr("url", "length(text) as text_len")
    ckpt = str(tmp_path / "mckpt2")
    specs = {"bloom_url": ("url", bloom_factory(2048, 0.01))}
    build_multi_checkpointed(feats, specs, ckpt)
    other = {"bloom_url": ("url", bloom_factory(65536, 0.01))}
    with pytest.raises(ValueError, match="different suite build"):
        build_multi_checkpointed(feats, other, ckpt)
    # a directory of the retired single-sketch writer is refused, not misread
    import json

    old = str(tmp_path / "old_writer")
    os.makedirs(old)
    with open(os.path.join(old, "MANIFEST.json"), "w") as f:
        json.dump({"cols": ["url"], "n_parts": 8, "sketch_header": "00"}, f)
    with pytest.raises(ValueError, match="different suite build"):
        build_sketch_checkpointed(feats, "url", bloom_factory(2048, 0.01), old)
    # a directory whose partials predate the zstd codec has no codec key in
    # its MANIFEST; the resume refuses it before any fold or merge job
    man = os.path.join(ckpt, "MANIFEST.json")
    with open(man) as f:
        prev = json.load(f)
    del prev["codec"]
    with open(man, "w") as f:
        json.dump(prev, f)
    with pytest.raises(ValueError, match="different suite build"):
        build_multi_checkpointed(feats, specs, ckpt)


def test_incomplete_checkpoint_detected(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    factory = bloom_factory(2048, 0.01)
    _ = build_sketch_checkpointed(pages, "url", factory, ckpt)
    # corrupt: remove one partial → merge must refuse, not silently drop data
    os.remove(os.path.join(ckpt, "partial-000003.bin"))
    # a fresh run rebuilds just that partition and still matches direct
    sk, lineage = build_sketch_checkpointed(pages, "url", factory, ckpt)
    lin = lineage.toPandas().set_index("partition_id")
    assert bool(lin.loc[3, "resumed"]) is False
    assert bool(lin.loc[2, "resumed"]) is True
    direct = build_sketch(pages, "url", factory)
    assert sk.to_bytes() == direct.to_bytes()


def test_input_pin_mismatch_rejected(spark, pages, tmp_path):
    """The resume contract's 'immutable input' requirement, enforced: a
    checkpoint dir carries the input pin (e.g. an Iceberg snapshot id) in
    its MANIFEST, and a resume against a different pin must be rejected
    instead of silently mixing input versions."""
    from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

    specs = {"bloom_url": ("url", bloom_factory(2000, 0.01))}
    ckpt = str(tmp_path / "pin")
    build_multi_checkpointed(pages, specs, ckpt, input_pin="iceberg:pages@111")
    # same pin resumes fine
    build_multi_checkpointed(pages, specs, ckpt, input_pin="iceberg:pages@111")
    with pytest.raises(ValueError, match="different suite build"):
        build_multi_checkpointed(
            pages, specs, ckpt, input_pin="iceberg:pages@222"
        )


def test_iceberg_suite_build_and_resume(spark, tmp_path):
    """Suite build + snapshot-pinned resume over a real Iceberg table.
    Skips when the Iceberg runtime jar is absent (this container)."""
    from bloomfilter_spark.sources.tables import (
        current_snapshot_id,
        iceberg_available,
        read_pages,
    )

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the classpath")

    from bloomfilter_spark.operators.pipeline import build_multi_checkpointed
    from bloomfilter_spark.sources.pages import pages_df

    table = "local.db.bf_pages_test"
    pages_df(spark, 1000, num_partitions=4).writeTo(table).createOrReplace()
    sid = current_snapshot_id(spark, table)
    assert sid is not None
    df = read_pages(spark, table, snapshot_id=sid)
    specs = {"bloom_url": ("url", bloom_factory(2000, 0.01))}
    ckpt = str(tmp_path / "ice")
    pin = f"iceberg:{table}@{sid}"
    a, _ = build_multi_checkpointed(df, specs, ckpt, input_pin=pin)
    # resume (all partials present) with the same snapshot pin
    b, lineage = build_multi_checkpointed(df, specs, ckpt, input_pin=pin)
    assert a["bloom_url"].to_bytes() == b["bloom_url"].to_bytes()
    assert lineage.toPandas()["resumed"].all()


def test_progress_reads_suite_lineage_without_input_bytes(spark, tmp_path):
    """checkpoint_progress must tolerate the suite checkpoint's lineage
    sidecar shape (build_multi_checkpointed writes no input_bytes)."""
    import json

    from bloomfilter_spark.operators.checkpoint import checkpoint_progress

    d = tmp_path / "suite_ck"
    d.mkdir()
    (d / "lineage-000000.json").write_text(
        json.dumps({"partition_id": 0, "rows": 10, "wall_ms": 5.0,
                    "cols": ["url"], "sketches": ["bloom_url"],
                    "completed_at": 1.0})
    )
    prog = checkpoint_progress(str(d))
    assert prog["completed_partitions"] == [0]
    assert prog["rows"] == 10 and prog["input_bytes"] == 0
