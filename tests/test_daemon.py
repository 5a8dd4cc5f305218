"""plans/daemon.py: reused Python workers keep their zip indexes, still see
files added mid-session, and get_spark falls back loudly off its guard."""

from __future__ import annotations

import os
import zipfile
from types import SimpleNamespace

import pytest

import bloomfilter_spark
from bloomfilter_spark.plans import session

DAEMON = "bloomfilter_spark.plans.daemon"


def _worker_setup_modules(spark, n: int) -> tuple[set, set]:
    """The module of ``pyspark.worker.setup_spark_files`` as n SQL (Arrow)
    tasks and n RDD tasks see it."""

    # defined here, not at module level: the workers cannot import tests/
    def _arrow(it):
        import pyarrow as pa
        import pyspark.worker

        for _ in it:
            pass
        yield pa.record_batch(
            [pa.array([pyspark.worker.setup_spark_files.__module__])], names=["m"]
        )

    def _rdd(it):
        import pyspark.worker

        yield pyspark.worker.setup_spark_files.__module__

    arrow = spark.range(0, n, numPartitions=n).mapInArrow(_arrow, "m string")
    rdd = spark.sparkContext.parallelize(range(n), n).mapPartitions(_rdd)
    return {r.m for r in arrow.collect()}, set(rdd.collect())


def test_fast_path_live_on_sql_and_rdd_workers(spark):
    """A silent fallback to the stock daemon fails here, not only in the
    benchmark's wall."""
    par = spark.sparkContext.defaultParallelism
    assert _worker_setup_modules(spark, par) == ({DAEMON}, {DAEMON})


def test_files_added_mid_session_are_imported(spark, tmp_path):
    """addPyFile (.py and .zip) and addFile (.py into the SparkFiles dir)
    after the workers are warm: a later SQL task and a later RDD task both
    import all three."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    # warm every worker first, so the later tasks run on reused workers
    # whose sys.path zips were indexed before the files existed
    _worker_setup_modules(spark, 2 * par)

    tag = f"{os.getpid()}_{tmp_path.name}".replace("-", "_")
    names = {m: f"bfs_midsession_{m}_{tag}" for m in ("pyfile", "zip", "file")}
    for m in ("pyfile", "file"):
        (tmp_path / f"{names[m]}.py").write_text(f"VALUE = {m!r}\n")
    with zipfile.ZipFile(tmp_path / f"{names['zip']}.zip", "w") as z:
        z.writestr(f"{names['zip']}/__init__.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(tmp_path / f"{names['pyfile']}.py"))
    sc.addPyFile(str(tmp_path / f"{names['zip']}.zip"))
    sc.addFile(str(tmp_path / f"{names['file']}.py"))
    mods = sorted(names.values())

    def _values():
        import importlib

        return ",".join(importlib.import_module(n).VALUE for n in mods)

    def _arrow(it):
        import pyarrow as pa

        for _ in it:
            pass
        yield pa.record_batch([pa.array([_values()])], names=["v"])

    def _rdd(it):
        yield _values()

    want = ",".join(m for _, m in sorted((n, m) for m, n in names.items()))
    arrow = spark.range(0, par, numPartitions=par).mapInArrow(
        _arrow, "v string"
    ).collect()
    assert {r.v for r in arrow} == {want}
    assert set(sc.parallelize(range(par), par).mapPartitions(_rdd).collect()) == {want}


class _Builder:
    """Stands in for SparkSession.builder and records the conf it gets."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


def _get_spark_conf(monkeypatch, **kw) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(**kw)
    return builder.conf


def test_get_spark_switches_daemon_on_and_merges_pythonpath(monkeypatch, caplog):
    conf = _get_spark_conf(
        monkeypatch,
        master="local[2]",
        extra_conf={"spark.executorEnv.PYTHONPATH": "/opt/extra"},
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(bloomfilter_spark.__file__)))
    assert conf["spark.python.daemon.module"] == DAEMON
    assert conf["spark.executorEnv.PYTHONPATH"] == root + os.pathsep + "/opt/extra"
    assert not [r for r in caplog.records if r.name == "bloomfilter_spark"]


@pytest.mark.parametrize("case", ["version", "feature", "master"])
def test_get_spark_falls_back_with_one_warning(monkeypatch, caplog, case):
    import pyspark
    import pyspark.worker

    master = "local[2]"
    if case == "version":
        monkeypatch.setattr(pyspark, "__version__", "4.2.0")
    elif case == "feature":
        monkeypatch.delattr(pyspark.worker, "setup_spark_files")
    else:
        master = "spark://head:7077"
    conf = _get_spark_conf(monkeypatch, master=master)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
    warned = [r for r in caplog.records if r.name == "bloomfilter_spark"]
    assert len(warned) == 1 and warned[0].levelname == "WARNING"
    assert "re-reads the zip archives" in warned[0].getMessage()
