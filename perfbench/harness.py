"""What the timed and the traced runs share: paths, the Spark session the
benchmark uses, worker warm-up and one closed-loop cycle of operations."""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


class Deadline(Exception):
    """The run's time is up; it must stop without a result."""


def configure_env(cpus: int) -> None:
    """Environment the JVM and its Python workers inherit: the library from
    this checkout, local[cpus], and every temporary path inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["TMPDIR"] = tmp


def session(cpus: int, event_log: str | None = None):
    from bloomfilter_spark.plans.session import get_spark

    conf = {
        # one parquet file = one scan split, as at corpus scale where every
        # 128 MB file is its own split; without this Spark packs the small
        # benchmark files into cores-many splits
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # read when the first session launches the JVM; keeps its temp files
        # (and no hsperfdata file) out of the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            # Spark 4 compresses event logs with zstd by default, and the
            # reader here has no zstd module
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def warm_workers(spark) -> None:
    """Start every Python worker and import the library in it."""
    def _imp(it):
        import bloomfilter_spark.operators.build  # noqa: F401
        import bloomfilter_spark.operators.pipeline  # noqa: F401

        yield from it

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 2 * par, numPartitions=2 * par).mapInPandas(
        _imp, schema="id long"
    ).count()


def run_cycle(ops, checker, timings: dict, names, traced=None) -> None:
    """One closed-loop pass: each operation starts after the previous one
    finished; outputs are checked outside the timed region."""
    for name in names:
        ops.before(name)
        if traced is not None:
            traced.begin(name)
        t0 = time.perf_counter()
        try:
            out = getattr(ops, name)()
        except Deadline:
            raise
        except Exception as exc:  # an operation that raises counts as failed
            checker.ledger.raised(name, exc)
            continue
        finally:
            if traced is not None:
                traced.end(name)
        timings.setdefault(name, []).append(time.perf_counter() - t0)
        if traced is not None:
            traced.output(name, out)
        checker.check(name, out)
