"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (local[$SPARK_GRAFT_CPUS]); on a real
cluster every setting here is safe to keep. Arrow transfer is mandatory —
all our UDFs are pandas/Arrow-vectorized (input_hint: no per-row Python).
Python workers run under plans/daemon.py whenever its guard holds.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger("bloomfilter_spark")

_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _daemon_conf(master: str, pythonpath: str | None) -> dict:
    """Conf that runs Python workers under plans/daemon.py, or {} (and one
    WARNING) when its guard fails.

    The guard: PySpark 4.1.x, whose ``pyspark.worker.setup_spark_files`` the
    daemon wraps, and a local master, so the package path on the driver is
    also the path on the executors.  The SQL/Arrow path finds the daemon
    module only through ``spark.executorEnv.PYTHONPATH``; without it the task
    fails with "EOFException ... reading the port number".
    """
    import pyspark.worker

    if not pyspark.__version__.startswith("4.1."):
        why = f"PySpark {pyspark.__version__} is not 4.1.x"
    elif not hasattr(pyspark.worker, "setup_spark_files"):
        why = "pyspark.worker has no setup_spark_files"
    elif not (master == "local" or master.startswith("local[")):
        why = f"master {master!r} is not local"
    else:
        # the directory, or the --py-files zip, that holds the package
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        paths = [root] + [p for p in (pythonpath or "").split(os.pathsep)
                          if p and p != root]
        return {
            "spark.python.daemon.module": "bloomfilter_spark.plans.daemon",
            _PYTHONPATH: os.pathsep.join(paths),
        }
    log.warning(
        "bloomfilter_spark.plans.daemon not used (%s): every Python task "
        "re-reads the zip archives on the worker's sys.path", why,
    )
    return {}


def get_spark(
    app_name: str = "bloomfilter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores, not the 200 default
        n = master[len("local[") : -1] if master.startswith("local[") else ""
        # local[N,maxFailures] is a valid master URL — keep only N
        n = n.split(",")[0].strip()
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    conf = dict(extra_conf or {})
    conf.update(_daemon_conf(master, conf.get(_PYTHONPATH)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
