"""PySpark daemon whose reused Python workers keep their zip archives' indexes.

PySpark 4.1's ``worker_util.setup_spark_files`` ends every task's set-up
with ``importlib.invalidate_caches()``.  Since Python 3.10 that makes each
zipimporter on ``sys.path`` re-read its archive's central directory
(pyspark.zip, the py4j zip and the spark-core jar: ~27k entries, ~0.2 s
per task on a reused worker).  Those archives do not change during a
worker's life — Spark never re-fetches a registered ``--py-files`` path —
so while the stock function runs, only ``zipimporter.invalidate_caches``
is a no-op.  Directory finders are still invalidated on every task, so a
``.py`` added with ``addFile`` stays visible, and a zip added mid-session
gets a fresh importer on first use.

``plans.session.get_spark`` switches this on through
``spark.python.daemon.module``; Spark starts it as
``python -m bloomfilter_spark.plans.daemon``.
"""

from __future__ import annotations

import zipimport

from pyspark import daemon, worker

_stock_setup_spark_files = worker.setup_spark_files


def _keep_index(self) -> None:
    """Stands in for ``zipimporter.invalidate_caches``: keep the index."""


def setup_spark_files(infile) -> None:
    reread = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _keep_index
    try:
        _stock_setup_spark_files(infile)
    finally:
        zipimport.zipimporter.invalidate_caches = reread


def main() -> None:
    worker.setup_spark_files = setup_spark_files
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so workers report
    # setup_spark_files.__module__ as bloomfilter_spark.plans.daemon
    from bloomfilter_spark.plans.daemon import main as _main

    _main()
