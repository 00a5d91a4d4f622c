"""PySpark worker daemon that does not re-read Spark's archives per task.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes every
``zipimport.zipimporter`` on the worker's path re-read its archive's central
directory. A worker holds 16 of them, over ``pyspark.zip`` (one per package
path inside it), the py4j zip and the spark-core jar. On a 4-core VM the call took
77 ms inside a worker, more than the work of a small ``mapInArrow`` task.

This module turns ``zipimporter.invalidate_caches`` into a no-op and then
runs ``pyspark.daemon.manager()``, so the workers it forks inherit the no-op.
That is safe because the archives on a worker's start-up path never change
under a running worker. ``importlib.invalidate_caches`` still reaches every
other finder, and a path added by ``addPyFile`` or ``--py-files`` is a new
``sys.path`` entry, so it gets a fresh finder that reads its archive once.

``sparkgraph.session.get_spark`` selects it through
``spark.python.daemon.module`` when the workers can import ``sparkgraph``.
"""

from __future__ import annotations

import zipimport


def _keep_cache(self) -> None:
    """``zipimporter.invalidate_caches`` replacement: keep the directory."""


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _keep_cache
    daemon.manager()


if __name__ == "__main__":
    # run from the imported module, so the patch names sparkgraph.worker_daemon
    # (not __main__) as its origin
    from sparkgraph.worker_daemon import main as _main

    _main()
