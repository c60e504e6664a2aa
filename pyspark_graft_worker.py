"""The Python worker the engine's sessions run: ``pyspark.worker`` with
one CPython cost taken out of every task.

``plans/session.build_session`` sets ``spark.python.worker.module`` to
this module. ``pyspark/daemon.py`` imports a worker module only when its
name starts with ``pyspark``, hence the name; the daemon imports it once
and forks every worker from it, so the patch below holds in each of them.

On every task ``pyspark/worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that calls
``invalidate_caches`` on every ``zipimporter`` in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory: 12 importers over ``pyspark.zip`` (1,328 entries),
two over the spark-core jar (5,359 entries) and two over the py4j zip.
On a 4-core box that put 0.18-0.24 s between a task's launch and its
function, before any row was read. Here that method is a no-op.
``importlib.invalidate_caches`` itself and the ``FileFinder`` caches are
left alone, so a ``.py`` file or a new archive added with ``addPyFile``
is still found.

Assumption: no archive already on the worker's path changes while the
worker lives.

Run as ``__main__`` (``spark.python.use.daemon=false`` starts each worker
as ``python -m pyspark_graft_worker``), it hands off to
``pyspark.worker``'s own main block.
"""

from __future__ import annotations

import runpy
import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (the daemon's entry)
