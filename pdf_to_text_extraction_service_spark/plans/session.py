"""SparkSession construction with scale-oriented defaults.

Tunings map to the reference's hand-rolled cost controls (SURVEY.md §4):
- AQE + skew-join handle the url-dedup / lineage-join shuffles at
  100 TB (the reference's bounded-parallelism tiers are executor
  sizing, not job code).
- Arrow batches are sized here, once, for every Python boundary of
  the package: a batch closes at ``ARROW_MAX_RECORDS_PER_BATCH`` rows
  or ``ARROW_MAX_BYTES_PER_BATCH`` bytes, whichever comes first. The
  row cap amortizes each numpy kernel's fixed cost over thin pages and
  short texts; the byte cap keeps multi-MiB office/PDF payloads from
  piling up in one batch in the Python worker (SURVEY.md §7 hard-part
  4; the analog of the reference's io.LimitedReader streaming caps,
  download.go:70-79). 4 MiB rather than larger: paired scaling runs
  with 32 MB batches lost ~8% scaling efficiency at 4x parallelism, as
  concurrent workers' batch footprints contend for memory bandwidth.
  Spark closes a batch after the row that crosses the byte cap, so a
  batch holds at most the cap plus one row; that holds for the
  ``mapInArrow`` passes and the scalar ``arrow_udf`` ones alike
  (tests/test_dupspans_opt.py pins both).
- The parquet VECTORIZED READER batch is capped for the same reason:
  the default 4096-row columnar batch over KB-to-MB binary cells
  fails with "Cannot reserve additional contiguous bytes" under
  concurrent shuffle memory pressure (observed on a 1M-page run of
  jobs/extract.py); 512 rows bounds each column batch to a few MiB.
- Python workers run ``pyspark_graft_worker`` (the module beside the
  package, and at the root of ``engine.zip``). On every task
  ``pyspark/worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``; on CPython 3.11 that makes every
  ``zipimporter`` on the worker's path re-read its archive's central
  directory (``pyspark.zip``, the py4j zip, the spark-core jar). On a
  4-core box, ``local[4]``, that put 0.18-0.24 s between a task's launch
  and its function, and a trivial 4-task ``mapInArrow`` stage spanned
  0.30 s with the stock worker against 0.10 s with this one
  (tools/py_stage_cost.py). The module makes that re-read a no-op, on the
  assumption that no archive already on the worker's path changes while
  the worker lives. The directory (or zip) that holds it is prepended to
  the workers' ``PYTHONPATH``, ahead of any path the launcher set with
  ``spark.executorEnv.PYTHONPATH``, because the daemon imports it before
  any task puts ``--py-files`` on the path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: rows in one Arrow batch at most (thin pages, short texts)
ARROW_MAX_RECORDS_PER_BATCH = 8192
#: bytes in one Arrow batch at most (multi-MiB payloads)
ARROW_MAX_BYTES_PER_BATCH = 4 << 20
_ARROW_CAPS = {
    "spark.sql.execution.arrow.maxRecordsPerBatch":
        str(ARROW_MAX_RECORDS_PER_BATCH),
    "spark.sql.execution.arrow.maxBytesPerBatch":
        str(ARROW_MAX_BYTES_PER_BATCH),
}
WORKER_MODULE = "pyspark_graft_worker"
# The directory beside the package, or the zip that holds it.
_WORKER_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def build_session(app_name: str = "webextract",
                  master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=_ARROW_CAPS)
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", WORKER_MODULE)
    )
    spark = builder.getOrCreate()
    # Every Python function ships ``sc.environment`` (filled from
    # ``spark.executorEnv.*``) to its workers; prepending keeps any
    # worker path the launcher set. A running context already has it, and
    # a changed environment would start a second worker daemon.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _WORKER_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_WORKER_ROOT, *paths])
    return spark


def tune_arrow_batch(spark: SparkSession, pages) -> int:
    """Put both Arrow batch caps back on ``spark``; returns the row cap.

    Runs no Spark job; ``pages`` is unused. Its callers are the
    benchmarks, ``bench.py`` and ``perfbench/extract_crawl.py``:
    ``bench.py`` sets ``maxRecordsPerBatch`` to 256 once its extraction
    is done, and this puts the session's caps back at the start of its
    next suite rep; the text queries it times in between (curation,
    MinHash, decontamination) run on 256-row batches. A later change
    to the benchmark can drop the reset and the call, and then this
    function."""
    for key, value in _ARROW_CAPS.items():
        spark.conf.set(key, value)
    return ARROW_MAX_RECORDS_PER_BATCH
