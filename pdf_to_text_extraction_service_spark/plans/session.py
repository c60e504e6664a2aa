"""SparkSession construction with scale-oriented defaults.

Tunings map to the reference's hand-rolled cost controls (SURVEY.md §4):
- AQE + skew-join handle the url-dedup / lineage-join shuffles at
  100 TB (the reference's bounded-parallelism tiers are executor
  sizing, not job code).
- Arrow batch size is capped LOW (256 rows) because page payloads are
  multi-MiB binary cells — the 10k default would OOM the Python worker
  (SURVEY.md §7 hard-part 4; the analog of the reference's
  io.LimitedReader streaming caps, download.go:70-79).
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

ARROW_MAX_RECORDS_PER_BATCH = 256
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
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
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


def tune_arrow_batch(spark: SparkSession, pages, target_mb: int = 4,
                     lo: int = 64, hi: int = 8192,
                     sample_rows: int = 2000) -> int:
    """Size Arrow batches by PAYLOAD BYTES, not rows.

    The conservative 256-row default protects multi-MiB office/PDF
    payloads from OOM, but starves thin HTML crawl pages (256 rows of
    ~1 KB = 0.25 MB batches → Python-side per-batch overhead dominates;
    measured 26% extraction slowdown vs right-sized batches at sf0.1).
    Sample the average `html` length from a bounded scan and set
    maxRecordsPerBatch to target ~``target_mb`` MB per batch, clamped
    to [lo, hi]. Returns the chosen row count. Call per input table
    before an extraction job (jobs/extract.py does).

    The 4 MB default is deliberate: paired scaling runs showed 32 MB
    batches cost ~8% scaling efficiency at 4x parallelism (8 workers
    x large concurrent Arrow batch footprints contend on memory
    bandwidth that 2 workers do not), while 4 MB keeps the per-batch
    Python overhead amortized for thin pages without that pressure."""
    from pyspark.sql import functions as F

    row = (
        pages.select(F.length("html").alias("n"))
        .limit(sample_rows)
        .agg(F.avg("n").alias("avg"))
        .first()
    )
    avg = float(row["avg"]) if row and row["avg"] is not None else None
    if not avg or avg <= 0:
        rows = ARROW_MAX_RECORDS_PER_BATCH
    else:
        rows = int(max(lo, min(hi, (target_mb * 1024 * 1024) / avg)))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(rows))
    return rows
