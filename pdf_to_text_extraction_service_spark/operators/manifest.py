"""Per-partition lineage manifest + resumable extraction runs.

North_rule: "checkpoints per-partition progress … (source snapshot,
partition id, row counts, extraction-failure codes) so a killed run
resumes without reprocessing". The reference has no analog (it retries
at the HTTP layer, SURVEY.md §1.3); this is job-level code on public
APIs only (SURVEY.md §4 custom work #2).

Unit of progress: a url-hash BUCKET (``pmod(xxhash64(url), B)``).
Because dedup is keyed on url and a url's every capture hashes to the
same bucket, per-bucket dedup equals global dedup — so buckets are
independently processable, committable and retryable.

Buckets are processed in WAVES, each one extraction write plus one
manifest file committed from the driver:
  filter pages to its buckets → extract_pipeline → write
  output/bucket=K dirs (idempotent dynamic overwrite) → commit one
  manifest row per bucket of the wave, with row/ok counts + failure-
  code histogram.
The manifest rows are built on the driver from counts observed on
the wave's own write (``DataFrame.observe``): nothing reads the
output back, and a bucket the wave wrote no rows for gets its
(0, 0, NULL) row from the same counts.  The driver serializes the
rows with ``pyarrow.parquet`` and writes them through the session's
Hadoop ``FileSystem`` under a hidden ``_tmp-part-<uuid>.parquet``
name, then renames the file to ``part-<uuid>.parquet``
(``commit_manifest``).  Spark's file listing skips ``_``-prefixed
names, so a reader never sees a torn file, and a commit runs no Spark
job.
Resume = left-anti of bucket ids against manifest rows for the same
source snapshot.

Scan-cost note for 100 TB: with plain parquet input each wave re-scans
the source (the bucket predicate cannot prune row-groups), so waves
trade scan passes for checkpoint granularity — pick wave_count ~4-8.
With an Iceberg/bucketed source partitioned by ``bucket(url, B)`` the
same predicate partition-prunes and waves are nearly free.  Either
way the extraction inside a wave runs on every core: the salt hashes
on url independently of the bucket hash (operators/salt.py).
"""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel.registry import EXTRACTORS
from ..plans.pipeline import extract_pipeline

MANIFEST_SCHEMA = (
    "source_snapshot string, bucket int, row_count long, ok_count long, "
    "failure_codes map<string,long>, started_at timestamp, "
    "finished_at timestamp"
)

# Every value the extraction's ``format`` column takes: a kernel id,
# or "unknown" when no extractor took the payload (kernel/router.py).
FORMATS = tuple(sorted({e.kernel for e in EXTRACTORS} | {"unknown"}))


def bucket_col(buckets: int, key: str = "url"):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)).cast("int")


def _hadoop_path(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path``, with the session's ``FileSystem``
    for it."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def completed_buckets(spark: SparkSession, manifest_path: str,
                      source_snapshot: str) -> set[int]:
    from pyspark.errors import AnalysisException

    fs, path = _hadoop_path(spark, manifest_path)
    if not fs.exists(path):
        # a fresh run: nothing committed, and no Spark read (whose
        # PATH_NOT_FOUND error carries a whole Java stack over py4j)
        return set()
    try:
        mf = spark.read.parquet(manifest_path)
        rows = (
            mf.filter(F.col("source_snapshot") == source_snapshot)
            .select("bucket").distinct().collect()
        )
    except AnalysisException:
        # a foreign parquet schema at the path, or no committed file:
        # treat as "nothing committed" and let the run repopulate.
        # Transient IO failures raise other exception types and
        # PROPAGATE — a throttled read must not silently reset resume
        # state and re-extract the whole corpus.
        return set()
    return {r["bucket"] for r in rows}


def commit_manifest(spark: SparkSession, manifest_path: str,
                    table: pa.Table) -> None:
    """Add ``table`` to the manifest as one parquet file, from the
    driver: written whole under a hidden ``_tmp-`` name, then renamed
    into view, so a killed run leaves no partial file a reader lists."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs, root = _hadoop_path(spark, manifest_path)
    jvm = spark.sparkContext._jvm
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = jvm.org.apache.hadoop.fs.Path(root, f"_tmp-{name}")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(root, name)):
        raise OSError(f"manifest commit: cannot rename {tmp} to {name}")


def run_resumable_extract(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    manifest_path: str,
    buckets: int = 64,
    wave_count: int = 8,
    source_snapshot: str | None = None,
    dedup: bool = True,
    fail_after_waves: int | None = None,
) -> None:
    """Extract `pages` into output_path, checkpointing per bucket.

    fail_after_waves is a test hook: raise after N waves to simulate a
    killed run (the kill/resume pytest uses it).
    """
    if source_snapshot is None:
        source_snapshot = f"pages-b{buckets}"

    done = completed_buckets(spark, manifest_path, source_snapshot)
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return

    waves: list[list[int]] = [
        pending[i::wave_count] for i in range(wave_count)
    ]
    waves = [w for w in waves if w]

    pages_b = pages.withColumn("_bucket", bucket_col(buckets))

    for wave_idx, wave in enumerate(waves):
        started = datetime.datetime.now(datetime.timezone.utc)
        counts = write_wave(pages_b, wave, buckets, output_path, dedup)
        commit_manifest(spark, manifest_path, _manifest_table(
            counts, wave, source_snapshot, started))

        if fail_after_waves is not None and wave_idx + 1 >= fail_after_waves:
            raise RuntimeError(
                f"simulated failure after wave {wave_idx + 1}"
            )


def write_wave(pages_b: DataFrame, wave: list[int], buckets: int,
               output_path: str, dedup: bool = True) -> dict:
    """Extract the pages of ``wave``'s buckets (``pages_b`` carries
    ``_bucket``) into ``output_path/bucket=K``, overwriting those
    buckets, in one write. Returns the counts observed on the write
    (``_wave_metrics``)."""
    seen = Observation()
    (
        extract_pipeline(
            pages_b.filter(F.col("_bucket").isin(wave)).drop("_bucket"),
            dedup=dedup, keep_pages_col=False)
        .withColumn("bucket", bucket_col(buckets))
        .observe(seen, *_wave_metrics(wave))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(output_path)
    )
    return seen.get


def _wave_metrics(wave: list[int]) -> list:
    """The counts observed on a wave's write, per bucket ``b``:
    ``rows_b``, ``ok_b``, ``failed_b`` and ``failed_b_<format>`` for
    every format in FORMATS.  SQL strings, because the same aggregates
    built through the Column API cost the driver ~0.45 s for an
    8-bucket wave, against ~0.03 s."""
    exprs = []
    for b in wave:
        fail = f"bucket = {b} AND NOT success"
        exprs += [f"count_if(bucket = {b}) AS rows_{b}",
                  f"count_if(bucket = {b} AND success) AS ok_{b}",
                  f"count_if({fail}) AS failed_{b}"]
        exprs += [f"count_if({fail} AND format = '{f}') AS failed_{b}_{f}"
                  for f in FORMATS]
    return [F.expr(e) for e in exprs]


def _manifest_table(counts: dict, wave: list[int], source_snapshot: str,
                    started: datetime.datetime) -> pa.Table:
    """One MANIFEST_SCHEMA row per bucket of the wave, from the counts
    observed on its write; ``failure_codes`` maps each format with a
    failed row to its count, and is NULL when the bucket has none.
    Raises if the per-format counts do not add up to the bucket's
    failed rows (a format outside FORMATS), so no bucket commits a
    short histogram."""
    codes = []
    for b in wave:
        hist = [(f, counts[f"failed_{b}_{f}"]) for f in FORMATS
                if counts[f"failed_{b}_{f}"]]
        failed = counts[f"failed_{b}"]
        if sum(n for _, n in hist) != failed:
            raise RuntimeError(
                f"bucket {b}: {failed} failed rows, but the formats in "
                f"FORMATS account for {sum(n for _, n in hist)}")
        codes.append(hist or None)
    utc = datetime.timezone.utc
    n = len(wave)
    return pa.table({
        "source_snapshot": pa.array([source_snapshot] * n, pa.string()),
        "bucket": pa.array(wave, pa.int32()),
        "row_count": pa.array([counts[f"rows_{b}"] for b in wave],
                              pa.int64()),
        "ok_count": pa.array([counts[f"ok_{b}"] for b in wave],
                             pa.int64()),
        "failure_codes": pa.array(codes, pa.map_(pa.string(), pa.int64())),
        "started_at": pa.array([started] * n, pa.timestamp("us", utc)),
        "finished_at": pa.array([datetime.datetime.now(utc)] * n,
                                pa.timestamp("us", utc)),
    })
