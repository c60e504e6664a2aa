"""What the bookkeeping around a resumable extract wave costs, beside the
wave's own write: the resume check and the manifest commit of
``jobs/extract.py``, each with the Spark jobs it runs.

    python tools/extract_bookkeeping.py

The session is the package's ``build_session`` on ``MASTER``; the input
is ``PAGES`` pages of the seeded ``generate_corpus_rows`` corpus
(``SEED``), staged to parquet by ``sources.corpus.write_corpus`` in a
temporary directory. Every piece runs once to warm up, then ``REPS``
times, the pieces interleaved. It prints one JSON line with, per piece,
the median seconds of a call (``<piece>_s``) and the Spark jobs one call
runs (``<piece>_jobs``, the most over the reps):

- ``completed_buckets_missing``: ``operators/manifest.completed_buckets``
  on a manifest path that does not exist yet;
- ``completed_buckets_present``: the same on a manifest holding one
  committed wave;
- ``commit_manifest``: one wave's manifest rows committed to a new
  manifest path;
- ``write_wave``: the extraction write of one wave, bucket 0 of
  ``BUCKETS``, into a new output path.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MASTER = "local[4]"
PAGES = 2000
SEED = 1
BUCKETS = 2
REPS = 5


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from pdf_to_text_extraction_service_spark.operators import manifest
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )
    from pdf_to_text_extraction_service_spark.sources.corpus import (
        write_corpus,
    )

    work = tempfile.mkdtemp(prefix="extract_bookkeeping_")
    spark = build_session(app_name="extract_bookkeeping", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    snapshot = f"pages-b{BUCKETS}"
    try:
        write_corpus(spark, f"{work}/pages", PAGES, seed=SEED)
        pages = spark.read.parquet(f"{work}/pages")
        pages_b = pages.withColumn("_bucket", manifest.bucket_col(BUCKETS))
        counts = manifest.write_wave(pages_b, [0], BUCKETS, f"{work}/out")
        started = datetime.datetime.now(datetime.timezone.utc)

        def table():
            return manifest._manifest_table(counts, [0], snapshot, started)

        manifest.commit_manifest(spark, f"{work}/manifest", table())
        pieces = {
            "completed_buckets_missing": lambda rep: (
                manifest.completed_buckets(
                    spark, f"{work}/none-{rep}", snapshot)),
            "completed_buckets_present": lambda rep: (
                manifest.completed_buckets(
                    spark, f"{work}/manifest", snapshot)),
            "commit_manifest": lambda rep: manifest.commit_manifest(
                spark, f"{work}/manifest-{rep}", table()),
            "write_wave": lambda rep: manifest.write_wave(
                pages_b, [0], BUCKETS, f"{work}/out-{rep}"),
        }
        runs: dict[str, list[tuple[float, int]]] = {k: [] for k in pieces}
        for rep in range(-1, REPS):         # rep -1 warms up
            for name, fn in pieces.items():
                group = f"{name}-{rep}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                fn(rep)
                dt = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                if rep >= 0:
                    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                    runs[name].append((dt, jobs))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    row = {"master": MASTER, "pages": PAGES, "seed": SEED, "reps": REPS}
    for name, reps in runs.items():
        row[f"{name}_s"] = round(statistics.median(t for t, _ in reps), 4)
        row[f"{name}_jobs"] = max(j for _, j in reps)
    print(json.dumps(row))


if __name__ == "__main__":
    main()
