"""End-to-end extraction plan assembly.

The Spark transliteration of the reference's request path (SURVEY.md
§3.1): scan → salt repartition → mapInArrow(extract kernel) → url
dedup → sink. Ordering is deliberate:

1. salt/repartition FIRST, while rows still carry html — this is the
   only shuffle that moves the binary payload.  It hashes every row on
   url into ``defaultParallelism`` partitions (operators/salt.py), so
   the extraction runs on every core whatever the scan layout, and a
   wave of url-hash buckets (operators/manifest.py) fills every
   partition too: the salt's hash is independent of the bucket hash.
   ``salt=False`` skips it when the source layout is already uniform
   (e.g. bucketed Iceberg).  The extract is then map-only only if
   the scan has a split per core: fewer splits get one round-robin
   repartition instead (the width guard below).
2. extract() drops html — everything downstream shuffles only the
   extracted text columns.
3. dedup via partial-agg max_by (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.extract_udf import extract
from ..operators.dedup import dedup_latest
from ..operators.salt import size_tiered_repartition
from ..operators.urlnorm import canonical_url


def extract_pipeline(pages: DataFrame,
                     salt: bool = True,
                     dedup: bool = True,
                     keep_pages_col: bool = True,
                     canonicalize_urls: bool = False) -> DataFrame:
    df = pages
    if canonicalize_urls:
        # normalize BEFORE salting/dedup so case/port/param variants of
        # the same page share a url key (operators/urlnorm.py)
        df = df.withColumn("url", canonical_url("url"))
    if salt:
        df = size_tiered_repartition(
            df, df.sparkSession.sparkContext.defaultParallelism)
    else:
        # Scale-adaptive parallelism guard (guide §2.5/§6): a compact
        # corpus scans as fewer 128 MB splits than the cluster has
        # cores, which would serialize the CPU-bound extraction
        # kernel on a handful of tasks (measured 7 tasks / 32 cores
        # at bench sf1.0 — the Python kernel, not I/O, is the
        # bottleneck at ~250 us/page).  One payload shuffle buys
        # full-width extraction; at real scale split count >> cores
        # and this is a no-op, preserving the map-only contract.
        sc = df.sparkSession.sparkContext
        scan_parts = df.rdd.getNumPartitions()
        if scan_parts < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism)
    out = extract(df)
    if not keep_pages_col:
        out = out.drop("pages")
    if dedup:
        out = dedup_latest(out)
    return out


def flagship_lang_agg(extracted: DataFrame) -> DataFrame:
    """Flagship query (SURVEY.md §7 M1): per-language doc counts and
    word/char volume over successfully extracted, deduped pages."""
    return (
        extracted.filter(F.col("success"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("word_count").alias("sum_words"),
            F.sum("char_count").alias("sum_chars"),
        )
    )
