"""Repartitions that set the width of Python passes.

``size_tiered_repartition`` is the payload shuffle in front of the
extraction pass (SURVEY.md §4 custom work #1).  Catalyst balances
BYTES at scan time, so a scan split full of large documents becomes
one straggling task; hashing every row on its url spreads them,
independently of where the scan put them.  One shuffle.

``widen_for_python`` is the width guard of the text operators: one
hash Exchange on ``_id`` in front of their first Python pass, so a
few-split parquet scan does not serialize that pass on 2-4 tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_tiered_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash-repartition ``df`` on ``url`` into ``num_partitions``.

    The partitioner's murmur3 hash is independent of the ``xxhash64``
    of ``manifest.bucket_col``, so the rows of one wave of url-hash
    buckets fill every partition; a ``pmod(xxhash64(url),
    num_partitions)`` salt would fill only ``num_partitions / buckets``
    of them when the bucket count divides it.  Documents of any size
    land i.i.d.-uniformly, and the key is deterministic, so a retried
    task sees the same rows."""
    return df.repartition(num_partitions, F.col("url"))


def widen_for_python(df: DataFrame) -> DataFrame:
    """Hash-repartition ``df`` on its ``_id`` column into
    ``defaultParallelism`` partitions, ahead of a Python pass.

    A compact parquet corpus scans as a handful of 128 MB splits, which
    would run the pass on as many tasks.  The key is deterministic,
    not round-robin, so a retried task sees the same rows; the one
    Exchange of the narrow input projection buys full-width
    parallelism for the dominant compute stage."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, F.col("_id"))
