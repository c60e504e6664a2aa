"""Repartitions that set the width of Python passes.

Payload-size-aware salting — SURVEY.md §4 custom work #1. Catalyst
balances BYTES at scan time, but one 200 MiB PDF row in a partition of
4 KiB HTML rows starves a task (the reference bounds this with
per-extractor byte caps + page-worker semaphores; in Spark the lever
is partitioning). ``size_tiered_repartition`` spreads rows by an
``xxhash64(url)`` salt and puts the oversized tail on a disjoint salt
space, so a handful of huge documents land in (mostly) dedicated
partitions instead of straggling mixed tasks. One shuffle.

``widen_for_python`` is the width guard of the text operators: one
hash Exchange on ``_id`` in front of their first Python pass, so a
few-split parquet scan does not serialize that pass on 2-4 tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_tiered_repartition(df: DataFrame, num_partitions: int,
                            payload: str = "html",
                            key: str = "url",
                            big_bytes: int = 1 << 20,
                            big_partitions: int | None = None) -> DataFrame:
    """Repartition with the oversized tail spread one-per-salt.

    Small rows salt into [0, num_partitions) (bounded salt domain →
    bounded partitioning metadata); rows with length(payload) >=
    big_bytes take their FULL 64-bit url hash as salt — a unique salt
    per giant, so after the partitioner re-hashes the salt the giants
    place i.i.d.-uniformly across partitions instead of clustering on
    a narrow salt range. Spreading giants one-per-task is what lets
    speculative execution / AQE see them as independent stragglers.
    """
    if big_partitions is None:
        big_partitions = max(num_partitions // 4, 1)
    big = F.length(F.col(payload)) >= F.lit(big_bytes)
    salted = df.withColumn(
        "_salt",
        F.when(big, F.xxhash64(F.col(key)))
        .otherwise(F.pmod(F.xxhash64(F.col(key)), F.lit(num_partitions))),
    )
    return (
        salted.repartition(num_partitions + big_partitions, "_salt")
        .drop("_salt")
    )


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
