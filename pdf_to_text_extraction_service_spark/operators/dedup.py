"""Url-keyed dedup (latest-capture-wins) — SURVEY.md §2.8.

The north_rule's "url-keyed dedup": one extracted row per url, keeping
the max ``warc_ts``.

``dedup_latest``: ``groupBy(url).agg(max_by(struct, ts))`` — partial
(map-side) aggregation shrinks the shuffle to one candidate row per
url per map partition, which a window/row_number plan cannot do (it
shuffles every duplicate then sorts). At 100 TB with a low dup rate
this is the cheaper plan; AQE coalesces the post-agg partitions.

It runs AFTER extraction, so only extracted text shuffles — the html
binary column never enters a shuffle (extract() drops it).
``prune_duplicate_captures`` is the before-extraction alternative for
high-duplication corpora.

Ties on (url, warc_ts): max_by is non-deterministic under real ties;
callers that need determinism pass a tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_latest(df: DataFrame, key: str = "url",
                 ts: str = "warc_ts",
                 tiebreak: str | None = None) -> DataFrame:
    other = [c for c in df.columns if c != key]
    order = F.struct(
        *([F.col(ts)] + ([F.col(tiebreak)] if tiebreak else []))
    )
    agged = df.groupBy(key).agg(
        F.max_by(F.struct(*[F.col(c) for c in other]), order).alias("_r")
    )
    return agged.select(key, *[F.col(f"_r.{c}").alias(c) for c in other])


def prune_duplicate_captures(pages: DataFrame, key: str = "url",
                             ts: str = "warc_ts") -> DataFrame:
    """Dedup BEFORE extraction — for high-duplication corpora.

    The default plan extracts every capture and dedups the small
    extracted rows (never shuffling html). When the duplicate rate is
    high (Common Crawl urls repeat across monthly snapshots), the
    wasted kernel CPU exceeds the cost of moving payloads once, and
    pre-pruning wins. Two-pass shape:

    1. winners: a (url, max warc_ts) aggregate that scans ONLY the two
       key columns (columnar projection — the multi-MiB html column is
       never read in this pass; see ReadSchema in .explain).
    2. semi join pages × winners on (url, ts). While the winners
       broadcast the pages side never shuffles; on a url-bucketed
       source (Iceberg bucket(url, N)) a shuffle join is
       storage-partitioned; otherwise it is one payload shuffle —
       exactly the salt shuffle the pipeline would have done anyway,
       so pruning is never worse.

    Ties on (url, max ts) keep all tied captures (extraction is
    idempotent per (url, ts); the post-extract dedup_latest remains
    the uniqueness authority).
    """
    winners = pages.select(key, ts).groupBy(key).agg(
        F.max(ts).alias(ts)
    )
    return pages.join(winners, [key, ts], "left_semi")
