"""Flood-bucket capping and the block -> verify -> emit-once pair
engine for the near-dup operators.

Every LSH-style blocker in this engine (MinHash banding, SimHash
bands, hyperplane buckets, dHash bands) compares rows only inside
small buckets: MinHash self-joins them, the other three verify each
bucket in one Arrow pass (:func:`block_verify_pairs`).  Degenerate
web-scale inputs flood single buckets — boilerplate-identical pages
share one MinHash band key, solid-color images all hash to dHash 0 —
and an uncapped flooded bucket makes that pairing quadratic.

Earlier rounds bounded the *join* with a per-bucket rank cap
(``row_number() over Window.partitionBy(bucket)``), but the ranking
window is itself a skew funnel: a window cannot partially aggregate,
so every member of a flooded bucket ships to ONE reducer task before
the cap applies (the exact argument ``operators/paradedup.py`` makes
for paragraph hashes).  At 10^8 members that lone task is the job's
wall clock.

This module replaces the rank with a two-phase, fully partial-agg
shape:

1. ``groupBy(bucket).count()`` — map-side combinable; the shuffle
   carries one (bucket, count) row per bucket per partition, never
   the members.  Only buckets with ``count > max_bucket`` survive the
   filter (the *flooded* set — bounded above by N / max_bucket and in
   practice tiny).
2. A left join of the flooded set back onto the rows, then a
   map-side filter keeping a **deterministic hash-prefix sample**:
   ``pmod(xxhash64(id, seed), count) < max_bucket``.  Non-flooded
   rows (null count) pass untouched.

Semantics vs the old rank cap — documented recall change:

- Buckets with ``<= max_bucket`` members are EXACT, identical to
  before (they never enter the flooded set).
- Flooded buckets previously kept the first ``max_bucket`` ids by
  rank; now they keep a deterministic pseudo-random sample with
  *expected* size ``max_bucket`` (each member kept with probability
  ``max_bucket / count``).  Pair recall inside a flooded bucket is
  sampled either way; a 10^6-member bucket is boilerplate by
  definition, and every caller verifies candidates exactly
  afterwards, so sampled floods can add no false positives.

Scale shape: two Exchanges of scalar rows (the count shuffle and the
join), both partial-agg / AQE-skew-splittable; no Window anywhere.
The join side is left unhinted — AQE broadcasts the flooded set when
it is small (the normal case) and falls back to a skew-split
shuffle join in the adversarial many-floods case, where a forced
broadcast could OOM the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COUNT_COL = "_flood_n"


def cap_flooded_buckets(df: DataFrame, bucket_cols: Sequence[str],
                        id_col: str, max_bucket: int,
                        seed: int = 0x5EED) -> DataFrame:
    """Bound every (bucket_cols) group of ``df`` to ~``max_bucket``
    rows without a rank window.

    Groups at or under the cap are returned exactly; larger groups
    keep the deterministic hash-prefix sample described in the module
    docstring.  Output columns == input columns.
    """
    if max_bucket < 1:
        raise ValueError("max_bucket must be >= 1")
    bucket_cols = list(bucket_cols)
    flooded = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias(_COUNT_COL))
        .filter(F.col(_COUNT_COL) > max_bucket)
    )
    joined = df.join(flooded, bucket_cols, "left")
    keep = F.col(_COUNT_COL).isNull() | (
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
               F.col(_COUNT_COL)) < F.lit(max_bucket)
    )
    return joined.filter(keep).drop(_COUNT_COL)


def _checkpoint_release(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize an operator's (small, scalar) result and release the
    caches its plan read.  Without this the persisted inputs pin
    executor memory for the session lifetime, and a second identical
    call trips CacheManager's already-cached warning."""
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


#: ``verify(payload) -> (i, j, score)``: ``payload`` maps each payload
#: column to a numpy array over ONE bucket's members sorted by id
#: (array columns arrive as 2-D ``(members, width)`` arrays); returns
#: index arrays ``i < j`` and the scores of the qualifying pairs.
Verify = Callable[[dict], tuple]


def _column_np(arr) -> np.ndarray:
    if pa.types.is_list(arr.type):      # -> (rows, width)
        return arr.flatten().to_numpy(zero_copy_only=False) \
            .reshape(len(arr), -1)
    return arr.to_numpy(zero_copy_only=False)


def _bucket_pairs_fn(verify: Verify, payload: list[str]):
    """mapInArrow body over one row per bucket ``(_band, _members)``."""
    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            members = batch.column("_members")
            off = members.offsets.to_numpy()
            flat = members.values
            ids = _column_np(flat.field("_id")).astype(np.int64)
            keys = _column_np(flat.field("_keys"))
            mask = _column_np(flat.field("_mask"))
            cols = {c: _column_np(flat.field(c)) for c in payload}
            oa, ob, os_ = [], [], []
            for r, band in enumerate(
                    batch.column("_band").to_numpy().tolist()):
                lo, hi = off[r], off[r + 1]
                sel = lo + np.argsort(ids[lo:hi], kind="stable")
                i, j, score = verify({c: v[sel] for c, v in cols.items()})
                gi, gj = sel[i], sel[j]
                # emit only at the lowest band where the pair is also
                # a candidate: same key there AND both survived its cap
                both = mask[gi] & mask[gj]
                keep = np.ones(len(gi), dtype=bool)
                for b in range(band):
                    keep &= ~((keys[gi, b] == keys[gj, b])
                              & ((both >> b) & 1 > 0))
                oa.append(ids[gi[keep]])
                ob.append(ids[gj[keep]])
                os_.append(score[keep])
            if oa:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(oa)),
                     pa.array(np.concatenate(ob)),
                     pa.array(np.concatenate(os_))],
                    names=["id_a", "id_b", "score"])

    return fn


def block_verify_pairs(df: DataFrame, verify: Verify, score_type: str,
                       max_bucket: int) -> DataFrame:
    """Verified near-dup pairs from LSH blocking keys, each pair once.

    ``df`` holds one row per id: ``_id`` (integral), ``_keys`` (one
    blocking key per band; the same number of bands, at most 63, for
    every id) and any payload columns ``verify`` reads.  Returns the
    checkpointed ``(id_a long, id_b long, score <score_type>)`` with
    ``id_a < id_b``.

    Shape: ``posexplode(_keys)`` -> :func:`cap_flooded_buckets` per
    (band, key) -> a per-id bitmask of the bands whose capped bucket
    kept the id -> one row per surviving bucket via a DECLARED
    ``groupBy(band, key).agg(collect_list(struct))`` -> one
    ``mapInArrow`` pass that sorts each bucket by id and calls
    ``verify``.  A verified pair is kept only at the lowest band where
    both ids share a key and both survived that band's cap — exactly
    the bands where a bucket self-join would have produced it — so
    the output equals the self-join + pair-dedup set with no pair
    Exchange.

    The grouping must be declared: a physical repartition by bucket
    is not a co-location contract, because AQE can rewrite the
    shuffle read to local mode (``AQEShuffleRead local`` under a
    runtime broadcast conversion) and split buckets across tasks,
    silently dropping pairs."""
    payload = [c for c in df.columns if c not in ("_id", "_keys")]
    base = df.persist()     # read by the cap and by the bucket grouping
    banded = base.select(
        "_id", F.posexplode("_keys").alias("_band", "_key"))
    surv = (
        cap_flooded_buckets(banded, ["_band", "_key"], "_id", max_bucket)
        .groupBy("_id")
        .agg(F.expr("bit_or(shiftleft(1L, _band))").alias("_mask"))
    )
    buckets = (
        base.join(surv, "_id")
        .select("*", F.posexplode("_keys").alias("_band", "_key"))
        .filter(F.expr("shiftright(_mask, _band) & 1 = 1"))
        .groupBy("_band", "_key")
        .agg(F.collect_list(F.struct("_id", "_keys", "_mask", *payload))
             .alias("_members"))
        .filter(F.size("_members") > 1)
    )
    out = buckets.select("_band", "_members").mapInArrow(
        _bucket_pairs_fn(verify, payload),
        f"id_a long, id_b long, score {score_type}")
    return _checkpoint_release(out, base)


_POP8 = np.array([bin(i).count("1") for i in range(256)],
                 dtype=np.uint8)


def hamming_verify(max_hamming: int) -> Verify:
    """Pairs of 64-bit ``_sig`` within ``max_hamming`` differing bits
    (xor + byte popcount in cache-sized row blocks)."""
    def verify(p):
        sig = p["_sig"]
        m = len(sig)
        oi, oj, oh = [], [], []
        for i0 in range(0, m, 256):
            i1 = min(i0 + 256, m)
            x = sig[i0:i1, None] ^ sig[None, :]
            ham = _POP8[x.view(np.uint8).reshape(i1 - i0, m, 8)] \
                .sum(axis=2, dtype=np.int32)
            q = (ham <= max_hamming) \
                & (np.arange(m)[None, :] > np.arange(i0, i1)[:, None])
            r, c = np.nonzero(q)
            oi.append(i0 + r)
            oj.append(c)
            oh.append(ham[r, c])
        return np.concatenate(oi), np.concatenate(oj), np.concatenate(oh)

    return verify


def hamming_pairs(sigs: DataFrame, max_hamming: int,
                  max_bucket: int) -> DataFrame:
    """``(id_a, id_b, score int)`` Hamming pairs of ``(_id, _sig)``
    64-bit signatures, blocked on 4 16-bit bands: a pair within
    Hamming 3 shares at least one exact band (pigeonhole), so recall
    is exact up to ``max_hamming=3`` outside flooded buckets."""
    keyed = sigs.select(
        "_id",
        F.expr("transform(sequence(0, 3), "
               "b -> shiftright(_sig, b * 16) & 65535)").alias("_keys"),
        "_sig")
    return block_verify_pairs(keyed, hamming_verify(max_hamming), "int",
                              max_bucket)
