"""Parity pins for the block -> verify -> emit-once pair engine
(operators/floodcap.block_verify_pairs) against the shapes it replaced:

- embedding cosine: per-bucket ``applyInPandas`` verify + pair
  ``dropDuplicates``;
- image dHash: bucket self-join + ``distinct`` + popcount filter.

Each reference runs on real inputs and on a flood construction whose
caps differ per band/table, so the per-band survivor sets diverge and
the engine's lowest-shared-surviving-band rule is what keeps the
pair sets equal.  Also pins the zero-norm embedding contract."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.floodcap import (
    block_verify_pairs,
    cap_flooded_buckets,
    hamming_pairs,
)
from pdf_to_text_extraction_service_spark.operators.similarity import (
    cosine_verify,
    embedding_neardup_pairs,
    hyperplane_buckets_pd,
    make_planes,
)

SF_DIR = "/root/testdata/sf0.001"


def _old_embedding(keyed, threshold, max_bucket):
    """(_id, _keys, _v) -> per-bucket applyInPandas exact cosine over
    every pair, then the cross-table pair dropDuplicates."""
    banded = keyed.select("_id", F.posexplode("_keys").alias("_tbl", "_bkt"))
    capped = cap_flooded_buckets(
        banded.join(keyed.select("_id", "_v"), "_id"), ["_tbl", "_bkt"],
        "_id", max_bucket)

    def fn(pdf):
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy(np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in pdf["_v"]], dtype=np.float64)
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        ii, jj = np.triu_indices(len(ids), 1)
        dots = np.cumsum(mat[ii] * mat[jj], axis=1)[:, -1]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (norms[ii] * norms[jj])
        ok = (cos >= threshold) | np.isnan(cos)
        return pd.DataFrame({"id_a": ids[ii[ok]], "id_b": ids[jj[ok]],
                             "score": cos[ok]})

    return capped.groupBy("_tbl", "_bkt").applyInPandas(
        fn, "id_a long, id_b long, score double"
    ).dropDuplicates(["id_a", "id_b"])


def _old_dhash(sigs, max_hamming, max_bucket):
    """(_id, _sig) -> 4x16-bit band self-join + distinct + popcount."""
    bands = sigs.select(
        "_id", "_sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.expr(f"(_sig >> {16 * b}) & 65535").alias("val"))
            for b in range(4)])).alias("bv"),
    ).select("_id", "_sig", "bv.band", "bv.val")
    bands = cap_flooded_buckets(bands, ["band", "val"], "_id", max_bucket)
    right = bands.select(F.col("_id").alias("rid"),
                         F.col("_sig").alias("rsig"), "band", "val")
    return (
        bands.join(right, ["band", "val"])
        .filter(F.col("_id") < F.col("rid"))
        .select("_id", "rid", "_sig", "rsig").distinct()
        .withColumn("hamming", F.expr("bit_count(_sig ^ rsig)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("_id", "rid", "hamming")
    )


def _pairs(df, digits=None):
    rows = [tuple(r) for r in df.collect()]
    if digits is not None:
        rows = [(a, b, round(c, digits)) for a, b, c in rows]
    return sorted(rows)


def _flood_vectors(spark):
    """40 ids whose 4 tables flood with different bucket counts (40,
    ~13, 40, 20), so each cap samples each table differently."""
    rows = [(i, [0, i % 3, 0, i % 2],
             [1.0, 0.02 * (i % 7), 0.5, 0.01 * (i % 5)])
            for i in range(40)]
    return spark.createDataFrame(
        rows, "_id long, _keys array<int>, _v array<double>")


def test_embedding_engine_matches_old_shape_under_flood(spark):
    keyed = _flood_vectors(spark).persist()
    try:
        for cap in (8, 16, 64):
            for threshold in (-2.0, 0.9995):
                want = _pairs(_old_embedding(keyed, threshold, cap))
                got = _pairs(block_verify_pairs(
                    keyed, cosine_verify(threshold), "double", cap))
                assert got == want and len(want) > 0, (cap, threshold)
    finally:
        keyed.unpersist()


def test_embedding_engine_matches_old_shape_on_corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, v -> cast(v as double))")
        .alias("embedding"))
    mutants = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, (v, i) -> v * "
               "(case when i = 0 then 1.02d else 1.0d end))")
        .alias("embedding"))
    vecs = emb.unionByName(mutants)
    planes = [make_planes(64, 8, 11 + t) for t in range(4)]
    keyed = vecs.select(
        F.col("vec_id").alias("_id"),
        hyperplane_buckets_pd(planes)(F.col("embedding")).alias("_keys"),
        F.col("embedding").alias("_v")).persist()
    try:
        want = _pairs(_old_embedding(keyed, 0.99, 256), 6)
        got = _pairs(embedding_neardup_pairs(vecs, threshold=0.99))
        assert got == want and len(want) > 400
    finally:
        keyed.unpersist()


def test_dhash_engine_matches_old_shape(spark):
    import __spark_entry__ as entry
    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        dedup_image_dhash,
        image_dhash,
    )

    media = spark.createDataFrame(
        [(i, entry._multimodal_payload(i)) for i in range(200)],
        "media_id long, payload binary")
    sigs = image_dhash(media).filter(F.col("error").isNull()).select(
        F.col("media_id").alias("_id"), F.col("dhash").alias("_sig")
    ).persist()
    flood = spark.createDataFrame(
        [(i, ((i % 3) << 16) | 0x00AB) for i in range(40)],
        "_id long, _sig long").persist()
    try:
        for cap in (4, 1024):
            want = _pairs(_old_dhash(sigs, 3, cap))
            got = _pairs(dedup_image_dhash(media, max_bucket=cap))
            assert got == want and len(want) > 0, cap
        for cap in (8, 16, 64):
            for max_hamming in (1, 64):
                want = _pairs(_old_dhash(flood, max_hamming, cap))
                got = _pairs(hamming_pairs(flood, max_hamming, cap))
                assert got == want and len(want) > 0, (cap, max_hamming)
    finally:
        sigs.unpersist()
        flood.unpersist()


def test_zero_norm_vectors_pair_once_with_nan_cosine(spark):
    """Two zero vectors share every table's all-ones bucket (dot 0 >=
    0 against each plane): exactly one pair, emitted with cosine NaN;
    an ordinary planted pair beside them keeps its finite cosine."""
    v = [0.3, -1.2, 0.7, 0.1, -0.4, 0.9, -0.8, 0.2]
    df = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 8), (2, v),
         (3, [x * 1.0001 for x in v])],
        "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_neardup_pairs(df).collect()}
    assert set(got) == {(0, 1), (2, 3)}
    assert math.isnan(got[(0, 1)]) and got[(2, 3)] == 1.0
