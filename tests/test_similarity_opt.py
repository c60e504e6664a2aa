"""r8 optimization parity pins for embedding near-dup: the vectorized
hyperplane bucketing and exact-cosine paths must be bit-identical to
the interpreted SQL expressions they replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> cast(v as double))")
        .alias("embedding"))


def test_hyperplane_buckets_pd_equals_jvm(spark):
    from pdf_to_text_extraction_service_spark.operators.similarity import (
        hyperplane_bucket,
        hyperplane_buckets_pd,
        make_planes,
    )

    dim = 64
    # a NaN component makes every dot NaN, and Spark's `NaN >= 0` is
    # true (NaN sorts above every number), so all its bits are set
    df = _vecs(spark)
    df = df.unionByName(spark.createDataFrame(
        [(10 ** 6, [float("nan")] + [0.5] * (dim - 1))], df.schema))
    all_planes = [make_planes(dim, 8, 11 + t) for t in range(4)]
    jvm = df.select(
        "vec_id",
        *[hyperplane_bucket("embedding", p).alias(f"b{t}")
          for t, p in enumerate(all_planes)])
    arrow = df.select(
        "vec_id",
        hyperplane_buckets_pd(all_planes)(F.col("embedding"))
        .alias("bs"))
    want = {r["vec_id"]: [r[f"b{t}"] for t in range(4)]
            for r in jvm.collect()}
    got = {r["vec_id"]: list(r["bs"]) for r in arrow.collect()}
    assert got == want and len(got) == 501


def test_cosine_exact_pd_equals_sql_fold(spark):
    """The pair engine's cosine verify returns, bit for bit, the SQL
    ``_dot / (_norm * _norm)`` fold on the same pairs."""
    import numpy as np

    from pdf_to_text_extraction_service_spark.operators.similarity import (
        _dot,
        _norm,
        cosine_verify,
    )

    df = _vecs(spark)
    pairs = df.alias("a").join(
        df.alias("b"),
        F.col("a.vec_id") + 1 == F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("id"),
        F.col("a.embedding").alias("_va"),
        F.col("b.embedding").alias("_vb"))
    sql = pairs.withColumn(
        "c", _dot("_va", "_vb") / (_norm("_va") * _norm("_vb")))
    want = {r["id"]: r["c"] for r in sql.collect()}
    rows = sorted((r["vec_id"], r["embedding"]) for r in df.collect())
    ids = [i for i, _ in rows]
    # threshold below -1: every pair qualifies, so verify scores all
    ii, jj, cos = cosine_verify(-2.0)(
        {"_v": np.array([v for _, v in rows], dtype=np.float64)})
    got = {ids[i]: c for i, j, c in zip(ii, jj, cos)
           if ids[j] == ids[i] + 1}
    assert got == want and len(got) > 400
