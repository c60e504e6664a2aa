"""Parity pin: the pair engine's min-shared-band SimHash pairing
(operators/floodcap.hamming_pairs) must produce the exact pair SET
the old bucket self-join + hamming filter + dropDuplicates produced —
including under flood capping where per-band survivor sets differ."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _old_downstream(banded, max_hamming, max_bucket):
    from pdf_to_text_extraction_service_spark.operators.floodcap import (
        cap_flooded_buckets,
    )

    capped = cap_flooded_buckets(banded, ["band", "key"], "_id",
                                 max_bucket)
    left = capped.select("band", "key", F.col("_id").alias("id_a"),
                         F.col("_sig").alias("sig_a"))
    right = capped.select("band", "key", F.col("_id").alias("id_b"),
                          F.col("_sig").alias("sig_b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.expr("sig_a ^ sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _new_downstream(banded, max_hamming, max_bucket):
    from pdf_to_text_extraction_service_spark.operators.floodcap import (
        hamming_pairs,
    )

    return hamming_pairs(banded.select("_id", "_sig").distinct(),
                         max_hamming, max_bucket)


def _banded_from_sigs(spark, rows):
    df = spark.createDataFrame(rows, "_id long, _sig long")
    return df.select(
        "_id", "_sig",
        F.explode(F.expr(
            "transform(sequence(0, 3), b -> "
            "struct(b as band, (shiftright(_sig, b * 16) & 65535) "
            "as key))")).alias("_b"),
    ).select("_id", "_sig", "_b.band", "_b.key")


def test_bucket_pairs_match_join_on_corpus(spark):
    """Real corpus + mutants through the production signature path."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        simhash64_text_udf,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    d2 = docs.unionByName(docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text")))
    banded = d2.select(
        F.col("doc_id").alias("_id"),
        simhash64_text_udf()(F.col("text")).alias("_sig"),
    ).select(
        "_id", "_sig",
        F.explode(F.expr(
            "transform(sequence(0, 3), b -> "
            "struct(b as band, (shiftright(_sig, b * 16) & 65535) "
            "as key))")).alias("_b"),
    ).select("_id", "_sig", "_b.band", "_b.key").persist()
    try:
        want = sorted(map(tuple, _old_downstream(
            banded, 8, 4096).collect()))
        got = sorted(map(tuple, _new_downstream(
            banded, 8, 4096).collect()))
        assert len(want) > 100 and got == want
    finally:
        banded.unpersist()


def test_bucket_pairs_match_join_under_flood_divergence(spark):
    """Synthetic signatures where different bands flood with
    DIFFERENT bucket counts (40 vs ~13), so the deterministic
    hash-prefix samples diverge per band — the min-shared-band rule
    must still reproduce the join+dropDuplicates set exactly.
    max_hamming=64 accepts every pair, isolating cap semantics."""
    rows = [(i, ((i % 3) << 16) | 0x00AB) for i in range(40)]
    banded = _banded_from_sigs(spark, rows).persist()
    try:
        for cap in (8, 16, 64):
            want = sorted(map(tuple, _old_downstream(
                banded, 64, cap).collect()))
            got = sorted(map(tuple, _new_downstream(
                banded, 64, cap).collect()))
            assert got == want and len(want) > 0, cap
        # and with a hamming threshold that splits the groups
        want = sorted(map(tuple, _old_downstream(
            banded, 1, 8).collect()))
        got = sorted(map(tuple, _new_downstream(
            banded, 1, 8).collect()))
        assert got == want
    finally:
        banded.unpersist()


def test_bucket_pairs_negative_sigs(spark):
    """Signatures with the sign bit set (band-3 slice of a negative
    long) — arithmetic shift + mask semantics must agree."""
    rows = [(i, -(1 << 62) | (i << 16) | 0x0007) for i in range(12)]
    rows += [(100 + i, (1 << 63) - 1 - i) for i in range(6)]
    banded = _banded_from_sigs(spark, rows).persist()
    try:
        want = sorted(map(tuple, _old_downstream(
            banded, 64, 4096).collect()))
        got = sorted(map(tuple, _new_downstream(
            banded, 64, 4096).collect()))
        assert got == want and len(want) > 0
    finally:
        banded.unpersist()
