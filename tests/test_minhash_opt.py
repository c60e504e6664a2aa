"""r8 optimization parity pins for the MinHash shingle path: the
vectorized XXH64 and the fused shingle + signature pass must be
bit-identical to Spark's native xxhash64 / the JVM expression chain
they replaced."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_xxh64_matches_spark_all_length_classes(spark):
    """Every XXH64 code path: empty, 1-3 byte, 4-7 byte, 8-31 byte,
    32+ byte (1..4 blocks) inputs, plus non-ASCII UTF-8."""
    from pdf_to_text_extraction_service_spark.operators.xxh64np import (
        xxh64_bytes,
    )

    rng = random.Random(42)
    samples = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh"]
    for ln in (9, 15, 31, 32, 33, 63, 64, 65, 100, 130, 255):
        for _ in range(8):
            samples.append("".join(
                rng.choice(string.printable) for _ in range(ln)))
    samples += ["café über 中文 😀", "naïve résumé", ""]

    df = spark.createDataFrame([(s,) for s in samples], "s string")
    want = [r["h"] for r in
            df.select(F.xxhash64("s").alias("h")).collect()]
    got = xxh64_bytes([s.encode("utf-8") for s in samples]).tolist()
    assert got == want


EDGE_ROWS = [(1000, ""), (1001, " "), (1002, "one"), (1003, "one two"),
             (1004, "one two three"), (1005, "a  b   c d"),
             (1006, "dup dup dup dup dup"), (1007, None),
             (1008, "café über 中文 😀 mixé")]


def _jvm_shingle_ids(df, n):
    """The JVM chain split -> shingles -> distinct -> xxhash64 & M31
    -> distinct (tests/reference/neardup.py), as column ``_hsh``."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        shingles_from_tokens,
        tokens_col,
    )
    from tests.reference.neardup import shingle_hashes

    return df.select(
        "doc_id", tokens_col("text").alias("_t")
    ).select(
        "doc_id",
        F.array_distinct(shingles_from_tokens("_t", n)).alias("_sh"),
    ).select(
        "doc_id",
        F.array_distinct(shingle_hashes("_sh")).alias("_hsh"),
    )


def test_shingle_hash_ids_udf_matches_jvm_chain(spark):
    """The shingle-id kernel of minhash_prep (_shingle_ids_chunk)
    == the JVM chain at shingle sizes other than the pipeline's 3:
    fewer tokens than n (whole-array shingle), n = 1, and NULL text
    -> [42] (xxhash64(NULL) & M31)."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        _shingle_ids_chunk,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    df = docs.unionByName(
        spark.createDataFrame(EDGE_ROWS, "doc_id long, text string"))
    rows = df.orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    texts = [r["text"] for r in rows]
    for n in (1, 2, 5):
        want = {r["doc_id"]: list(r["_hsh"])
                for r in _jvm_shingle_ids(df, n).collect()}
        got = {i: v.tolist()
               for i, v in zip(ids, _shingle_ids_chunk(texts, n))}
        assert got == want and len(got) == 509, n
        assert got[1007] == [42]


def test_fused_prep_matches_chained_udfs(spark):
    """The minhash_prep kernel (shingle ids + signature) driven through
    the text-row pass (functions/textrows.map_text_rows) == the JVM
    chain it replaced: split -> shingles -> distinct -> xxhash64 & M31
    -> distinct, then the k-permutation minhash_signature
    (tests/reference/neardup.py).  The chained Python UDFs this test
    once compared against are gone; the fused pass is pinned straight
    to the JVM chain."""
    from pdf_to_text_extraction_service_spark.functions.textrows import (
        map_text_rows,
    )
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        MINHASH_PREP_SCHEMA,
        minhash_prep,
    )
    from tests.reference.neardup import minhash_signature

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    df = docs.unionByName(
        spark.createDataFrame(EDGE_ROWS, "doc_id long, text string"))

    jvm = _jvm_shingle_ids(df, 3) \
        .withColumn("_sig", minhash_signature("_hsh", 96))
    fused = map_text_rows(
        df.select(F.col("doc_id").alias("_id"),
                  F.col("text").alias("_t")),
        minhash_prep(3, 96), MINHASH_PREP_SCHEMA)
    want = {r["doc_id"]: (list(r["_hsh"]), list(r["_sig"]))
            for r in jvm.collect()}
    got = {r["_id"]: (list(r["_hsh"]), list(r["_sig"]))
           for r in fused.collect()}
    assert got == want and len(got) == 509
    assert got[1007][0] == [42]          # NULL text: xxhash64(NULL) & M31
