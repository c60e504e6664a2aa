"""r8 optimization parity pin: the decontamination path (one n-gram
pass per side, decontam.ngram_rows in distinct mode) must produce
row-identical output to the pre-r8 double-build SQL shape (explode
gram_struct + separate totals pass, in tests/reference/decontam.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _old_benchmark_overlap(docs, bench, n=13, id_col="doc_id",
                           text_col="text", bench_text_col="text"):
    from tests.reference.decontam import gram_struct, grams

    bench_grams = (
        bench.select(F.explode(F.expr(
            gram_struct(f"split({bench_text_col}, ' ')", n)
        )).alias("_g"))
        .select("_g.h1", "_g.h2")
        .distinct()
    )
    doc_grams = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(
                gram_struct(f"split({text_col}, ' ')", n)
            )).alias("_g"),
        )
        .select(id_col, "_g.h1", "_g.h2")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), ["h1", "h2"])
        .groupBy(id_col)
        .agg(F.count("*").alias("hit_ngrams"))
    )
    doc_tokens = f"split({text_col}, ' ')"
    totals = docs.select(
        F.col(id_col),
        F.expr(f"size({grams(doc_tokens, n)})").alias("total_ngrams"),
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("hit_ngrams", F.lit(0)).cast("int")
            .alias("hit_ngrams"),
            F.col("total_ngrams").cast("int").alias("total_ngrams"),
            F.round(
                F.coalesce("hit_ngrams", F.lit(0))
                / F.greatest("total_ngrams", F.lit(1)), 6
            ).alias("overlap_frac"),
            (F.coalesce("hit_ngrams", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )


def test_benchmark_overlap_matches_old_sql_shape(spark):
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        benchmark_overlap,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    edge = spark.createDataFrame(
        [(2000, None), (2001, ""), (2002, "short text"),
         (2003, " ".join(f"w{i}" for i in range(13))),
         (2004, " ".join(f"w{i % 3}" for i in range(40)))],
        "doc_id long, text string")
    docs = docs.unionByName(edge)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.expr("array_join(slice(split(text, ' '), 1, 20), ' ')")
        .alias("text"))

    want = sorted(map(tuple, _old_benchmark_overlap(
        docs, bench, n=13).collect()))
    got = sorted(map(tuple, benchmark_overlap(
        docs, bench, n=13).collect()))
    assert got == want and len(got) > 500
    assert any(r[4] for r in got)        # some contaminated rows
