"""Corpus-level boilerplate line removal (CCNet-style).

A web-scale training pipeline drops lines that repeat across many
documents (nav text, cookie banners, "subscribe" calls) before
training. Two passes, both JVM-side:

1. Line frequency: explode lines → groupBy(line) counting DISTINCT
   documents (two partial aggregations, so the line strings cross
   two Exchanges) → lines present in >= min_docs documents. At
   100 TB the frequent-line set is tiny relative to the corpus (it
   is the point of the operator), so it broadcasts.
2. Filter + reassemble: anti-join each document's lines against the
   broadcast frequent set, re-join surviving lines in original order.

The reassembly never shuffles whole documents: pass 2 is a map-side
broadcast join over the exploded lines plus one groupBy(doc) whose
payload is the surviving lines — the same volume the extraction
output already carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_lines(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_docs: int = 10,
                   sep: str = "\n") -> DataFrame:
    """Lines occurring in >= min_docs distinct documents.
    Returns (line, n_docs)."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), sep)).alias("line"),
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate_lines(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             min_docs: int = 10,
                             sep: str = "\n") -> DataFrame:
    """Strip corpus-frequent lines from every document, preserving
    the original order of surviving lines. Adds ``clean_text`` and
    ``n_removed``; other columns pass through."""
    freq = frequent_lines(df, text_col, id_col, min_docs, sep)
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "line"),
    )
    kept = (
        exploded.join(F.broadcast(freq.select("line")), "line",
                      "left_anti")
        .groupBy("_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list("
                       "struct(_pos, line))), x -> x.line)"),
                sep,
            ).alias("clean_text"),
            F.count("*").alias("_kept"),
        )
    )
    n_lines = F.size(F.split(F.col(text_col), sep))
    return (
        df.join(kept, df[id_col] == kept["_id"], "left")
        .drop("_id")
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
        .withColumn(
            "n_removed",
            (n_lines - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("int"),
        )
        .drop("_kept")
    )
