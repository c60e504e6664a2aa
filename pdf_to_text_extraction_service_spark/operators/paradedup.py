"""Paragraph-level exact deduplication (CCNet / RefinedWeb style).

Web corpora repeat boilerplate paragraphs (cookie banners, footers,
licence blurbs) across millions of pages; paragraph dedup keeps the
FIRST corpus-wide occurrence of each distinct paragraph and drops the
rest, reassembling documents from their surviving paragraphs.

Scale shape (the part that matters at 100 TB):

1. ``posexplode(split(text))`` runs inside the document's partition —
   no shuffle, and the paragraph TEXT never leaves it: only
   ``(doc_id, pos, xxhash64(para))`` scalars continue.
2. The keeper decision is ``groupBy(hash).agg(min(struct(doc_id,
   pos)))`` — a partial (map-side combinable) aggregation, so a
   boilerplate paragraph repeated 10^8 times contributes ONE row per
   map partition to the shuffle instead of 10^8 rows on a single
   reducer key.  (A ``row_number() over partitionBy(hash)`` window
   CANNOT partially aggregate: every occurrence of a hot hash lands
   on one task — the exact skew magnet this operator's motivating
   workload produces.  Same argument as operators/dedup.py makes for
   the url dedup.)
3. Kept positions roll up per doc (``sort_array(collect_list)``) —
   second scalar shuffle — and join back to the ORIGINAL docs table,
   where reassembly happens in-row with JVM array expressions
   (split → keep-by-position → array_join). Document text crosses
   at most ONE Exchange (that join): none while the kept-position
   lists broadcast (the paragraph_dedup row of
   tests/test_plan_contracts.py), one once they shuffle.

Dedup identity is xxhash64 of the paragraph (collision odds 2^-64 per
pair, the decontam trade — operators/decontam.py); the DuckDB oracle
groups by the raw paragraph STRING instead, so a collision would
surface as a gate failure rather than hide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARA_SEP = "\n\n"


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = PARA_SEP) -> DataFrame:
    """Corpus-wide paragraph dedup, first occurrence (by ``(doc_id,
    pos)``) wins. Returns one row per input doc: ``(id_col, *the
    input's other columns, text_out, n_paras, n_kept)`` — empty docs
    keep an empty string.  The other columns ride along on the
    reassembly join's document side, so a caller rewrites the text in
    place instead of joining ``text_out`` back to its documents; the
    contract row is unchanged, because that side crosses no Exchange
    while the kept positions broadcast."""
    # \Q…\E so the separator is a LITERAL: F.split takes a Java
    # regex, and a sep like '. ' would otherwise fragment on any char
    sep_re = "\\Q" + sep + "\\E"
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep_re), -1))
        .alias("pos", "para"),
    ).select(id_col, "pos", F.xxhash64("para").alias("h"))

    # First corpus-wide occurrence = min (doc_id, pos) per hash.
    # struct-min is map-side combinable (partial_min below the
    # Exchange), so hot paragraph hashes never concentrate on one
    # reducer — semantics identical to rank-1 of a (doc_id, pos)
    # ordered window, without the window's skew.
    first = (
        paras.groupBy("h")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos")))
             .alias("w"))
        .select(F.col("w")[id_col].alias(id_col),
                F.col("w")["pos"].alias("pos"))
    )
    keepers = (
        first.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("keep_pos"))
    )

    arr = F.split(F.col(text_col), F.lit(sep_re), -1)
    reassembled = F.array_join(
        F.transform(
            F.filter(
                F.transform(arr, lambda x, i: F.struct(
                    i.alias("i"), x.alias("x"))),
                lambda s: F.array_contains(F.col("keep_pos"), s["i"]),
            ),
            lambda s: s["x"],
        ),
        sep,
    )
    keep = [c for c in docs.columns if c not in (id_col, text_col)]
    return (
        docs.join(keepers, id_col, "left")
        .select(
            F.col(id_col), *keep,
            F.when(F.col("keep_pos").isNull(), F.lit(""))
            .otherwise(reassembled).alias("text_out"),
            F.size(arr).alias("n_paras"),
            F.coalesce(F.size("keep_pos"), F.lit(0)).alias("n_kept"),
        )
    )
