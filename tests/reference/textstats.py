"""JVM-expression references for ``operators/textstats.lang_id`` and
``operators/textstats.doc_fingerprint``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.textstats import (
    _POLY,
    STOPWORDS,
)

def lang_scores(text_col: str):
    """Per-language stopword-hit scores as JVM expressions: the count
    of tokens present in each language's stopword set."""
    toks = f"split({text_col}, ' ')"
    scores = {}
    for lang, words in STOPWORDS.items():
        arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
        scores[lang] = F.expr(
            f"size(filter({toks}, t -> array_contains({arr}, t)))"
        )
    return scores


# greatest() on structs compares fields in order; to make ties pick the
# lexicographically FIRST language we give earlier languages a higher
# second field.
_NEG_ORD = {lg: 1000 - i for i, lg in enumerate(sorted(STOPWORDS))}


def lang_id_jvm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpreted stopword filter per language, argmax by
    greatest(struct) — ties to the first language, 'und' when every
    score is 0."""
    scores = lang_scores(text_col)
    langs = sorted(scores)
    struct = F.greatest(*[
        F.struct(scores[lg].alias("s"),
                 F.lit(_NEG_ORD[lg]).alias("o"),
                 F.lit(lg).alias("lang"))
        for lg in langs
    ])
    return df.withColumn(
        "lang_guess",
        F.when(struct["s"] > 0, struct["lang"]).otherwise(F.lit("und")),
    )


def doc_fingerprint_jvm(df: DataFrame, text_col: str = "text",
                        n: int = 4) -> DataFrame:
    """Min polynomial hash over word n-grams as an interpreted HOF
    char fold per shingle."""
    shingles = (
        f"transform(sequence(0, greatest(size(_fp_t) - {n}, 0)), "
        f"i -> array_join(slice(_fp_t, i + 1, {n}), ' '))"
    )
    return (
        df.withColumn("_fp_t", F.split(F.col(text_col), " "))
        .withColumn(
            "fingerprint",
            F.array_min(F.expr(
                f"transform({shingles}, s -> {_POLY % 's'})"
            )),
        )
        .drop("_fp_t")
    )
