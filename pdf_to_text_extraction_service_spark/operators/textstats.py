"""Text-analysis operators: language-ID, token counting, quality
scoring, document fingerprinting (prompt mandate).

Every formula is one the DuckDB oracle can evaluate identically;
lang_id and the fingerprint run it as one Arrow pass each, pinned to
the JVM expressions in tests/reference/textstats.py.  The quality
scorer reuses the byte-parity kernel (kernel/quality.py) as one scalar
Arrow UDF (it is pinned by its own parity fixtures, not a SQL
oracle).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)


# Tiny per-language stopword anchors for the n-gram/stopword heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "une"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "una"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

# BPE-ish token regex: letter runs, digit runs, or single
# punctuation/symbol — identical semantics in Spark and DuckDB RE2-ish
# engines (ASCII classes only).
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens",
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(TOKEN_REGEX), 0)),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic argmax over stopword scores (ties → lexicographic
    first language), plus 'und' (undetermined) when all scores are 0.

    Vectorized (r8): one Arrow pass with a token->languages dict
    instead of 5 interpreted filter/array_contains lambdas per row —
    bit-identical to ``lang_id_jvm`` in tests/reference/textstats.py
    (integer counts, same first-language tie rule, NULL text ->
    'und'); parity pinned by tests/test_textstats_opt.py."""
    from pyspark.sql.functions import arrow_udf

    langs = sorted(STOPWORDS)
    lookup: dict[str, list[int]] = {}
    for i, lg in enumerate(langs):
        for w in STOPWORDS[lg]:
            lookup.setdefault(w, []).append(i)

    @arrow_udf("string")
    def _guess(texts: pa.Array) -> pa.Array:
        out = []
        nl = len(langs)
        for t in texts.to_pylist():
            if t is None:
                out.append("und")
                continue
            counts = [0] * nl
            for tok in t.split(" "):
                li = lookup.get(tok)
                if li is not None:
                    for i in li:
                        counts[i] += 1
            m = max(counts)
            out.append(langs[counts.index(m)] if m > 0 else "und")
        return pa.array(out, type=pa.string())

    return df.withColumn("lang_guess", _guess(F.col(text_col)))


# ------------------------------------------------------ fingerprinting

FP_MOD = 1000000007
FP_BASE = 31


_POLY = (f"aggregate(filter(split(%s, ''), c -> c <> ''), 0L, "
         f"(acc, c) -> (acc * {FP_BASE}L + ascii(c)) %% {FP_MOD}L)")


def polyhash(expr: str):
    """Rolling polynomial hash of a string, evaluable identically in
    Spark and DuckDB: fold (acc*31 + codepoint) % 1e9+7 over chars.
    (The empty-string filter guards Spark's trailing '' from
    split-by-empty-pattern; DuckDB's char split has no empties.)"""
    return F.expr(_POLY % expr)


def fingerprint_udf(n: int = 4):
    """Vectorized fingerprint: one scalar ``arrow_udf``, numpy
    column-wise prefix-hash fold (same pattern as
    neardup.simhash64_text_udf). Bit-identical to the JVM HOF fold
    ``doc_fingerprint_jvm`` in tests/reference/textstats.py:

    - an n-gram of single-space-joined tokens is EXACTLY a substring
      of the original text (split-on-' ' then join-with-' ' is the
      identity, including runs of spaces via empty tokens), so every
      gram hash is recoverable from per-character PREFIX hashes:
      H(s..e) = (h[e] - h[s] * 31^(e-s)) mod p — exact integer math,
      same value as the JVM left fold (which never goes negative);
    - prefix hashes for the whole batch fold column-wise over a
      padded (rows x maxlen) codepoint matrix — ~maxlen vectorized
      numpy steps per batch instead of rows x chars interpreted ops;
    - products stay under 2^63: both factors < p ~ 1e9.
    """
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("bigint")
    def _fp(texts: pa.Array) -> pa.Array:
        rows = [
            None if s is None else
            np.frombuffer(s.encode("utf-32-le"), np.uint32)
            .astype(np.int64)
            for s in texts.to_pylist()
        ]
        lens = [0 if r is None else len(r) for r in rows]
        maxlen = max(lens, default=0)
        nrows = len(rows)
        mat = np.full((nrows, maxlen), -1, np.int64)
        for i, r in enumerate(rows):
            if r is not None and len(r):
                mat[i, :len(r)] = r
        # column-wise fold -> full prefix-hash matrix
        h = np.zeros((nrows, maxlen + 1), np.int64)
        acc = np.zeros(nrows, np.int64)
        for j in range(maxlen):
            col = mat[:, j]
            acc = np.where(col >= 0, (acc * FP_BASE + col) % FP_MOD,
                           acc)
            h[:, j + 1] = acc
        pow31 = np.empty(maxlen + 1, np.int64)
        pow31[0] = 1
        for d in range(maxlen):
            pow31[d + 1] = (pow31[d] * FP_BASE) % FP_MOD
        out = []
        space = ord(" ")
        for i, r in enumerate(rows):
            if r is None:
                out.append(None)
                continue
            # token boundaries; gram g spans tokens [g, g+n-1]
            starts = np.concatenate(
                ([0], np.flatnonzero(r == space) + 1))
            ends = np.concatenate(
                (np.flatnonzero(r == space), [len(r)]))
            k = len(starts)
            g = max(k - n, 0) + 1
            gs = starts[:g]
            ge = ends[np.minimum(np.arange(g) + n - 1, k - 1)]
            vals = (h[i, ge] - h[i, gs] * pow31[ge - gs]) % FP_MOD
            out.append(int(vals.min()))
        return pa.array(out, type=pa.int64())

    return _fp


def doc_fingerprint(df: DataFrame, text_col: str = "text",
                    n: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: min polynomial hash over word
    n-grams (a 1-permutation MinHash with a cross-engine hash), via
    the vectorized prefix-hash UDF (bit-identical to
    ``doc_fingerprint_jvm`` in tests/reference/textstats.py — pinned
    by tests/test_training_ops.py)."""
    return df.withColumn("fingerprint",
                         fingerprint_udf(n)(F.col(text_col)))


# ------------------------------------------------------ quality scoring

#: the scorer's in-row result, one struct per document
QUALITY_TYPE = StructType([
    StructField("quality", DoubleType()),
    StructField("needs_ocr", BooleanType()),
    StructField("maybe_ocr", BooleanType()),
    StructField("word_count", IntegerType()),
])


def quality_udf(min_words: int = 20):
    """Kernel quality scorer (quality.go parity) as one scalar
    ``arrow_udf``: text -> :data:`QUALITY_TYPE` struct, kernel loop per
    document; NULL text scores as "".  The row's other columns stay in
    the JVM, so a caller filters on the struct's fields in place
    (jobs/curate.py) instead of joining scores back."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(QUALITY_TYPE)
    def _quality(texts: pa.Array) -> pa.Array:
        from pdf_to_text_extraction_service_spark.kernel import quality

        ds = [quality.score(t if t is not None else "", min_words)
              for t in texts.to_pylist()]
        return pa.StructArray.from_arrays(
            [pa.array([d.quality for d in ds], pa.float64()),
             pa.array([d.needs_ocr for d in ds], pa.bool_()),
             pa.array([d.maybe_ocr for d in ds], pa.bool_()),
             pa.array([d.word_count for d in ds], pa.int32())],
            names=QUALITY_TYPE.fieldNames())

    return _quality


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 20) -> DataFrame:
    """``(doc_id, quality, needs_ocr, maybe_ocr, word_count)`` per row —
    the graft's "text-density/quality classification over batched byte
    streams" as a projection of :func:`quality_udf`, so the package
    has one quality scorer.  Its plan row (tests/test_plan_contracts.py)
    is that UDF's ``ArrowEvalPython`` node over the text, not a
    rebatched ``MapInArrow(_id, _t)`` pass: the kernel scores one
    document at a time, so gathering batches into chunks bought
    nothing."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        quality_udf(min_words)(F.col(text_col)).alias("_q"),
    ).select("doc_id", "_q.*")


# ------------------------------------------------- repetition signals

def _max_run_expr(arr: str) -> str:
    """Longest run in a SORTED string array = highest frequency of any
    element — one JVM fold, no shuffle (the array-local alternative to
    explode+groupBy at 100 TB)."""
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', '', 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', if(x = acc.prev, acc.run + 1, 1), "
        "'best', greatest(acc.best, if(x = acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public methodology): duplicate-line fraction, fraction of word
    bigrams taken by the single most frequent bigram, duplicate word
    trigram fraction. Pure JVM expressions per document — at corpus
    scale the signals feed a filter threshold exactly like
    quality_scores."""
    toks = f"split({text_col}, ' ')"
    g2 = (f"transform(sequence(0, greatest(size({toks}) - 2, 0)), "
          f"i -> array_join(slice(_rs_t, i + 1, 2), ' '))")
    g3 = (f"transform(sequence(0, greatest(size({toks}) - 3, 0)), "
          f"i -> array_join(slice(_rs_t, i + 1, 3), ' '))")
    return (
        df.withColumn("_rs_t", F.split(F.col(text_col), " "))
        .withColumn("_rs_l", F.split(F.col(text_col), "\n"))
        .withColumn("_rs_g2", F.expr(g2))
        .withColumn("_rs_g3", F.expr(g3))
        .select(
            id_col,
            F.round(
                (F.size("_rs_l") - F.size(F.array_distinct("_rs_l")))
                .cast("double") / F.size("_rs_l"), 6
            ).alias("dup_line_frac"),
            F.round(
                F.expr(_max_run_expr("_rs_g2")).cast("double")
                / F.size("_rs_g2"), 6
            ).alias("top_bigram_frac"),
            F.round(
                (F.size("_rs_g3") - F.size(F.array_distinct("_rs_g3")))
                .cast("double") / F.size("_rs_g3"), 6
            ).alias("dup_trigram_frac"),
        )
    )
