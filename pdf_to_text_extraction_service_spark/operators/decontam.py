"""Benchmark decontamination — the GPT-3/Pile-style n-gram overlap
check every LLM training pipeline runs before training: flag any
document sharing at least one word n-gram (n=13 by default) with an
evaluation-benchmark corpus.

Spark-first shape for 10^12 docs:
- benchmark n-grams are hashed (two independent native xxhash64
  values — a 128-bit combined key makes a false hit ~1e-38 per
  pair), made DISTINCT, and **broadcast**: the benchmark side is a
  few million rows at most, so no shuffle ever touches the document
  corpus;
- document n-grams explode to (doc_id, h1, h2) scalars only — the
  n-gram STRINGS never leave the projection that hashes them;
- the hit count aggregates with map-side partial aggregation.

The hashes stay inside whole-stage codegen (xxhash64 is a native JVM
expression — an earlier interpreted char-fold polyhash made this the
slowest query in the bench suite at 4x the cost). The DuckDB oracle
joins on the n-gram STRINGS, so it verifies the results without ever
mirroring the hash (identical output up to the negligible collision
rate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .salt import widen_for_python


def gram_rows_fn(n: int):
    """mapInPandas body: (id, text) batches -> one row per DISTINCT
    word n-gram: (_id, h1, h2, total) where total = the doc's
    distinct-gram count (repeated per row — 8 bytes buys the totals
    pass the old shape recomputed every gram string for).

    A text with fewer than ``n`` tokens has ZERO n-grams (standard
    decontamination semantics: no truncated pseudo-grams that would
    let short benchmark lines flag short documents).  Bit-identical to
    exploding the JVM ``gram_struct`` expression in
    tests/reference/decontam.py (pinned by
    tests/test_decontam_opt.py): split on the literal space,
    n-token ``' '``-joined grams only when the text has >= n tokens
    (zero grams otherwise — no rows, exactly like exploding an
    empty/NULL array), first-occurrence distinct on the gram
    STRINGS (so the totals are string-distinct counts, same as
    ``size(array_distinct(...))``), h1 = xxhash64(s), h2 =
    xxhash64(s, 's2') == xxh64('s2', seed=h1) — the vectorized
    XXH64 (operators/xxh64np.py) replicates Spark's chaining."""
    from .xxh64np import xxh64_pair

    def fn(it):
        ids: list = []
        texts: list = []

        def flush():
            out_id, out_tot = [], []
            grams_all: list[bytes] = []
            for i, t in zip(ids, texts):
                if t is None:
                    continue
                toks = t.split(" ")
                if len(toks) < n:
                    continue
                gs = list(dict.fromkeys(
                    " ".join(toks[j:j + n])
                    for j in range(len(toks) - n + 1)))
                out_id.append((i, len(gs)))
                grams_all.extend(g.encode("utf-8") for g in gs)
            h1, h2 = xxh64_pair(grams_all)
            rid = np.repeat(
                np.array([i for i, _ in out_id], dtype=np.int64),
                [c for _, c in out_id]) if out_id else \
                np.empty(0, np.int64)
            tot = np.repeat(
                np.array([c for _, c in out_id], dtype=np.int64),
                [c for _, c in out_id]) if out_id else \
                np.empty(0, np.int64)
            return pd.DataFrame({"_id": rid, "h1": h1, "h2": h2,
                                 "total": tot})

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids.extend(pdf["_id"].tolist())
            texts.extend(pdf["_t"].tolist())
            if len(ids) >= 4096:
                yield flush()
                ids, texts = [], []
        if ids:
            yield flush()

    return fn


def benchmark_overlap(docs: DataFrame, bench: DataFrame, n: int = 13,
                      id_col: str = "doc_id", text_col: str = "text",
                      bench_text_col: str = "text") -> DataFrame:
    """Per-document contamination stats vs a benchmark corpus:
    (id, hit_ngrams, total_ngrams, overlap_frac, contaminated).

    ``hit_ngrams`` counts the document's DISTINCT n-grams that appear
    anywhere in the benchmark; ``contaminated`` is the standard
    any-hit flag. The benchmark side is broadcast (see module
    docstring) — at 100 TB the corpus never shuffles.

    r8 shape (results identical, pinned by tests/test_decontam_opt
    .py): ONE fused Python pass per side (gram_rows_fn) emits hashed
    gram rows carrying the doc's distinct-gram total, so the old
    second full gram-string build for the totals column is gone; a
    broadcast LEFT join + one partial-agg groupBy produce hits and
    totals together; docs with zero grams re-enter via the final
    left join (coalesce 0).  Unique ``id_col`` is assumed (both
    callers guarantee it; the pre-r8 shape needed it too for the
    totals join to be 1:1)."""
    bench_grams = (
        bench.select(F.lit(0).cast("long").alias("_id"),
                     F.col(bench_text_col).alias("_t"))
        .mapInPandas(gram_rows_fn(n),
                     "_id long, h1 long, h2 long, total long")
        .select("h1", "h2")
        .distinct()
    )
    doc_rows = (
        widen_for_python(docs.select(F.col(id_col).alias("_id"),
                                     F.col(text_col).alias("_t")))
        .mapInPandas(gram_rows_fn(n),
                     "_id long, h1 long, h2 long, total long")
    )
    agg = (
        doc_rows.join(
            F.broadcast(bench_grams.withColumn("_hit", F.lit(1))),
            ["h1", "h2"], "left")
        .groupBy("_id")
        .agg(F.count("_hit").alias("hit_ngrams"),
             F.max("total").alias("total_ngrams"))
        .withColumnRenamed("_id", id_col)
    )
    return (
        docs.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("hit_ngrams", F.lit(0)).cast("int")
            .alias("hit_ngrams"),
            F.coalesce("total_ngrams", F.lit(0)).cast("int")
            .alias("total_ngrams"),
            F.round(
                F.coalesce("hit_ngrams", F.lit(0))
                / F.greatest(F.coalesce("total_ngrams", F.lit(0)),
                             F.lit(1)), 6
            ).alias("overlap_frac"),
            (F.coalesce("hit_ngrams", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )
