"""Benchmark decontamination — the GPT-3/Pile-style n-gram overlap
check every LLM training pipeline runs before training: flag any
document sharing at least one word n-gram (n=13 by default) with an
evaluation-benchmark corpus.

Spark-first shape for 10^12 docs:
- benchmark n-grams are hashed (two independent xxhash64 values — a
  128-bit combined key makes a false hit ~1e-38 per pair), made
  DISTINCT, and **broadcast**: the benchmark side is a few million
  rows at most, so the contamination join never shuffles the
  document corpus;
- document text crosses exactly one Exchange, the width guard's
  ``_id`` repartition ahead of the n-gram pass
  (operators/salt.widen_for_python); from there on only
  ``(doc_id, h1, h2)`` scalars flow — the n-gram STRINGS never
  leave the pass that hashes them;
- the hit count aggregates with map-side partial aggregation.

Both sides hash through one vectorized kernel (:func:`ngram_rows`,
shared with operators/dupspans.py) whose XXH64 replicates Spark's
native ``xxhash64`` bit for bit.  The DuckDB oracle joins on the
n-gram STRINGS, so it verifies the results without ever mirroring the
hash (identical output up to the negligible collision rate).
"""

from __future__ import annotations

from array import array

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..functions.textrows import map_text_rows
from .salt import widen_for_python


#: the n-gram pass's output rows (see :func:`ngram_rows`)
NGRAM_SCHEMA = StructType([
    StructField("_id", LongType()),
    StructField("pos", IntegerType()),
    StructField("h1", LongType()),
    StructField("h2", LongType()),
])
#: the same rows without ``pos``, for passes whose consumers read only
#: the hashes (the kernel still computes it; it just never crosses
#: the Arrow boundary)
NGRAM_KEY_SCHEMA = StructType([f for f in NGRAM_SCHEMA if f.name != "pos"])


def ngram_rows(n: int, distinct: bool):
    """Chunk kernel for functions/textrows.map_text_rows: ``(ids,
    texts)`` -> one ``(_id, pos, h1, h2)`` row per word n-gram
    occurrence, or per DISTINCT n-gram string of the document when
    ``distinct`` (``pos`` is then the gram's first position).

    Bit-identical to the JVM expressions it replaced (pinned by
    tests/test_decontam_opt.py against ``gram_struct`` in
    tests/reference/decontam.py, and by tests/test_dupspans_opt.py):
    split on the literal space; a NULL text or one with fewer than
    ``n`` tokens has ZERO n-grams (standard decontamination semantics:
    no truncated pseudo-grams that would let short benchmark lines
    flag short documents); grams are the ``' '``-joined n-token
    windows, ``pos`` the 0-based window start; h1 = xxhash64(s), h2 =
    xxhash64(s, 's2') == xxh64('s2', seed=h1) — the vectorized XXH64
    (operators/xxh64np.py) replicates Spark's chaining."""
    from .xxh64np import xxh64_pair

    def chunk(ids: list, texts: list) -> dict:
        counts: list[int] = []
        pos = array("i")          # C ints: 4 bytes per gram, no boxing
        grams: list[bytes] = []
        for t in texts:
            toks = [] if t is None else t.split(" ")
            gs = [" ".join(toks[j:j + n])
                  for j in range(len(toks) - n + 1)]
            js = range(len(gs))
            if distinct:
                # built backwards, so the earliest position of each
                # gram is the value written last (one C-level pass)
                first = dict(zip(reversed(gs), reversed(js)))
                gs, js = first.keys(), first.values()
            counts.append(len(gs))
            pos.extend(js)
            grams.extend(g.encode("utf-8") for g in gs)
        h1, h2 = xxh64_pair(grams)
        return {"_id": np.repeat(np.asarray(ids, dtype=np.int64), counts),
                "pos": np.frombuffer(pos, dtype=np.int32),
                "h1": h1, "h2": h2}

    return chunk


def benchmark_overlap(docs: DataFrame, bench: DataFrame, n: int = 13,
                      id_col: str = "doc_id", text_col: str = "text",
                      bench_text_col: str = "text") -> DataFrame:
    """Per-document contamination stats vs a benchmark corpus:
    (id, hit_ngrams, total_ngrams, overlap_frac, contaminated).

    ``hit_ngrams`` counts the document's DISTINCT n-grams that appear
    anywhere in the benchmark; ``contaminated`` is the standard
    any-hit flag. The benchmark side is broadcast (see module
    docstring), so the contamination join never shuffles the corpus.

    Each side is one n-gram text-row pass (:func:`ngram_rows` in
    distinct mode through functions/textrows.map_text_rows); results
    are pinned to the JVM expression shape by
    tests/test_decontam_opt.py.  The broadcast LEFT join against the
    distinct benchmark grams is 1:1, so one partial-agg groupBy
    yields hits (``count(_hit)``) and the distinct-gram total
    (``count(*)``) together; docs with zero grams re-enter via the
    final left join (coalesce 0).  Unique ``id_col`` is assumed (both
    callers guarantee it)."""
    bench_grams = (
        map_text_rows(bench.select(F.lit(0).cast("long").alias("_id"),
                                   F.col(bench_text_col).alias("_t")),
                      ngram_rows(n, distinct=True), NGRAM_KEY_SCHEMA)
        .select("h1", "h2")
        .distinct()
    )
    doc_rows = map_text_rows(
        widen_for_python(docs.select(F.col(id_col).alias("_id"),
                                     F.col(text_col).alias("_t"))),
        ngram_rows(n, distinct=True), NGRAM_KEY_SCHEMA)
    agg = (
        doc_rows.join(
            F.broadcast(bench_grams.withColumn("_hit", F.lit(1))),
            ["h1", "h2"], "left")
        .groupBy("_id")
        .agg(F.count("_hit").alias("hit_ngrams"),
             F.count("*").alias("total_ngrams"))
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
