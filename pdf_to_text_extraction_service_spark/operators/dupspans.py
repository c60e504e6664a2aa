"""Corpus-internal duplicated-span audit (ExactSubstr-lite).

Lee et al. ("Deduplicating Training Data Makes Language Models
Better") remove exact substrings repeated across a corpus via a
suffix array. This operator is the distributed AUDIT half of that
idea: slide a word n-gram window over every document, count each
distinct window corpus-wide, and report per document how much of it
consists of windows that also occur elsewhere — the signal used to
drop or rewrite dup-heavy documents.

Spark-first shape for 10^12 docs (mirrors operators/decontam.py):
- document text crosses only the width guard's ``_id`` repartition
  (operators/salt.widen_for_python) ahead of each n-gram pass; the
  pass emits ``(doc_id, [pos,] h1, h2)`` dual-xxhash64 scalars, so
  window STRINGS never leave it and no other Exchange carries the
  text (the duplicated_span_stats row of tests/test_plan_contracts.py);
- corpus-wide window counts come from one groupBy on the 128-bit
  hash pair with map-side partial aggregation;
- the per-doc rollup joins doc windows to the over-threshold count
  set on the same scalar keys.

The DuckDB oracle groups on the raw window strings, so a hash
collision (≈1e-38 per pair) would fail the gate rather than hide.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..functions.textrows import map_rows, map_text_rows
from .decontam import NGRAM_KEY_SCHEMA, NGRAM_SCHEMA, ngram_rows
from .floodcap import _checkpoint_release
from .salt import widen_for_python


def _texts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(_id, _t)`` behind the width guard: the only relation whose
    Exchange carries the text."""
    return widen_for_python(docs.select(F.col(id_col).alias("_id"),
                                        F.col(text_col).alias("_t")))


def _windows(docs: DataFrame, n: int, id_col: str, text_col: str,
             distinct: bool, with_pos: bool) -> DataFrame:
    """``(id, [pos,] h1, h2)`` for every window occurrence, or for each
    document's distinct windows when ``distinct`` — one rebatched
    n-gram pass (decontam.ngram_rows through
    functions/textrows.map_text_rows) behind the width guard."""
    return (
        map_text_rows(_texts(docs, id_col, text_col),
                      ngram_rows(n, distinct),
                      NGRAM_SCHEMA if with_pos else NGRAM_KEY_SCHEMA)
        .withColumnRenamed("_id", id_col)
    )


def duplicated_span_stats(docs: DataFrame, n: int = 13,
                          min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Per-document duplicated-window stats:
    ``(id, dup_windows, total_windows, dup_frac, dup_heavy)``.

    A window is "duplicated" when its corpus-wide occurrence count
    (counting every occurrence, including repeats inside one doc)
    reaches ``min_count``. ``dup_windows`` counts the document's
    DISTINCT windows that are duplicated; ``dup_heavy`` flags docs
    with dup_frac >= 0.5 (the common drop threshold)."""
    # every occurrence (NOT distinct-per-doc) so within-doc repetition
    # counts toward min_count, like a suffix array would see it
    occurrences = _windows(docs, n, id_col, text_col, distinct=False,
                           with_pos=False)
    dup_keys = (
        occurrences.groupBy("h1", "h2")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h1", "h2")
    )
    doc_distinct = _windows(docs, n, id_col, text_col, distinct=True,
                            with_pos=False)
    dup_per_doc = (
        doc_distinct.join(dup_keys, ["h1", "h2"])
        .groupBy(id_col)
        .agg(F.count("*").alias("dup_windows"))
    )
    totals = docs.select(
        F.col(id_col),
        F.greatest(
            F.size(F.split(F.col(text_col), " ")) - F.lit(n - 1),
            F.lit(0),
        ).alias("total_windows"),
    )
    return (
        totals.join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_windows", F.lit(0)).cast("int")
            .alias("dup_windows"),
            F.col("total_windows").cast("int").alias("total_windows"),
            F.round(
                F.coalesce("dup_windows", F.lit(0))
                / F.greatest("total_windows", F.lit(1)), 6
            ).alias("dup_frac"),
            (F.coalesce("dup_windows", F.lit(0))
             >= F.greatest("total_windows", F.lit(1)) * 0.5)
            .alias("dup_heavy"),
        )
    )


def remove_duplicated_spans(docs: DataFrame, n: int = 13,
                            min_count: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup: rewrite each document
    dropping every token covered by a duplicated window occurrence
    that is not the window's corpus-wide FIRST occurrence (canonical
    = min (doc_id, pos)). Returns
    ``(id_col, text_out, n_tokens, n_removed)``.

    Exact rule (mirrored by the oracle): token t of doc d is removed
    iff some occurrence (d, pos) of a window with corpus count >=
    min_count covers it (pos <= t < pos+n) AND (d, pos) is not that
    window's canonical occurrence. A canonical occurrence's tokens
    can still be removed when another, non-canonical window overlaps
    them — the "keep the first copy, drop the rest" approximation at
    fixed window size.

    Scale shape: as duplicated_span_stats, the text crosses the width
    guard and only (doc_id, pos, h1, h2) scalars shuffle after it;
    removal positions roll up per doc as a sorted int array and join
    back to the guarded ``(_id, _t)`` relation for one Arrow rewrite
    pass, so that pass runs at full width too.  The removal arrays
    broadcast to it, or (as a shuffle join) arrive already hashed on
    the id, so the text crosses the guard Exchange once, reused by
    both passes (the remove_duplicated_spans row of
    tests/test_plan_contracts.py)."""
    occurrences = _windows(docs, n, id_col, text_col, distinct=False,
                           with_pos=True)
    # ONE declared aggregation per window key computes the corpus
    # count and the canonical occurrence (min (doc, pos)) together
    # and emits every NON-canonical occurrence of qualifying windows
    # — replacing the previous groupBy-aggregate shuffle PLUS the
    # sort-merge join back onto the occurrences (r8; row-identical,
    # pinned by tests/test_dupspans_opt.py).  Occurrence lists are
    # tiny (the corpus count of one 13-gram); grouping is semantic —
    # a physical repartition is NOT a grouping contract under AQE
    # (see floodcap.block_verify_pairs).
    removal_rows = (
        occurrences.groupBy("h1", "h2")
        .agg(F.collect_list(F.struct(
            F.col(id_col).alias("d"), F.col("pos").alias("p")))
            .alias("_occ"))
        .filter(F.size("_occ") >= min_count)
        .withColumn("_canon", F.array_min("_occ"))
        .select(F.explode(F.expr(
            "filter(_occ, s -> s != _canon)")).alias("_e"))
        .select(F.col("_e.d").alias(id_col), F.col("_e.p").alias("pos"))
    )
    removals = (
        removal_rows
        .groupBy(F.col(id_col).alias("_id"))
        .agg(F.sort_array(F.collect_set("pos")).alias("rm_pos"))
    )
    # the rewrite itself runs vectorized (one Arrow pass) instead of
    # the previous interpreted interval-merge + per-token exists()
    # lambdas, which cost O(tokens x intervals) interpreted evals per
    # doc and dominated the curate span stage; the interval merge is
    # the same fold (fixed width n over ascending positions merges
    # exactly where p <= prev + n), token coverage via a diff array —
    # output row-identical (tests/test_dupspans_opt.py)
    rewrite = _rewrite_rows_fn(n)
    out = map_rows(
        _texts(docs, id_col, text_col).join(removals, "_id", "left")
        .select("_id", "_t", "rm_pos"),
        DataType.fromDDL(
            "_id long, text_out string, n_tokens int, n_removed int"),
        lambda batches: map(rewrite, batches),
    ).withColumnRenamed("_id", id_col)
    # occurrences has a single consumer (the grouped pass), so no
    # persist is needed; the checkpoint bounds the result
    return _checkpoint_release(out)


def _rewrite_rows_fn(n: int):
    """Row body for remove_duplicated_spans' rewrite phase (one
    functions/textrows.map_rows pass): (id, text, rm_pos) -> (id,
    text_out, n_tokens, n_removed).

    Replicates the old SQL exactly: merge [p, p+n) intervals over the
    ascending rm_pos (with fixed width and sorted starts the fold's
    ``last.e >= p`` merge rule reduces to breaking groups where
    ``p > prev + n``), drop covered tokens, join with single spaces;
    rm_pos NULL -> text unchanged, n_removed 0; NULL text -> NULL
    text_out/n_tokens (size(NULL)), n_removed 0."""
    def fn(batch: dict) -> dict:
        out_t, out_nt, out_nr = [], [], []
        for t, rm in zip(batch["_t"], batch["rm_pos"]):
            if t is None:
                out_t.append(None)
                out_nt.append(None)
                out_nr.append(0)
                continue
            toks = t.split(" ")
            if rm is None:
                out_t.append(t)
                out_nt.append(len(toks))
                out_nr.append(0)
                continue
            if len(rm) == 0:     # non-null empty: old path still
                out_t.append(" ".join(toks))   # rejoined tokens
                out_nt.append(len(toks))
                out_nr.append(0)
                continue
            p = np.asarray(rm, dtype=np.int64)
            brk = np.nonzero(p[1:] > p[:-1] + n)[0] + 1
            gs = np.concatenate(([0], brk))
            ge = np.concatenate((brk, [len(p)])) - 1
            starts = p[gs]
            ends = p[ge] + n
            cov = np.zeros(len(toks) + 1, dtype=np.int32)
            np.add.at(cov, starts, 1)
            np.add.at(cov, ends, -1)
            mask = np.cumsum(cov[:-1]) > 0
            out_t.append(" ".join(
                tok for tok, m in zip(toks, mask) if not m))
            out_nt.append(len(toks))
            out_nr.append(int((ends - starts).sum()))
        return {"_id": batch["_id"], "text_out": out_t,
                "n_tokens": out_nt, "n_removed": out_nr}

    return fn
