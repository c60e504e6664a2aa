"""r8 optimization parity pin: the vectorized window-occurrence pass
must be row-identical to the pre-r8 interpreted per-window expression
(double array_join(slice(...)) + xxhash64 chain)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _old_window_occurrences(docs, n, id_col, text_col, with_pos):
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
    expr = (
        f"transform(case when size(_toks) >= {n} "
        f"then sequence(0, size(_toks) - {n}) else array() end, "
        f"i -> struct("
        f"xxhash64(array_join(slice(_toks, i + 1, {n}), ' ')) as h1, "
        f"xxhash64(array_join(slice(_toks, i + 1, {n}), ' '), 's2') "
        f"as h2))"
    )
    if with_pos:
        return toks.select(
            F.col(id_col),
            F.posexplode(F.expr(expr)).alias("pos", "_g"),
        ).select(id_col, "pos", "_g.h1", "_g.h2")
    return toks.select(
        F.col(id_col), F.explode(F.expr(expr)).alias("_g"),
    ).select(id_col, "_g.h1", "_g.h2")


def test_window_occurrences_match_old_expression(spark):
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        _windows,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    edge = spark.createDataFrame(
        [(3000, None), (3001, ""), (3002, "a b c"),
         (3003, " ".join(f"w{i}" for i in range(13))),
         (3004, " ".join(f"w{i % 4}" for i in range(30)))],
        "doc_id long, text string")
    docs = docs.unionByName(edge)
    occurrences = _windows(docs, 13, "doc_id", "text", distinct=False,
                           with_pos=True)
    for with_pos in (False, True):
        want = sorted(map(tuple, _old_window_occurrences(
            docs, 13, "doc_id", "text", with_pos).collect()))
        cols = ["doc_id", "pos", "h1", "h2"] if with_pos \
            else ["doc_id", "h1", "h2"]
        got = sorted(map(tuple, occurrences.select(cols).collect()))
        assert got == want and len(got) > 10000, with_pos


def test_ngram_pass_crosses_chunk_boundaries(spark):
    """More than two text-row chunks in ONE task (a single partition)
    through map_text_rows with the n-gram kernel, in both modes, equal
    the JVM expressions row for row and in multiplicity — a dropped
    tail chunk or a chunk emitted twice changes the multiset.  Short
    texts, with NULL, empty and fewer-than-n-token rows mixed in."""
    from pdf_to_text_extraction_service_spark.functions.textrows import (
        CHUNK_ROWS,
        map_text_rows,
    )
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        NGRAM_SCHEMA,
        ngram_rows,
    )
    from tests.reference.decontam import gram_struct

    n = 3
    rows = []
    for i in range(2 * CHUNK_ROWS + 3001):
        if i % 11 == 0:
            rows.append((i, None))
        elif i % 13 == 0:
            rows.append((i, ""))
        else:             # 1..6 tokens, repeats inside a doc included
            rows.append((i, " ".join(f"w{(i + j) % 3}{i % 7}"
                                     for j in range(1 + i % 6))))
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    frame = docs.select(F.col("doc_id").alias("_id"),
                        F.col("text").alias("_t"))

    occ = _old_window_occurrences(docs, n, "doc_id", "text", True)
    want_occ = sorted(map(tuple, occ.collect()))
    got_occ = sorted(map(tuple, map_text_rows(
        frame, ngram_rows(n, distinct=False), NGRAM_SCHEMA).collect()))
    assert got_occ == want_occ and len(got_occ) > 2 * CHUNK_ROWS

    # distinct mode: the gram_struct set, each at its first position
    first = occ.groupBy("doc_id", "h1", "h2").agg(F.min("pos")) \
        .select("doc_id", "min(pos)", "h1", "h2")
    want_dist = sorted(map(tuple, first.collect()))
    assert sorted((d, a, b) for d, _, a, b in want_dist) == sorted(
        map(tuple, docs.select("doc_id", F.explode(F.expr(gram_struct(
            "split(text, ' ')", n))).alias("_g"))
            .select("doc_id", "_g.h1", "_g.h2").collect()))
    got_dist = sorted(map(tuple, map_text_rows(
        frame, ngram_rows(n, distinct=True), NGRAM_SCHEMA).collect()))
    assert got_dist == want_dist and len(got_dist) < len(got_occ)


def test_text_chunks_close_at_row_and_char_bounds():
    """The rebatch loop closes a chunk at the first batch that brings
    it to CHUNK_ROWS rows (short texts) or CHUNK_CHARS characters
    (long texts; NULL counts zero), keeps the tail, and hands on every
    row exactly once, in order.  It reads Arrow batches as map_rows
    hands them on: one column dict per ``RecordBatch``."""
    import pyarrow as pa

    from pdf_to_text_extraction_service_spark.functions.textrows import (
        CHUNK_CHARS,
        CHUNK_ROWS,
        text_chunks,
    )

    def batches(texts, size):
        for s in range(0, len(texts), size):
            part = texts[s:s + size]
            yield pa.RecordBatch.from_pydict(
                {"_id": pa.array(range(s, s + len(part)), pa.int64()),
                 "_t": pa.array(part, pa.string())}).to_pydict()

    big = "x" * (CHUNK_CHARS // 4 + 1)
    for texts, size, sizes in [
        # 9 batches of 1000 reach CHUNK_ROWS; 3000 rows are left over
        (["a b", None, ""] * 7000, 1000, [9000, 9000, 3000]),
        # 4 big texts pass CHUNK_CHARS, far below CHUNK_ROWS
        ([big, None] * 10, 2, [8, 8, 4]),
    ]:
        got = list(text_chunks(batches(texts, size)))
        assert [len(ids) for ids, _ in got] == sizes
        assert [i for ids, _ in got for i in ids] == list(range(len(texts)))
        assert [t for _, ts in got for t in ts] == texts


def _old_remove_duplicated_spans(docs, n=13, min_count=2,
                                 id_col="doc_id", text_col="text"):
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        _windows,
    )

    occurrences = _windows(docs, n, id_col, text_col, distinct=False,
                           with_pos=True)
    dup_canon = (
        occurrences.groupBy("h1", "h2")
        .agg(F.count("*").alias("_c"),
             F.min(F.struct(F.col(id_col).alias("d"),
                            F.col("pos").alias("p"))).alias("canon"))
        .filter(F.col("_c") >= min_count)
        .select("h1", "h2", "canon")
    )
    removals = (
        occurrences.join(dup_canon, ["h1", "h2"])
        .filter(~((F.col(id_col) == F.col("canon.d"))
                  & (F.col("pos") == F.col("canon.p"))))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("rm_pos"))
    )
    toks = F.split(F.col(text_col), " ")
    intervals = F.expr(
        f"aggregate(rm_pos, cast(array() as array<struct<s:int,e:int>>), "
        f"(acc, p) -> "
        f"case when size(acc) > 0 "
        f"and element_at(acc, -1).e >= p "
        f"then concat(slice(acc, 1, size(acc) - 1), array(named_struct("
        f"'s', element_at(acc, -1).s, "
        f"'e', greatest(element_at(acc, -1).e, p + {n})))) "
        f"else concat(acc, array(named_struct('s', p, 'e', p + {n}))) "
        f"end)"
    )
    kept = F.transform(
        F.filter(
            F.transform(toks, lambda x, i: F.struct(
                i.alias("i"), x.alias("x"))),
            lambda s: ~F.exists(
                F.col("_iv"),
                lambda iv: (s["i"] >= iv["s"]) & (s["i"] < iv["e"]),
            ),
        ),
        lambda s: s["x"],
    )
    return (
        docs.join(removals, id_col, "left")
        .withColumn("_iv", F.coalesce(
            intervals,
            F.expr("cast(array() as array<struct<s:int,e:int>>)")))
        .select(
            F.col(id_col),
            F.when(F.col("rm_pos").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " ")).alias("text_out"),
            F.size(toks).cast("int").alias("n_tokens"),
            F.coalesce(
                F.expr("aggregate(_iv, 0, (a, iv) -> a + iv.e - iv.s)"),
                F.lit(0)).cast("int").alias("n_removed"),
        )
    )


def test_remove_duplicated_spans_matches_old_sql(spark):
    """Two inputs: a shared header, and the flood — one
    13-gram prefixed to every document, so one window key holds an
    occurrence per document."""
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        remove_duplicated_spans,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    for hdr in ("shared boilerplate header repeated across many "
                "documents again and again and again and yet again for "
                "all",
                " ".join(f"flood{i}" for i in range(13))):
        built = docs.select(
            "doc_id",
            F.concat(F.lit(hdr + " "), F.col("text")).alias("text"))
        edge = spark.createDataFrame(
            [(4000, None), (4001, "short"),
             (4002, hdr), (4003, hdr + " " + hdr)],
            "doc_id long, text string")
        built = built.unionByName(edge)
        want = sorted(map(tuple,
                          _old_remove_duplicated_spans(built).collect()))
        got = sorted(map(tuple,
                         remove_duplicated_spans(built).collect()))
        assert got == want and len(got) > 500, hdr
        assert any(r[3] > 0 for r in got)    # removal actually happened
