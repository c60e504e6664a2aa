"""Training-pipeline operators added in round 3: benchmark
decontamination (n-gram overlap) and concat-and-chunk sequence
packing."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_decontam_planted_overlap(spark):
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        benchmark_overlap,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "x y z w v u"), (2, "a b c d q r")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("a b c d",)], "text string")
    out = {r["doc_id"]: r for r in
           benchmark_overlap(docs, bench, n=4).collect()}
    # doc 0 and doc 2 share exactly the 4-gram "a b c d"
    assert out[0]["contaminated"] and out[2]["contaminated"]
    assert not out[1]["contaminated"]
    assert out[0]["hit_ngrams"] == 1
    assert out[0]["total_ngrams"] == 3  # abcd, bcde, cdef
    assert abs(out[0]["overlap_frac"] - round(1 / 3, 6)) < 1e-9
    assert out[1]["hit_ngrams"] == 0


def test_decontam_no_false_hits_on_disjoint(spark):
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        benchmark_overlap,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 20) for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("other words entirely",)],
                                  "text string")
    out = benchmark_overlap(docs, bench, n=3)
    assert out.filter("contaminated").count() == 0


def test_pack_sequences_matches_serial_cumsum(spark):
    from pdf_to_text_extraction_service_spark.operators.packing import (
        pack_sequences,
    )

    rows = [(i, "w " * ((i * 7) % 90 + 1)) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 128
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"], r["n_tokens"])
           for r in pack_sequences(docs, budget=budget,
                                   block=32).collect()}
    cum = 0
    for i, text in rows:
        n = len(text.split(" "))
        assert got[i] == (cum // budget, cum % budget, n), i
        cum += n


def test_pack_sequences_partitioning_invariant(spark):
    from pdf_to_text_extraction_service_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (i % 40 + 1)) for i in range(300)],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in
               pack_sequences(docs.repartition(1), budget=64,
                              block=16).collect())
    b = sorted(tuple(r) for r in
               pack_sequences(docs.repartition(32), budget=64,
                              block=16).collect())
    assert a == b  # integer prefix sums — bit-exact at any parallelism


def test_pack_sequences_straddle(spark):
    from pdf_to_text_extraction_service_spark.operators.packing import (
        pack_sequences,
    )

    # one 100-token doc after a 200-token doc, budget 128: the second
    # doc starts at offset 200 -> seq 1, offset 72
    docs = spark.createDataFrame(
        [(0, "w " * 200), (1, "w " * 100)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           pack_sequences(docs, budget=128).collect()}
    # "w " * 200 splits into 201 tokens (trailing empty from split)
    n0 = out[0]["n_tokens"]
    assert out[0]["seq_id"] == 0 and out[0]["seq_offset"] == 0
    assert out[1]["seq_id"] == n0 // 128
    assert out[1]["seq_offset"] == n0 % 128


def test_unigram_quality_semantics(spark):
    from pdf_to_text_extraction_service_spark.operators.lmproxy import (
        unigram_quality,
    )
    import math

    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "a rareword")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_quality(docs).collect()}
    # corpus: a x4, b x1, rareword x1 -> total 6
    assert out[0]["n_tokens"] == 4
    lp0 = (3 * math.log(4 / 6) + math.log(1 / 6)) / 4
    assert abs(out[0]["mean_logprob"] - round(lp0, 6)) < 1e-9
    assert out[0]["rare_frac"] == 0.25       # only 'b' is rare (<=2)
    assert out[1]["rare_frac"] == 0.5


def test_unigram_quality_partitioning_invariant(spark):
    from pdf_to_text_extraction_service_spark.operators.lmproxy import (
        unigram_quality,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(tuple(r) for r in
               unigram_quality(docs.repartition(1)).collect())
    b = sorted(tuple(r) for r in
               unigram_quality(docs.repartition(32)).collect())
    assert a == b  # ordered fold -> bit-exact at any parallelism


def test_ln_parity_across_engines(spark):
    """The unigram oracle depends on ln() agreeing bit-for-bit
    between Spark (JVM Math.log) and DuckDB (libm) — pin it."""
    import duckdb
    import math

    vals = [3 / 500, 17 / 50000, 1 / 7, 123 / 456789, 2 / 3]
    con = duckdb.connect()
    duck = [con.execute(f"SELECT ln({v!r})").fetchone()[0]
            for v in vals]
    srow = spark.sql("SELECT " + ",".join(
        f"ln({v!r}) AS v{i}" for i, v in enumerate(vals))).first()
    for i, v in enumerate(vals):
        assert duck[i] == math.log(v) == srow[i], v


def test_decontam_plan_broadcasts_benchmark(plan_row):
    plan_row("benchmark_overlap")


def test_packing_plan_no_global_window_over_corpus(plan_row):
    plan_row("pack_sequences")


def test_pack_sequences_integer_exact_beyond_double_range(spark):
    """seq_id must use integer division: cumulative token counts
    beyond 2^53 are not double-representable (regression: `/` was
    double division). 4.3M docs x (2^31-1) tokens pushes the running
    total past 2^53 while each per-doc count stays int-safe."""
    from pyspark.sql import functions as F

    from pdf_to_text_extraction_service_spark.operators.packing import (
        pack_sequences,
    )

    n_docs = 4_300_000
    per = (1 << 31) - 1
    budget = 997
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit(per).cast("long").alias("n"),
        F.lit("x").alias("text"),
    )
    last = (
        pack_sequences(docs, budget=budget, tokens_col="n")
        .filter(F.col("doc_id") == n_docs - 1)
        .first()
    )
    before = (n_docs - 1) * per  # ~9.2e15 > 2^53
    assert before > (1 << 53)
    assert last["seq_id"] == before // budget
    assert last["seq_offset"] == before % budget


def test_connected_components_shapes(spark):
    from pdf_to_text_extraction_service_spark.operators.components import (
        connected_components,
    )

    edges = ([(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22),
              (20, 22), (30, 31)]
             + [(i, i + 1) for i in range(40, 49)])
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = {i: c for i, c in
            (tuple(r) for r in connected_components(df).collect())}
    assert all(comp[i] == 0 for i in (0, 1, 2, 3))
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20
    assert comp[30] == comp[31] == 30
    assert all(comp[i] == 40 for i in range(40, 50))  # 10-node chain


def test_connected_components_partitioning_invariant(spark):
    from pdf_to_text_extraction_service_spark.operators.components import (
        connected_components,
    )

    edges = [(i, (i * 7) % 97) for i in range(97)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(tuple(r) for r in
               connected_components(df.repartition(1)).collect())
    b = sorted(tuple(r) for r in
               connected_components(df.repartition(32)).collect())
    assert a == b
    # and the labels must be the CONVERGED minimum, not merely
    # deterministic: i -> (i*7) % 97 is one 0 self-loop plus a single
    # 96-cycle through all of 1..96 (7 generates Z_97*)
    comp = dict(a)
    assert comp[0] == 0
    assert all(comp[v] == 1 for v in range(1, 97))
