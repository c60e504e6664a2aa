"""Spark pipeline tests: mixed-format corpus end-to-end, Spark ≡
kernel equivalence, dedup semantics, failure codes, kill/resume
(SURVEY.md §5.2-2/3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.functions.extract_udf import extract
from pdf_to_text_extraction_service_spark.kernel import router
from pdf_to_text_extraction_service_spark.operators.dedup import (
    dedup_latest,
    prune_duplicate_captures,
)
from pdf_to_text_extraction_service_spark.operators.manifest import (
    run_resumable_extract,
)
from pdf_to_text_extraction_service_spark.operators.salt import (
    size_tiered_repartition,
)
from pdf_to_text_extraction_service_spark.plans.pipeline import (
    extract_pipeline,
)
from pdf_to_text_extraction_service_spark.sources import corpus


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = corpus.generate_corpus_rows(700, seed=7)
    df = spark.createDataFrame(
        rows,
        "url string, ts_off long, html binary, text string, lang string",
    ).select(
        "url",
        F.expr(
            "timestamp '2026-01-01 00:00:00' "
            "+ make_interval(0,0,0,0,0,0, ts_off)"
        ).alias("warc_ts"),
        "html", "text", "lang",
    )
    df = df.cache()
    df.count()
    return df


def test_spark_equals_kernel(spark, corpus_df):
    """Byte-identity: the Spark UDF output equals direct kernel calls
    row-for-row (guards Arrow string mangling / encoding drift)."""
    out = {
        (r["url"], r["warc_ts"]): r
        for r in extract(corpus_df).collect()
    }
    for row in corpus_df.collect():
        res, fmt = router.extract_document(row["url"], bytes(row["html"]))
        got = out[(row["url"], row["warc_ts"])]
        assert got["text"] == res.text, row["url"]
        assert got["success"] == res.success
        assert got["format"] == fmt
        assert got["word_count"] == res.word_count
        assert got["char_count"] == res.char_count
        assert got["error"] == res.error


def test_formats_covered(spark, corpus_df):
    out = extract(corpus_df)
    fmts = {r["format"] for r in out.select("format").distinct().collect()}
    assert {"html", "text", "csv", "json", "xml", "yaml", "source",
            "notebook", "latex", "rtf", "pdf", "docx", "xlsx", "pptx",
            "opendocument", "epub", "unknown"} <= fmts


def test_failure_codes(spark, corpus_df):
    out = extract(corpus_df)
    failed = out.filter(~F.col("success"))
    errs = [r["error"] for r in failed.collect()]
    assert errs, "corpus must contain failure rows"
    assert all(e for e in errs)
    unknown = failed.filter(F.col("format") == "unknown")
    assert unknown.count() > 0
    msg = unknown.select("error").first()["error"]
    assert msg.startswith("no extractor registered for mime=")


def test_dedup_latest_wins(spark, corpus_df):
    extracted = extract(corpus_df)
    total = extracted.count()
    distinct_urls = corpus_df.select("url").distinct().count()
    assert total > distinct_urls  # corpus contains duplicate captures
    deduped = dedup_latest(extracted)
    assert deduped.count() == distinct_urls
    # every kept row carries the max warc_ts for its url
    maxes = extracted.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    joined = deduped.join(maxes, "url")
    assert joined.filter(F.col("warc_ts") != F.col("mx")).count() == 0


def test_prune_duplicate_captures(spark, corpus_df):
    pruned = prune_duplicate_captures(corpus_df)
    distinct_urls = corpus_df.select("url").distinct().count()
    assert pruned.count() == distinct_urls  # corpus has no ts ties
    # pruned-then-extract equals extract-then-dedup
    a = {(r["url"], r["text"]) for r in
         extract(pruned).select("url", "text").collect()}
    b = {(r["url"], r["text"]) for r in
         dedup_latest(extract(corpus_df)).select("url", "text").collect()}
    assert a == b


def test_pipeline_canonicalize_urls(spark):
    rows = [
        ("HTTP://Host.Test:80/a?utm_source=x", b"<p>v1</p>"),
        ("http://host.test/a", b"<p>v2</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary").withColumn(
        "warc_ts",
        F.expr("timestamp '2026-01-01' + make_interval(0,0,0,0,0,0, "
               "case when html = encode('<p>v2</p>', 'utf-8') "
               "then 10 else 0 end)"),
    )
    out = extract_pipeline(df, salt=False, keep_pages_col=False,
                           canonicalize_urls=True).collect()
    # both captures canonicalize to the same url; latest (v2) wins
    assert len(out) == 1
    assert out[0]["url"] == "http://host.test/a"
    assert out[0]["text"] == "v2"


def test_salt_preserves_rows(spark, corpus_df):
    salted = size_tiered_repartition(corpus_df, 8, big_bytes=2000)
    assert salted.count() == corpus_df.count()
    assert "_salt" not in salted.columns


def test_salt_balances_skewed_payloads(spark):
    """A few giant rows mixed with many tiny rows must spread across
    partitions instead of landing wherever the input files put them."""
    tiny = [(f"https://x.test/t{i}.txt", b"x" * 100) for i in range(400)]
    # 8 giants, adversarially colocated in one input partition
    giants = [(f"https://x.test/g{i}.txt", b"y" * 400_000)
              for i in range(8)]
    df = spark.createDataFrame(giants + tiny,
                               "url string, html binary").coalesce(1)
    salted = size_tiered_repartition(df, 8, big_bytes=100_000,
                                     big_partitions=8)
    per_part = salted.rdd.mapPartitions(
        lambda it: [sum(len(r["html"]) for r in it)]
    ).collect()
    loads = sorted(per_part, reverse=True)
    # no partition should carry more than 3 of the 8 giants' bytes
    assert loads[0] <= 3 * 400_000 + 400 * 100
    # giants spread over at least 4 partitions
    assert sum(1 for x in loads if x >= 400_000) >= 4


def test_null_payload_failure(spark):
    df = spark.createDataFrame(
        [("https://x.test/null.html", None)], "url string, html binary"
    )
    row = extract(df).collect()[0]
    assert not row["success"]
    assert row["error"] == "empty payload"
    assert row["format"] == "unknown"


def test_oversize_row_failure(spark):
    big = b"x" * (10 * 1024 * 1024 + 1)
    df = spark.createDataFrame(
        [("https://x.test/big.txt", big)], "url string, html binary"
    )
    row = extract(df).collect()[0]
    assert not row["success"]
    assert row["error"] == "file exceeds extractor limit (10MB)"


def test_resume_skips_done_buckets(spark, corpus_df, tmp_path):
    out_dir = str(tmp_path / "out")
    mf_dir = str(tmp_path / "manifest")

    with pytest.raises(RuntimeError, match="simulated failure"):
        run_resumable_extract(
            spark, corpus_df, out_dir, mf_dir,
            buckets=8, wave_count=4, fail_after_waves=2,
        )
    mf1 = spark.read.parquet(mf_dir)
    done_first = mf1.count()
    assert 0 < done_first < 8

    # Resume: completes only the remaining buckets.
    run_resumable_extract(
        spark, corpus_df, out_dir, mf_dir, buckets=8, wave_count=4,
    )
    mf2 = spark.read.parquet(mf_dir)
    assert mf2.select("bucket").distinct().count() == 8
    # no bucket processed twice
    assert mf2.groupBy("bucket").count().filter("count > 1").count() == 0

    # Final output equals a straight single-pass run.
    resumed = spark.read.parquet(out_dir)
    direct = extract_pipeline(corpus_df, keep_pages_col=False)
    assert resumed.count() == direct.count()
    a = {(r["url"], r["text"]) for r in resumed.select("url", "text").collect()}
    b = {(r["url"], r["text"]) for r in direct.select("url", "text").collect()}
    assert a == b

    # manifest row/ok counts reconcile with the output table
    agg = resumed.groupBy().agg(
        F.count("*").alias("rows"),
        F.count_if(F.col("success")).alias("ok"),
    ).first()
    mf_tot = mf2.groupBy().agg(
        F.sum("row_count").alias("rows"), F.sum("ok_count").alias("ok")
    ).first()
    assert (agg["rows"], agg["ok"]) == (mf_tot["rows"], mf_tot["ok"])
    # per bucket, failure_codes counts the failed output rows per
    # format, and is NULL for a bucket without failed rows
    want: dict = {}
    for r in resumed.filter(~F.col("success")) \
            .groupBy("bucket", "format").count().collect():
        want.setdefault(r["bucket"], {})[r["format"]] = r["count"]
    assert want, "corpus must contain failure rows"
    got = {r["bucket"]: r["failure_codes"] for r in mf2.collect()}
    assert got == {b: want.get(b) for b in range(8)}


def test_all_filtered_input_commits_zero_rows(spark, corpus_df, tmp_path):
    """A run whose input has no rows (every page gated by a filter)
    writes no output files but still commits one (0, 0, NULL) manifest
    row per bucket; a rerun is a no-op."""
    out_dir = str(tmp_path / "out")
    mf_dir = str(tmp_path / "manifest")
    empty = corpus_df.filter(F.lit(False))
    for _ in range(2):
        run_resumable_extract(spark, empty, out_dir, mf_dir,
                              buckets=4, wave_count=2)
        rows = sorted(
            (r["bucket"], r["row_count"], r["ok_count"], r["failure_codes"])
            for r in spark.read.parquet(mf_dir).collect())
        assert rows == [(b, 0, 0, None) for b in range(4)]


def test_page_table_io_parquet_fallback(spark, corpus_df, tmp_path):
    from pdf_to_text_extraction_service_spark.sources.catalog import (
        PageTableIO,
        iceberg_available,
    )
    # sandbox has no iceberg jar/catalog → parquet backend
    assert not iceberg_available(spark)
    io = PageTableIO(spark)
    ref = str(tmp_path / "pages_io")
    io.append(corpus_df, ref)
    io.append(corpus_df, ref)
    assert io.read(ref).count() == 2 * corpus_df.count()


def test_idempotent_rerun_noop(spark, corpus_df, tmp_path):
    out_dir = str(tmp_path / "out")
    mf_dir = str(tmp_path / "manifest")
    run_resumable_extract(spark, corpus_df, out_dir, mf_dir,
                          buckets=4, wave_count=2)
    n1 = spark.read.parquet(mf_dir).count()
    run_resumable_extract(spark, corpus_df, out_dir, mf_dir,
                          buckets=4, wave_count=2)
    assert spark.read.parquet(mf_dir).count() == n1


def test_iceberg_roundtrip_when_jar_present(spark, corpus_df, tmp_path):
    """Iceberg writeTo round-trip — exercised only when a runtime jar
    + catalog are configured; the sandbox ships neither (verified by
    a filesystem-wide jar search, docs/NEXT.md #6), so this records
    an explicit skip rather than silently passing."""
    import pytest

    from pdf_to_text_extraction_service_spark.sources.catalog import (
        PageTableIO,
        iceberg_available,
    )

    if not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar in this environment; "
                    "parquet+manifest backend is the tested default")
    io = PageTableIO(spark)
    io.append(corpus_df, "cc.db.pages_roundtrip")
    assert io.read("cc.db.pages_roundtrip").count() == corpus_df.count()


def test_tune_arrow_batch_sizing(spark, tmp_path):
    """Payload-aware Arrow batching: thin pages get big batches, fat
    payloads clamp low; empty/missing sampling falls back safely."""
    from pyspark.sql import functions as F

    from pdf_to_text_extraction_service_spark.plans.session import (
        ARROW_MAX_RECORDS_PER_BATCH,
        tune_arrow_batch,
    )

    thin = spark.range(500).select(
        F.encode(F.lit("x" * 1024), "UTF-8").alias("html"))
    rows = tune_arrow_batch(spark, thin, target_mb=8)
    assert rows == 8192 or 4000 <= rows <= 8192  # 8MB/1KB clamped hi

    fat = spark.range(8).select(
        F.encode(F.repeat(F.lit("y"), 4 * 1024 * 1024), "UTF-8")
        .alias("html"))
    rows = tune_arrow_batch(spark, fat, target_mb=8)
    assert rows == 64  # 8MB target / 4MB rows = 2 -> clamped to lo

    empty = spark.range(0).select(F.lit(b"").alias("html"))
    rows = tune_arrow_batch(spark, empty)
    assert rows == ARROW_MAX_RECORDS_PER_BATCH
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")


def test_curate_pipeline_stages(spark, tmp_path):
    """jobs/curate.py chain: gating, language, quality, exact dedup,
    paragraph dedup, span removal, decontamination, packing."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from jobs.curate import curate

    prose = ("the quick brown fox jumps over the lazy dog and then "
             "the dog chases the fox around the quiet green meadow "
             "until both animals rest under the old oak tree")
    shared13 = ("alpha bravo charlie delta echo foxtrot golf hotel "
                "india juliet kilo lima mike")
    rows = [
        ("https://a.test/1", True, prose + " one", "en"),
        ("https://a.test/2", True, prose + " one", "en"),   # exact dup
        ("https://a.test/3", True, prose + " three " + shared13, "en"),
        ("https://a.test/4", True, prose + " four " + shared13, "en"),
        ("https://a.test/5", True, "zu kurz", "de"),        # min-words
        ("https://a.test/6", False, prose, "en"),           # failed
        ("https://a.test/7", True, prose + " sept", "fr"),  # lang drop
        ("https://a.test/8", True,
         "contaminated " + " ".join(f"b{i}" for i in range(13)), "en"),
    ]
    docs = spark.createDataFrame(
        rows, "url string, success boolean, text string, lang string")
    bench = spark.createDataFrame(
        [(" ".join(f"b{i}" for i in range(13)),)], "text string")
    out, st = curate(spark, docs, langs=["en"], min_words=5,
                     seq_len=64, benchmark=bench, stats=True)
    got = out.collect()
    urls = {r["url"] for r in got}
    assert st["gated"] == 7            # success gate
    assert st["language"] == 5         # de + fr dropped
    assert st["quality"] == 5          # nothing else below the gate
    assert st["exact_dedup"] == 4      # /1 vs /2: min doc_id wins
    assert st["decontam"] == 3         # /8 dropped
    # span removal stripped the shared 13-gram from the later of /3,/4
    texts = {r["url"]: r["text"] for r in got}
    assert sum(shared13 in t for t in texts.values()) == 1
    assert "https://a.test/8" not in urls
    assert all(r["seq_id"] >= 0 and r["seq_offset"] >= 0 for r in got)


def test_curate_semantic_dedup_stage(spark):
    """--embeddings enables the SemDeDup stage: a doc whose embedding
    is a near-copy of a lower-id doc's is dropped even though its
    TEXT differs (semantic, not verbatim, dedup); unrelated docs
    survive."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from jobs.curate import curate

    prose = ("the quick brown fox jumps over the lazy dog and then "
             "the dog chases the fox around the quiet green meadow "
             "until both animals rest under the old oak tree")
    docs = spark.createDataFrame(
        [("https://s.test/a", True, prose + " first telling", "en"),
         ("https://s.test/b", True, prose + " second telling", "en"),
         ("https://s.test/c", True, prose + " unrelated topic", "en")],
        "url string, success boolean, text string, lang string")
    emb = spark.createDataFrame(
        [("https://s.test/a", [1.0, 0.0, 0.0, 0.1]),
         ("https://s.test/b", [1.0, 0.0, 0.0, 0.100001]),
         ("https://s.test/c", [0.0, 1.0, 0.0, 0.0])],
        "url string, embedding array<double>")
    out, st = curate(spark, docs, min_words=5, seq_len=64,
                     embeddings=emb, sem_k=2, sem_threshold=0.99)
    urls = {r["url"] for r in out.collect()}
    assert st["exact_dedup"] == 3 and st["semantic_dedup"] == 2
    # xxhash64 order decides which of a/b is the kept witness
    assert "https://s.test/c" in urls and len(urls) == 2


def test_curate_observe_stats_equal_exact(spark):
    """The default zero-action observation stats (one materializing
    checkpoint resolves every CollectMetrics node) must equal the
    legacy one-count()-per-stage mode on the sf0.001 corpus — same
    keys, same values, including the packed-sequences count."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from jobs.curate import curate
    from pdf_to_text_extraction_service_spark.sources.corpus import (
        load_documents,
    )

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        F.concat(F.lit("https://corpus.example/"), F.col("source"),
                 F.lit("/doc"), F.col("doc_id").cast("string"),
                 ).alias("url"),
        "text", F.lit(True).alias("success"), "lang",
    )
    bench = spark.createDataFrame(
        [(" ".join(f"b{i}" for i in range(13)),)], "text string")
    out_obs, st_obs = curate(spark, docs, langs=["en", "de"],
                             min_words=5, seq_len=256,
                             benchmark=bench, stats=True)
    out_ex, st_ex = curate(spark, docs, langs=["en", "de"],
                           min_words=5, seq_len=256,
                           benchmark=bench, stats="exact")
    assert st_obs == st_ex
    assert st_obs["sequences"] >= 1
    assert sorted(map(tuple, out_obs.collect())) == \
        sorted(map(tuple, out_ex.collect()))
    out_ex.unpersist()
