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
from pdf_to_text_extraction_service_spark.operators import manifest
from pdf_to_text_extraction_service_spark.operators.manifest import (
    bucket_col,
    completed_buckets,
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
    salted = size_tiered_repartition(corpus_df, 8)
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
    salted = size_tiered_repartition(df, 8)
    per_part = salted.rdd.mapPartitions(
        lambda it: [sum(len(r["html"]) for r in it)]
    ).collect()
    loads = sorted(per_part, reverse=True)
    # no partition should carry more than 3 of the 8 giants' bytes
    assert loads[0] <= 3 * 400_000 + 400 * 100
    # giants spread over at least 4 partitions
    assert sum(1 for x in loads if x >= 400_000) >= 4


@pytest.mark.parametrize("buckets,wave_count,par,want", [
    (2, 2, 4, 4), (64, 8, 32, 28),
])
def test_salt_fills_every_partition_of_a_wave(spark, buckets, wave_count,
                                              par, want):
    """The rows of one bucket wave (run_resumable_extract's waves) spread
    over the salt's partitions: a salt that shares the bucket hash
    fills only par / buckets of them (2 of 4; at most 4 of 32)."""
    urls = spark.range(4096).select(
        F.concat(F.lit("https://w.test/p"), F.col("id").cast("string"))
        .alias("url")).withColumn("html", F.col("url").cast("binary"))
    for i in range(wave_count):
        wave = list(range(buckets))[i::wave_count]
        salted = size_tiered_repartition(
            urls.filter(bucket_col(buckets).isin(wave)), par)
        filled = salted.select(F.spark_partition_id().alias("p")) \
            .distinct().count()
        assert filled >= want, (wave, filled)


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


def test_wave_commits_in_one_write(spark, corpus_df, tmp_path, spark_jobs):
    """A wave is its extraction write (two shuffle map stages and the
    write, one job each under AQE) plus a manifest file committed from
    the driver, which runs no job: the manifest counts ride on the
    write through ``observe()``, so no job reads the output back or
    re-aggregates it."""
    waves = 2
    n, _ = spark_jobs(lambda: run_resumable_extract(
        spark, corpus_df, str(tmp_path / "out"), str(tmp_path / "mf"),
        buckets=4, wave_count=waves))
    assert n <= 3 * waves
    assert len(spark.read.parquet(str(tmp_path / "mf")).collect()) == 4


def _tiny_pages(spark):
    return spark.createDataFrame(
        [(f"https://x.test/{i}.html", bytearray(b"<p>page %d</p>" % i))
         for i in range(6)] + [("https://x.test/null.html", None)],
        "url string, html binary",
    ).withColumn("warc_ts", F.lit("2026-01-01").cast("timestamp"))


def test_fresh_manifest_path_runs_no_job(spark, tmp_path, spark_jobs):
    """A manifest path that does not exist yet is answered by the
    Hadoop FileSystem: no Spark read, no job, no Java exception."""
    n, done = spark_jobs(lambda: completed_buckets(
        spark, str(tmp_path / "no-manifest"), "pages-b4"))
    assert (n, done) == (0, set())


def test_manifest_reads_spark_and_driver_commits(spark, tmp_path):
    """A manifest holding a row written by a Spark job and rows
    committed from the driver reads back with MANIFEST_SCHEMA's types,
    file by file and as a whole, and a resume skips the buckets of
    both."""
    import datetime
    import os

    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [("pages-b2", 0, 3, 2, {"html": 1}, t0, t0)], manifest.MANIFEST_SCHEMA,
    ).coalesce(1).write.parquet(mf)
    pages = _tiny_pages(spark)

    def written():
        return sorted(d for d in os.listdir(out) if d.startswith("bucket="))

    run_resumable_extract(spark, pages, out, mf, buckets=2, wave_count=1)
    assert written() == ["bucket=1"]

    want = [(f.name, f.dataType.simpleString()) for f in
            spark.createDataFrame([], manifest.MANIFEST_SCHEMA).schema]
    parts = sorted(f for f in os.listdir(mf) if f.startswith("part-"))
    assert len(parts) == 2
    for path in [mf] + [os.path.join(mf, f) for f in parts]:
        got = spark.read.parquet(path).schema
        assert [(f.name, f.dataType.simpleString()) for f in got] == want

    rows = {r["bucket"]: r for r in spark.read.parquet(mf).collect()}
    assert sorted(rows) == [0, 1]
    assert (rows[0]["row_count"], rows[0]["failure_codes"],
            rows[0]["started_at"]) == (3, {"html": 1}, t0)
    in_b1 = pages.filter(bucket_col(2) == 1).count()
    assert rows[1]["row_count"] == in_b1
    assert rows[1]["started_at"] <= rows[1]["finished_at"]
    assert completed_buckets(spark, mf, "pages-b2") == {0, 1}

    run_resumable_extract(spark, pages, out, mf, buckets=2, wave_count=1)
    assert len(spark.read.parquet(mf).collect()) == 2
    assert written() == ["bucket=1"]


def test_torn_manifest_commit_is_ignored(spark, tmp_path):
    """A ``_tmp-`` file left by a commit killed before its rename is
    invisible: alone it reads as nothing committed, beside committed
    files it changes nothing, and the resume finishes every bucket."""
    import os

    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")
    os.makedirs(mf)
    with open(os.path.join(mf, "_tmp-part-torn.parquet"), "wb") as f:
        f.write(b"PAR1 not a parquet file")
    assert completed_buckets(spark, mf, "pages-b2") == set()

    pages = _tiny_pages(spark)
    run_resumable_extract(spark, pages, out, mf, buckets=2, wave_count=2)
    assert completed_buckets(spark, mf, "pages-b2") == {0, 1}
    rows = spark.read.parquet(mf).collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1]
    assert sum(r["row_count"] for r in rows) == pages.count()

    run_resumable_extract(spark, pages, out, mf, buckets=2, wave_count=2)
    assert len(spark.read.parquet(mf).collect()) == 2


def test_wave_raises_on_format_outside_histogram(spark, tmp_path,
                                                 monkeypatch):
    """Failure codes are counted per format in manifest.FORMATS; a
    failed row whose format is outside that set makes the wave raise
    before its manifest rows commit, instead of a short histogram.
    With the full set the same wave commits."""
    pages = spark.createDataFrame(
        [("https://x.test/a.html", bytearray(b"<p>hi</p>")),
         ("https://x.test/null.html", None)],   # fails as "unknown"
        "url string, html binary",
    ).withColumn("warc_ts", F.lit("2026-01-01").cast("timestamp"))
    out, mf = str(tmp_path / "out"), str(tmp_path / "mf")
    with monkeypatch.context() as m:
        m.setattr(manifest, "FORMATS", tuple(
            f for f in manifest.FORMATS if f != "unknown"))
        with pytest.raises(RuntimeError, match="bucket 0: 1 failed rows"):
            run_resumable_extract(spark, pages, out, mf,
                                  buckets=1, wave_count=1)
    assert completed_buckets(spark, mf, "pages-b1") == set()

    run_resumable_extract(spark, pages, out, mf, buckets=1, wave_count=1)
    rows = [(r["bucket"], r["row_count"], r["ok_count"], r["failure_codes"])
            for r in spark.read.parquet(mf).collect()]
    assert rows == [(0, 2, 1, {"unknown": 1})]


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


def test_tune_arrow_batch_sizing(spark, tmp_path, spark_jobs):
    """Payload-aware Arrow batching: thin pages get big batches, fat
    payloads clamp low; empty/missing sampling falls back safely.
    NULL payloads do not count toward the mean length. Each call is
    one Spark job."""
    from pyspark.sql import functions as F

    from pdf_to_text_extraction_service_spark.plans.session import (
        ARROW_MAX_RECORDS_PER_BATCH,
        tune_arrow_batch,
    )

    def tune(pages, **kw):
        n, rows = spark_jobs(lambda: tune_arrow_batch(spark, pages, **kw))
        assert n == 1
        return rows

    thin = spark.range(500).select(
        F.encode(F.lit("x" * 1024), "UTF-8").alias("html"))
    rows = tune(thin, target_mb=8)
    assert rows == 8192 or 4000 <= rows <= 8192  # 8MB/1KB clamped hi

    fat = spark.range(8).select(
        F.encode(F.repeat(F.lit("y"), 4 * 1024 * 1024), "UTF-8")
        .alias("html"))
    rows = tune(fat, target_mb=8)
    assert rows == 64  # 8MB target / 4MB rows = 2 -> clamped to lo

    # half the rows NULL: the mean is over the 1 KB rows (4MB / 1KB),
    # where counting NULL as 0 would halve it and clamp to hi
    holey = spark.range(500).select(
        F.when(F.col("id") % 2 == 0, F.encode(F.lit("x" * 1024), "UTF-8"))
        .alias("html"))
    assert tune(holey, target_mb=4) == 4096

    all_null = spark.range(10).select(F.lit(None).cast("binary").alias("html"))
    assert tune(all_null) == ARROW_MAX_RECORDS_PER_BATCH

    empty = spark.range(0).select(F.lit(b"").alias("html"))
    rows = tune(empty)
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


def _curate_corpus(spark):
    """The sf0.001 documents as crawled pages, and the one-line
    benchmark of test_curate_pipeline_stages."""
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
    return docs, bench


def _curate_embeddings(spark, docs):
    """The sf0.001 embeddings keyed to each document's url
    (``vec_id`` = ``doc_id``), except that every seventh document takes
    its successor's vector: a semantic copy for the stage to remove."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    doc_id = F.regexp_extract("url", r"/doc(\d+)$", 1).cast("long")
    return docs.select(
        "url", F.when(doc_id % 7 == 0, doc_id + 1).otherwise(doc_id)
        .alias("vec_id"),
    ).join(emb, "vec_id").select("url", "embedding")


def test_curate_observe_stats_equal_exact(spark):
    """curate() equals the stage-by-stage chain of
    tests/reference/curate.py, which filters every stage through a
    join back to its documents and counts each with its own action:
    same stage counts (the observations resolved by the one
    checkpoint), including the packed-sequences count, and the same
    rows, in the language + benchmark configuration, in bench.py's
    shape and with embeddings.  The reference packs with the
    three-level tree of tests/reference/packing.py, so the rows pin
    the package's packing on curate's hashed ids."""
    from jobs.curate import curate
    from tests.reference.curate import curate as curate_reference

    docs, bench = _curate_corpus(spark)
    for kw in (dict(langs=["en", "de"], min_words=5, seq_len=256,
                    benchmark=bench),
               dict(seq_len=1024),
               dict(min_words=5, seq_len=512,
                    embeddings=_curate_embeddings(spark, docs))):
        out, st = curate(spark, docs, stats=True, **kw)
        out_ref, st_ref = curate_reference(spark, docs, stats="exact",
                                           **kw)
        assert st == st_ref, kw
        assert st["sequences"] >= 1
        if "embeddings" in kw:
            assert st["semantic_dedup"] < st["exact_dedup"]
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, out_ref.collect())), kw
        out_ref.unpersist()


def test_curate_runs_one_action(spark, spark_jobs, monkeypatch):
    """No Spark job runs before curate()'s final checkpoint, which is
    its only one (no operator checkpoints on its own), and the whole
    call stays within 29 jobs: each of them is a query stage of that
    one action (shuffle map stages, broadcasts, the stage caches)."""
    from jobs.curate import curate

    docs, _ = _curate_corpus(spark)
    tracker = spark.sparkContext.statusTracker()
    jobs_at_checkpoint = []
    checkpoint = type(docs).localCheckpoint

    def counted(df, *args, **kwargs):
        jobs_at_checkpoint.append(
            len(tracker.getJobIdsForGroup("counted-jobs")))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", counted)
    before = len(tracker.getJobIdsForGroup("counted-jobs"))
    n, (out, st) = spark_jobs(
        lambda: curate(spark, docs, seq_len=1024, stats=True))
    assert jobs_at_checkpoint == [before]
    assert n <= 29
    assert st["span_removal"] == out.count()
