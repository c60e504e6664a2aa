"""Workload ``extract_crawl``: the headline job, ``jobs/extract.py``.

The timed part is what ``jobs/extract.py`` ``main`` does once the
session exists: ``tune_arrow_batch`` plus ``run_resumable_extract``
(salt -> extract -> ``dedup_latest`` -> partitioned parquet write ->
manifest), into a fresh output and manifest path per rep.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.functions.extract_udf import (
    extract,
)
from pdf_to_text_extraction_service_spark.kernel import registry, router, sniff
from pdf_to_text_extraction_service_spark.operators.dedup import dedup_latest
from pdf_to_text_extraction_service_spark.operators.manifest import (
    run_resumable_extract,
)
from pdf_to_text_extraction_service_spark.operators.salt import (
    size_tiered_repartition,
)
from pdf_to_text_extraction_service_spark.plans.pipeline import (
    extract_pipeline,
)
from pdf_to_text_extraction_service_spark.plans.session import (
    tune_arrow_batch,
)
from pdf_to_text_extraction_service_spark.sources.corpus import (
    generate_corpus_rows,
    write_corpus,
)

import gen

BUCKETS = 2          # jobs/extract.py --buckets: 2 buckets -> 2 waves
TEXT_SAMPLE = 4      # urls per url extension checked against the kernel
KERNEL_SAMPLE = 24   # docs per kernel class timed single-process


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ExtractCrawl:
    name = "extract_crawl"

    def __init__(self, seed: int, n_pages: int, work: str):
        self.seed, self.work, self.n_pages = seed, work, n_pages
        self.rows = generate_corpus_rows(n_pages, seed=seed)
        self.input_rows = len(self.rows)
        self.pages_path = ""

    # --- set-up -------------------------------------------------------
    def stage(self, spark, tag: str) -> None:
        self.pages_path = f"{self.work}/pages-{tag}"
        write_corpus(spark, self.pages_path, self.n_pages, seed=self.seed)

    def reference(self) -> None:
        """Expected outputs, computed once per run off the clock: the
        distinct url count and the kernel's own text for a seeded
        sample covering every url extension (HTML, the 17 corpus
        formats and the unknown blobs)."""
        latest: dict[str, tuple] = {}
        for url, ts, payload, _, _ in self.rows:
            if url not in latest or ts >= latest[url][0]:
                latest[url] = (ts, payload)
        self.latest, self.n_urls = latest, len(latest)
        self.by_class: dict[str, list[str]] = {}
        by_ext: dict[str, list[str]] = {}
        for url in sorted(latest):
            self.by_class.setdefault(gen.kernel_class(url), []).append(url)
            by_ext.setdefault(gen.url_ext(url), []).append(url)
        rng = random.Random(self.seed)
        self.expected = {}
        for urls in by_ext.values():
            for url in rng.sample(urls, min(TEXT_SAMPLE, len(urls))):
                self.expected[url] = router.extract_document(
                    url, latest[url][1])[0].text

    # --- the job ------------------------------------------------------
    def run(self, spark, rep_dir: str) -> None:
        pages = spark.read.parquet(self.pages_path)
        tune_arrow_batch(spark, pages)
        run_resumable_extract(
            spark, pages,
            output_path=f"{rep_dir}/out",
            manifest_path=f"{rep_dir}/manifest",
            buckets=BUCKETS,
            source_snapshot=f"pages-b{BUCKETS}",
        )

    def check(self, spark, rep_dir: str) -> list[tuple[str, bool]]:
        out = spark.read.parquet(f"{rep_dir}/out")
        n, n_url = out.agg(F.count("*"), F.count_distinct("url")).first()
        mf = spark.read.parquet(f"{rep_dir}/manifest")
        m_rows, m_buckets = mf.agg(F.sum("row_count"),
                                   F.count_distinct("bucket")).first()
        got = {r["url"]: r["text"] for r in
               out.filter(F.col("url").isin(list(self.expected)))
               .select("url", "text").collect()}
        return [
            ("one_row_per_url", n == n_url == self.n_urls),
            ("manifest_sums_to_output",
             m_rows == n and m_buckets == BUCKETS),
            ("text_matches_kernel", got == self.expected),
        ]

    # --- traced layer sweep -------------------------------------------
    def _kernel(self, tracer) -> dict:
        """Single-process kernel cost per class on a seeded sample, and
        the dispatch (sniff + resolve) cost per doc."""
        rng = random.Random(self.seed + 1)
        counts = {c: 0 for c in gen.KERNEL_CLASSES}
        for url, *_ in self.rows:
            counts[gen.kernel_class(url)] += 1
        m = {}
        sample = []
        with tracer.span("kernel.sample"):
            for cls in gen.KERNEL_CLASSES:
                urls = self.by_class.get(cls, [])
                urls = rng.sample(urls, min(KERNEL_SAMPLE, len(urls)))
                payloads = [(u, self.latest[u][1]) for u in urls]
                sample += payloads
                for u, p in payloads[:1]:
                    router.extract_document(u, p)     # warm imports
                with tracer.span(f"kernel.{cls}") as sp:
                    for u, p in payloads:
                        router.extract_document(u, p)
                dt = sp["end"] - sp["start"]
                m[f"kernel.us_per_doc.{cls}"] = \
                    dt / max(len(payloads), 1) * 1e6
            with tracer.span("kernel.dispatch") as sp:
                for u, p in sample:
                    mime = sniff.sniff_mime(p)
                    ext = sniff.file_ext(sniff.url_file_name(u)).lower()
                    try:
                        registry.resolve(mime, ext)
                    except registry.ResolveError:
                        pass
        m["kernel.dispatch_us_per_doc"] = \
            (sp["end"] - sp["start"]) / max(len(sample), 1) * 1e6
        m["kernel.cpu_s"] = sum(m[f"kernel.us_per_doc.{c}"] * counts[c]
                                for c in gen.KERNEL_CLASSES) / 1e6
        return m

    def pipeline_seconds(self, spark, tracer, name: str) -> float:
        pages = spark.read.parquet(self.pages_path)
        with tracer.span(name) as sp:
            _noop(extract_pipeline(pages, keep_pages_col=False))
        return sp["end"] - sp["start"]

    def sweep(self, spark, tracer, job_wall: float) -> dict:
        """Each layer's public function timed on its materialized
        input; the cover spans split the job."""
        m = {}
        pages = spark.read.parquet(self.pages_path)
        with tracer.span("plans.tune_arrow_batch", cover=True) as sp:
            m["plans.arrow_batch_rows"] = tune_arrow_batch(spark, pages)
        m["plans.tune_arrow_batch_s"] = sp["end"] - sp["start"]
        with tracer.span("sources.scan", cover=True) as sp:
            _noop(pages)
        m["sources.scan_s"] = sp["end"] - sp["start"]

        scanned = pages.localCheckpoint(eager=True)
        par = spark.sparkContext.defaultParallelism
        with tracer.span("operators.salt", cover=True) as sp:
            _noop(size_tiered_repartition(scanned, par))
        m["operators.salt_s"] = sp["end"] - sp["start"]

        salted = size_tiered_repartition(scanned, par) \
            .localCheckpoint(eager=True)
        with tracer.span("functions.extract", cover=True) as sp:
            _noop(extract(salted))
        m["functions.extract_s"] = sp["end"] - sp["start"]

        extracted = extract(salted).drop("pages").localCheckpoint(eager=True)
        with tracer.span("operators.dedup_latest", cover=True) as sp:
            _noop(dedup_latest(extracted))
        m["operators.dedup_latest_s"] = sp["end"] - sp["start"]
        m["operators.dedup_rows_in"] = extracted.count()
        m["operators.dedup_rows_out"] = dedup_latest(extracted).count()
        m["plans.useful_extract_ratio"] = \
            m["operators.dedup_rows_out"] / m["operators.dedup_rows_in"]

        m["plans.extract_pipeline_s"] = self.pipeline_seconds(
            spark, tracer, "plans.extract_pipeline")
        m["jobs.sink_s"] = job_wall - m["plans.extract_pipeline_s"]

        m.update(self._kernel(tracer))
        m["functions.boundary_s"] = \
            m["functions.extract_s"] - m["kernel.cpu_s"] / par
        return m
