"""PySpark-native web-scale text-extraction engine.

A from-scratch re-expression of the per-document extraction semantics of
the reference service (toricodesthings/PDF-to-Text-Extraction-Service) as
a batch/streaming Spark pipeline over Common-Crawl-style page tables
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Layout:
    kernel/     pure-Python extraction kernels (zero Spark imports) — the
                byte-identical reimplementation of the reference's
                per-format extractors, quality scorer and normalizers.
    functions/  Arrow row passes (mapInArrow) around the kernels.
    operators/  Spark relational operators induced by the pipeline:
                url dedup, salting, manifest/lineage + resume, near-dup
                (minhash/simhash/jaccard), similarity search, text stats.
    sources/    page-table readers and deterministic corpus synthesis.
    plans/      end-to-end pipeline assembly + SparkSession tuning.
    streaming/  Structured Streaming variant of the extract pipeline.
"""

__version__ = "0.1.0"
