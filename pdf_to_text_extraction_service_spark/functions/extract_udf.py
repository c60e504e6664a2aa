"""Vectorized extraction UDF: the Spark-side wrapper of the kernel
router.

One ``mapInArrow`` stage (functions/textrows.map_rows) = the
reference's whole request path (download → sniff → resolve → kernel
→ backfill, router.go:27-93) applied to an Arrow batch of rows. A map
over batches (not a scalar UDF) because the output is a wide
struct-per-row and because iterator form lets Arrow stream bounded
batches of multi-MiB binary payloads (SURVEY.md §2.9).

A document is atomic — the kernel loop is per-document inside the
batch — but batching amortizes JVM↔Python Arrow transfer, which is the
"vectorized pandas/Arrow UDFs, no per-row Python" requirement of
BASELINE.json: no Python ↔ JVM round trip per row, and all
post-extraction operators (dedup, aggregation, joins) stay JVM-side on
the extracted columns.

extract() and preview() share ONE envelope, ``_envelope(doc_fn,
keep_pages)``: the batch loop, pass-through columns, the
``coding_error`` failure row and the Result → row flattening live
there, and each mode passes only its per-document function
(``router.extract_document`` / a bound ``preview_document``).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .textrows import map_rows

PAGE_SCHEMA = StructType([
    StructField("page_number", IntegerType()),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("word_count", IntegerType()),
])

# Output row schema — reference Result struct (result.go:12-30) plus
# the carried-through identity/partition columns and the dispatch
# format column.
EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("format", StringType()),
    StructField("success", BooleanType(), False),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("file_type", StringType()),
    StructField("mime_type", StringType()),
    StructField("pages", ArrayType(PAGE_SCHEMA)),
    StructField("metadata", MapType(StringType(), StringType())),
    StructField("word_count", IntegerType()),
    StructField("char_count", IntegerType()),
    StructField("error", StringType()),
])


# Result attributes copied as-is into the row of the same name.
_RESULT_FIELDS = ("success", "text", "method", "file_type", "mime_type",
                  "metadata", "word_count", "char_count", "error")


def _envelope(doc_fn, keep_pages: bool):
    """The one extract/preview envelope around a per-document function
    ``doc_fn(url, payload) -> (Result, format)``: carries ``url``,
    ``warc_ts`` and ``lang`` through, turns a ``coding_error`` into a
    failure-coded row without calling ``doc_fn``, and flattens the
    Result into an ``EXTRACTED_SCHEMA`` row (``pages`` forced NULL
    unless ``keep_pages``)."""

    def _extract_batches(batches: Iterator[dict]) -> Iterator[dict]:
        # Imports inside the worker process.
        from pdf_to_text_extraction_service_spark.kernel.router import (
            Result,
        )

        for batch in batches:
            urls = batch["url"]
            none = [None] * len(urls)
            out: dict[str, list] = {k: [] for k in _RESULT_FIELDS}
            out.update(url=urls, format=[], pages=[],
                       warc_ts=batch.get("warc_ts", none),
                       lang=batch.get("lang", none))
            for url, payload, cerr in zip(
                    urls, batch["html"], batch.get("coding_error", none)):
                if cerr:
                    # undecodable HTTP content coding (WARC reader
                    # boundary, sources/warc.py): a br/zstd/compress
                    # body must not reach extension-first routing as
                    # raw compressed bytes — failure-coded envelope,
                    # mirroring the reference's success=false philosophy
                    res, fmt = Result(success=False, error=str(cerr)), \
                        "unknown"
                else:
                    res, fmt = doc_fn(url, payload)
                out["format"].append(fmt)
                out["pages"].append(
                    None if res.pages is None or not keep_pages else [
                        {"page_number": p.page_number, "text": p.text,
                         "method": p.method, "word_count": p.word_count}
                        for p in res.pages
                    ]
                )
                for k in _RESULT_FIELDS:
                    out[k].append(getattr(res, k))
            yield out

    return _extract_batches


def preview(pages_df: DataFrame,
            max_chars: int = 20000,
            max_pages: int = 8) -> DataFrame:
    """Preview-mode pipeline: same batching and envelope as extract()
    (no ``coding_error`` column, ``pages`` NULL), but the cost-bounded
    early-exit kernel (kernel/preview.py — reference /api/preview
    semantics: allowlist, PDF text-layer only, byte truncation +
    '...')."""
    from ..kernel import preview as kpreview

    doc_fn = partial(kpreview.preview_document, max_chars=max_chars,
                     max_pages=max_pages)
    cols = [c for c in ("url", "warc_ts", "html", "lang")
            if c in pages_df.columns]
    return map_rows(pages_df.select(*cols), EXTRACTED_SCHEMA,
                    _envelope(doc_fn, keep_pages=False))


def extract(pages_df: DataFrame) -> DataFrame:
    """Run the extraction kernel over a pages DataFrame.

    Input requires columns (url, html) and carries (warc_ts, lang)
    through when present. The ``html`` payload column is consumed here
    and never appears downstream — early projection keeps the binary
    bytes out of every subsequent shuffle (SURVEY.md §4: the single
    biggest lever for scaling efficiency).
    """
    from ..kernel import router

    cols = [c for c in ("url", "warc_ts", "html", "lang",
                        "coding_error")
            if c in pages_df.columns]
    return map_rows(pages_df.select(*cols), EXTRACTED_SCHEMA,
                    _envelope(router.extract_document, keep_pages=True))
