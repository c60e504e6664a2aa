"""Pages-array stats."""

from __future__ import annotations

from pdf_to_text_extraction_service_spark.functions.extract_udf import extract
from pdf_to_text_extraction_service_spark.operators.pagestats import (
    pdf_page_stats,
)
from pdf_to_text_extraction_service_spark.sources import pdfgen

GOOD = ["The quick brown fox jumps over the lazy dog near the river.",
        "Morning light settles across the quiet valley while birds sing."]
GARBAGE = ["@#$% ^&*()!! ~~ ||", "#### !!!! @@@@ $$$$"]


def test_pdf_page_stats(spark):
    rows = [
        ("https://x.test/a.pdf", pdfgen.simple_pdf([GOOD, GOOD, GOOD])),
        ("https://x.test/b.pdf", pdfgen.simple_pdf([GOOD, GARBAGE])),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    stats = {r["url"]: r for r in pdf_page_stats(extract(df)).collect()}
    a = stats["https://x.test/a.pdf"]
    assert (a["total_pages"], a["needs_ocr_pages"],
            a["cost_savings_percent"]) == (3, 0, 100)
    b = stats["https://x.test/b.pdf"]
    assert (b["total_pages"], b["needs_ocr_pages"]) == (2, 1)
    # offline: no ocr pages ever; savings = text_layer/total
    assert b["cost_savings_percent"] == 100
    assert a["sum_page_words"] > 0
