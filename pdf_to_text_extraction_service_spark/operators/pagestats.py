"""Aggregations over the per-page results array (SURVEY.md §2.5).

The reference tallies page methods doc-side (countOCRPages /
TextLayerPages / CostSavingsPercent, hybrid.go:136-138,377-392). Here
they are JVM array expressions over the ``pages``
array<struct> column — no Python, no explode, no shuffle.  The one
exception, ``pdf_image_ocr_stats``, must decode the raw payload, so it
runs as the shared per-payload row pass
(functions/multimodal.map_payloads) and has no envelope of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pdf_page_stats(extracted: DataFrame) -> DataFrame:
    """Per-document page tallies for rows that carry a pages array.

    cost_savings_percent = int(text_layer / total * 100)
    (hybrid.go:387-392; TextLayerPages = len(pages) - OCRPages per
    hybrid.go:137)."""
    df = extracted.filter(F.col("pages").isNotNull())
    total = F.size("pages")
    ocr = F.size(F.filter("pages", lambda p: p["method"] == "ocr"))
    needs = F.size(F.filter("pages", lambda p: p["method"] == "needs-ocr"))
    text_layer = total - ocr
    return df.select(
        "url",
        total.alias("total_pages"),
        text_layer.alias("text_layer_pages"),
        ocr.alias("ocr_pages"),
        needs.alias("needs_ocr_pages"),
        F.when(total == 0, F.lit(0))
        .otherwise((text_layer.cast("double") / total * 100).cast("int"))
        .alias("cost_savings_percent"),
        F.aggregate(
            F.transform("pages", lambda p: p["word_count"]),
            F.lit(0),
            lambda acc, w: acc + w,
        ).alias("sum_page_words"),
    )


PDF_IMAGE_STATS_SCHEMA = (
    "url string, total_pages int, needs_ocr_pages int, "
    "blank_pages int, n_images int, img_pixels bigint, "
    "ink_samples bigint, sum_luma bigint"
)


def pdf_image_ocr_stats(pages_df: DataFrame,
                        url_col: str = "url",
                        payload_col: str = "html") -> DataFrame:
    """Per-document embedded-image statistics + the pixel-driven OCR
    decision (kernel/pdfk.page_image_stats / self_blank_page): for
    each PDF payload, decode every image XObject (DCTDecode baseline
    and progressive via kernel/imgcodec.py) and inline image, and
    tally which textless pages escalate to OCR vs prune as blank
    paper.

    Scale shape: one per-payload row pass
    (functions/multimodal.map_payloads, the same Arrow-batched
    ``mapInArrow`` budget as extract()); only the two input columns
    reach the Python worker and only eight scalar columns come back —
    map-only, no shuffle.  A document that fails to parse is a zero
    row, never an error."""
    from pyspark.sql.types import DataType

    from ..functions.multimodal import map_payloads
    from ..kernel import pdfk

    schema = DataType.fromDDL(PDF_IMAGE_STATS_SCHEMA)

    def _row(payload: bytes) -> dict:
        total = needs = blank = n_img = 0
        pixels = ink = luma = 0
        try:
            doc = pdfk.PDFDoc(payload)
            res = pdfk.extract_pdf(payload, "application/pdf", doc=doc)
            for p in (res.pages or []):
                total += 1
                if p.method == "needs-ocr":
                    needs += 1
                elif p.method == "blank":
                    blank += 1
                st = doc.page_image_stats(p.page_number)
                n_img += st["n_images"]
                pixels += st["pixels"]
                ink += st["ink_samples"]
                luma += st["sum_luma"]
        except Exception:
            # error docs report zeros, never raise — drop anything
            # accumulated before the failure so a doc that dies at
            # page k is not mistaken for a genuine (k-1)-page document
            return dict.fromkeys(schema.names[1:], 0)
        return {"total_pages": total, "needs_ocr_pages": needs,
                "blank_pages": blank, "n_images": n_img,
                "img_pixels": pixels, "ink_samples": ink,
                "sum_luma": luma}

    return map_payloads(pages_df, url_col, payload_col, schema, _row)
