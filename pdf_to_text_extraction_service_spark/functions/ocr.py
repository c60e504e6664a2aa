"""Spark operators over externally-produced OCR / transcription
output.

The reference's image/audio extractors call network backends (Mistral
OCR, Groq Whisper — internal/image/image.go:115-263,
internal/extractors/audio/transcribe.go:40-100); offline, the router
failure-codes those rows (kernel/router.py). But everything AFTER the
backend call is pure post-processing, and at 100 TB that is exactly
the shape of a real pipeline: an OCR/ASR service (or a GPU fleet)
writes page-markdown / segment sidecar columns, and Spark owns the
combine → clean → quality-gate → count stage. These operators run
that stage over Arrow batches with the byte-parity kernel
(kernel/ocrclean.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .textrows import map_rows

OCR_RESULT_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("success", BooleanType()),
    StructField("text", StringType()),
    StructField("method", StringType()),
    StructField("word_count", IntegerType()),
    StructField("char_count", IntegerType()),
    StructField("error", StringType()),
])


def _result_rows(ids: list, texts: list, errors: list,
                 method: str) -> dict:
    """``OCR_RESULT_SCHEMA`` columns: success iff no error, counts per
    runes.BuildCounts."""
    from pdf_to_text_extraction_service_spark.kernel import runes

    counts = [runes.build_counts(t) for t in texts]
    return {"media_id": ids, "success": [e is None for e in errors],
            "text": texts, "method": [method] * len(ids),
            "word_count": [wc for wc, _ in counts],
            "char_count": [cc for _, cc in counts], "error": errors}


def ocr_clean_results(df: DataFrame, id_col: str = "media_id",
                      pages_col: str = "ocr_pages") -> DataFrame:
    """processOCROnly over a sidecar column of OCR page markdown
    (image.go:218-263): combine pages → clean → meaningfulness gate;
    garbage OCR fails explicitly rather than passing through, with
    the reference's exact error strings."""

    def _ocr_rows(batch: dict) -> dict:
        from pdf_to_text_extraction_service_spark.kernel import ocrclean

        res = [ocrclean.ocr_text_from_pages(pages or [])
               for pages in batch[pages_col]]
        return _result_rows(batch[id_col], [t for t, _ in res],
                            [e for _, e in res], "ocr")

    return map_rows(df.select(id_col, pages_col), OCR_RESULT_SCHEMA,
                    lambda batches: map(_ocr_rows, batches))


def transcript_results(df: DataFrame, id_col: str = "media_id",
                       segments_col: str = "segments",
                       timestamps: bool = True) -> DataFrame:
    """Audio-transcript assembly over a sidecar column of Whisper-style
    segments array<struct<start double, text string>>
    (transcribe.go:80-112): with timestamps each non-empty segment
    becomes "[MM:SS] text" ([HH:MM:SS] past the hour) joined by blank
    lines; an empty transcript is the reference's exact failure
    ("groq transcription returned empty transcript",
    transcribe.go:84-87); counts are BuildCounts."""

    def _transcript_rows(batch: dict) -> dict:
        from pdf_to_text_extraction_service_spark.kernel import ocrclean

        texts = []
        for segs in batch[segments_col]:
            segs = segs or []
            if timestamps and segs:
                texts.append(ocrclean.format_timestamped_transcript(
                    [(s["start"], s["text"]) for s in segs]))
            else:
                texts.append(ocrclean._trim_space(
                    " ".join(s["text"] for s in segs
                             if s["text"] is not None)))
        errors = [None if t else
                  "groq transcription returned empty transcript"
                  for t in texts]
        return _result_rows(batch[id_col], texts, errors, "groq")

    return map_rows(df.select(id_col, segments_col), OCR_RESULT_SCHEMA,
                    lambda batches: map(_transcript_rows, batches))
