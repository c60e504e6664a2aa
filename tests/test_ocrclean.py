"""Parity fixtures for the OCR post-processing kernel
(kernel/ocrclean.py) vs reference internal/image/image.go:24-105 and
internal/extractors/audio/transcribe.go:102-126 (cases from
transcribe_test.go:112-119), plus the Spark operators over sidecar
columns (functions/ocr.py)."""

from __future__ import annotations

from pdf_to_text_extraction_service_spark.kernel import ocrclean


# --- formatTimecode (transcribe_test.go:112-119) ---------------------

def test_format_timecode_parity():
    assert ocrclean.format_timecode(5.1) == "00:05"
    assert ocrclean.format_timecode(3723.1) == "01:02:03"
    assert ocrclean.format_timecode(0.0) == "00:00"
    assert ocrclean.format_timecode(-3.0) == "00:00"
    assert ocrclean.format_timecode(59.5) == "01:00"  # int(s+0.5)
    assert ocrclean.format_timecode(3599.6) == "01:00:00"


def test_timestamped_transcript_parity():
    # transcribe_test.go:39-75 payload
    segs = [(0.0, "Hello team"), (3.2, "This is a test"), (8.0, "  ")]
    got = ocrclean.format_timestamped_transcript(segs)
    assert got == "[00:00] Hello team\n\n[00:03] This is a test"


# --- cleanOCRText (image.go:38-57) -----------------------------------

def test_clean_strips_zero_width_and_normalizes():
    assert ocrclean.clean_ocr_text("a​b⁠c\xadd") == "abcd"
    assert ocrclean.clean_ocr_text("a\r\nb\rc") == "a\nb\nc"
    assert ocrclean.clean_ocr_text("line  \t\nnext") == "line\nnext"
    assert ocrclean.clean_ocr_text("a\n\n\n\n\n\nb") == "a\n\n\nb"
    assert ocrclean.clean_ocr_text("  padded  ") == "padded"
    assert ocrclean.clean_ocr_text("") == ""


def test_clean_removes_image_references():
    assert ocrclean.clean_ocr_text("before ![alt](path/x.png) after") \
        == "before  after"
    assert ocrclean.clean_ocr_text("[caption](a/b.jpeg)") == ""
    # non-image markdown links survive
    assert ocrclean.clean_ocr_text("[doc](a/b.html)") == "[doc](a/b.html)"


def test_clean_removes_standalone_filename_lines():
    assert ocrclean.clean_ocr_text("text\nimg-01.png\nmore") == "text\n\nmore"
    assert ocrclean.clean_ocr_text("text\nFigure-2.JPG\nmore") == "text\n\nmore"
    assert ocrclean.clean_ocr_text("text\nscan01.tiff\nmore") == "text\n\nmore"
    # mid-line filenames stay
    assert ocrclean.clean_ocr_text("see img-01.png here") \
        == "see img-01.png here"


# --- isOCRMeaningful (image.go:62-91) ---------------------------------

def test_is_ocr_meaningful():
    assert not ocrclean.is_ocr_meaningful("")
    assert not ocrclean.is_ocr_meaningful("ab")          # < 3 letters
    assert ocrclean.is_ocr_meaningful("abc")
    assert ocrclean.is_ocr_meaningful("a b c")           # spaces skipped
    assert not ocrclean.is_ocr_meaningful("a!! b?? c!! ## $$ %% ^^ &&")
    assert not ocrclean.is_ocr_meaningful("🙂 🙂 🙂")
    assert ocrclean.is_ocr_meaningful("real text 123")
    # Nd-only digits (Go unicode.IsDigit): superscript two is No
    assert not ocrclean.is_ocr_meaningful("²²²")


# --- combineOCRPages (image.go:94-105) --------------------------------

def test_combine_ocr_pages():
    got = ocrclean.combine_ocr_pages(["  one ", "", ".", "two"])
    assert got == "one\n\n-----\n\ntwo"
    assert ocrclean.combine_ocr_pages([]) == ""
    assert ocrclean.combine_ocr_pages([".", " "]) == ""


def test_ocr_text_from_pages_gate():
    text, err = ocrclean.ocr_text_from_pages(["hello world page"])
    assert text == "hello world page" and err is None
    assert ocrclean.ocr_text_from_pages([]) == ("", "OCR returned no pages")
    assert ocrclean.ocr_text_from_pages(["."]) \
        == ("", "OCR produced empty text")
    assert ocrclean.ocr_text_from_pages(["!! ?? $$ %% ^^"]) \
        == ("", "image contains no extractable text")


# --- sanitiseOCRError (image.go:266-284) ------------------------------

def test_sanitise_ocr_error():
    assert ocrclean.sanitise_ocr_error("http 404: nope") \
        == "Image URL not accessible (404)"
    assert ocrclean.sanitise_ocr_error("403 forbidden") \
        == "Access denied to image URL"
    assert ocrclean.sanitise_ocr_error("request timeout hit") \
        == "Request timeout — try again later"
    assert ocrclean.sanitise_ocr_error("x" * 301) == "x" * 300 + "..."
    assert ocrclean.sanitise_ocr_error("plain") == "plain"


# --- Spark operators (functions/ocr.py) -------------------------------

def test_spark_ocr_clean_results(spark):
    from pdf_to_text_extraction_service_spark.functions.ocr import (
        ocr_clean_results,
    )

    df = spark.createDataFrame(
        [
            (1, ["hello world  ", "![f](a.png)", "."]),
            (2, ["$$ !! ^^"]),
            (3, []),
        ],
        "media_id long, ocr_pages array<string>",
    )
    rows = {r["media_id"]: r for r in ocr_clean_results(df).collect()}
    assert rows[1]["success"] and rows[1]["text"] == "hello world\n\n-----"
    assert rows[1]["word_count"] == 3 and rows[1]["char_count"] == 18
    assert not rows[2]["success"]
    assert rows[2]["error"] == "image contains no extractable text"
    assert rows[3]["error"] == "OCR returned no pages"


def test_spark_transcript_results(spark):
    from pdf_to_text_extraction_service_spark.functions.ocr import (
        transcript_results,
    )

    df = spark.createDataFrame(
        [
            (1, [(0.0, "Hello team"), (3.2, "This is a test")]),
            (2, [(5.0, "  ")]),
            (3, [(None, "nostart")]),
        ],
        "media_id long, segments array<struct<start double, text string>>",
    )
    rows = {r["media_id"]: r for r in transcript_results(df).collect()}
    assert rows[1]["text"] == "[00:00] Hello team\n\n[00:03] This is a test"
    assert rows[1]["success"] and rows[1]["method"] == "groq"
    assert not rows[2]["success"]
    assert rows[2]["error"] == "groq transcription returned empty transcript"
    # a NULL start fails its own row, not the task
    assert not rows[3]["success"] and rows[3]["text"] == ""
    assert rows[3]["error"] == "transcript segment has no start time"
