"""Per-document dispatch: detect → resolve → size gate → kernel →
backfill.

Kernel-side port of reference internal/extract/router.go:27-93. One
call = one input row; the Spark layer batches calls inside a
mapInArrow pass (functions/extract_udf.py). Kernels must never raise
on malformed documents — exceptions become ``success=false`` rows,
mirroring the reference's withRecovery guard (cmd/server/main.go:539-549).

External-API kernels (image OCR+vision, audio, video) are
side-effecting and non-reproducible offline: they return explicit
failure codes, exactly as the reference reports ``success:false,
error`` when a backend is unavailable (router.go:47-55); SURVEY.md
§2.3 "Spark dispatch note". Legacy Office (.doc/.xls/.ppt) — which
the reference converts via a LibreOffice subprocess
(office/legacy.go:38-59) — is extracted NATIVELY here by the
from-scratch CFB/MS-DOC/BIFF8/MS-PPT kernel (kernel/legacy.py).
"""

from __future__ import annotations

from . import codefmt, office, pdfk, plaintext, registry, runes, sniff, structured
from .registry import Extractor, ResolveError
from .result import Result

# Offline failure codes for kernels that need external services.
UNSUPPORTED_MEDIA = "unsupported_media"
NEEDS_OCR = "needs_ocr"

_FAILURE_KERNELS = {
    "image": (NEEDS_OCR,
              "image OCR/vision requires an external API "
              "(offline engine failure code: needs_ocr)"),
    "audio": (UNSUPPORTED_MEDIA,
              "audio transcription requires an external API "
              "(offline engine failure code: unsupported_media)"),
    "video": (UNSUPPORTED_MEDIA,
              "video transcription requires ffmpeg + an external API "
              "(offline engine failure code: unsupported_media)"),
}


def extract_document(
    url: str,
    payload: bytes | None,
    max_file_bytes: int = registry.MAX_FILE_BYTES,
) -> tuple[Result, str]:
    """Extract one document. Returns (Result, format_kernel_id).

    The format id ("html", "pdf", "csv", …, or "unknown") is the
    dispatch column the Spark pipeline exposes for metrics/routing.
    """
    file_name = sniff.url_file_name(url)
    if payload is None:
        return Result(success=False, error="empty payload"), "unknown"

    size = len(payload)
    # Router-level byte cap (download.go:70-79 via config MAX_FILE_BYTES).
    if size > max_file_bytes:
        return (
            Result(success=False,
                   error=f"file exceeds {max_file_bytes // (1 << 20)}MB limit"),
            "unknown",
        )

    mime = sniff.sniff_mime(payload)
    ext = sniff.file_ext(file_name).lower()

    try:
        extractor = registry.resolve(mime, ext)
    except ResolveError as exc:
        return (
            Result(success=False, mime_type=mime, file_type="unknown",
                   error=str(exc)),
            "unknown",
        )

    # Per-extractor size gate (router.go:52-55, byte-exact message).
    if extractor.max_bytes > 0 and size > extractor.max_bytes:
        return (
            Result(success=False, mime_type=mime,
                   file_type=extractor.name,
                   error="file exceeds extractor limit "
                         f"({extractor.max_bytes // (1 << 20)}MB)"),
            extractor.kernel,
        )

    try:
        res = _dispatch(extractor, payload, file_name, mime)
    except Exception as exc:  # never crash the task on a bad document
        res = Result(success=False, file_type=extractor.name,
                     mime_type=mime, error=str(exc))
        return res, extractor.kernel

    # Backfill defaults (router.go:79-88).
    if res.error is None:
        res.success = True
    if runes.trim_space(res.file_type) == "":
        res.file_type = extractor.name
    if res.mime_type == "":
        res.mime_type = mime
    if res.char_count == 0 and res.text != "":
        res.word_count, res.char_count = runes.build_counts(res.text)
    return res, extractor.kernel


def _dispatch(e: Extractor, b: bytes, file_name: str, mime: str) -> Result:
    k = e.kernel
    if k == "html":
        return plaintext.extract_html(b, mime)
    if k == "text":
        return plaintext.extract_plaintext(b, file_name, mime)
    if k == "rtf":
        return plaintext.extract_rtf(b, mime)
    if k == "csv":
        return structured.extract_csv(b, mime)
    if k == "json":
        return structured.extract_json(b, file_name, mime)
    if k == "xml":
        return structured.extract_xml(b, mime)
    if k == "yaml":
        return structured.extract_yaml(b, file_name, mime)
    if k == "source":
        return codefmt.extract_source(b, file_name, mime)
    if k == "notebook":
        return codefmt.extract_notebook(b, mime)
    if k == "latex":
        return codefmt.extract_latex(b, mime)
    if k == "pdf":
        return pdfk.extract_pdf(b, mime)
    if k == "docx":
        return office.extract_docx(b, mime)
    if k == "xlsx":
        return office.extract_xlsx(b, mime)
    if k == "pptx":
        return office.extract_pptx(b, mime)
    if k == "opendocument":
        return office.extract_opendocument(b, mime)
    if k == "epub":
        return office.extract_epub(b, mime)
    if k == "legacy_office":
        from . import legacy
        return legacy.extract_legacy_office(b, mime)
    if k in _FAILURE_KERNELS:
        code, msg = _FAILURE_KERNELS[k]
        return Result(success=False, file_type=e.name, mime_type=mime,
                      method=code, error=msg)
    return Result(success=False, file_type=e.name, mime_type=mime,
                  error=f"kernel {k} not implemented")
