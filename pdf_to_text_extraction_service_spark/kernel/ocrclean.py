"""OCR post-processing kernel — the pure-function slice of the
reference's image/audio extractors, ported for parity.

Reference semantics:
- clean_ocr_text      = cleanOCRText      (internal/image/image.go:38-57)
- is_ocr_meaningful   = isOCRMeaningful   (internal/image/image.go:62-91)
- combine_ocr_pages   = combineOCRPages   (internal/image/image.go:94-105)
- format_timecode     = formatTimecode    (internal/extractors/audio/
                                           transcribe.go:114-126)
- format_timestamped_transcript = formatTimestampedTranscript
                                          (transcribe.go:102-112)
- sanitise_ocr_error  = sanitiseOCRError  (internal/image/image.go:266-284)

The OCR/vision/Whisper NETWORK calls themselves stay failure-coded
offline (kernel/router.py), but any OCR output handed to the engine
(a sidecar column from an external OCR service) flows through these
exact cleaning/gating rules — see functions/ocr.py for the Spark
operators.

Go regexp notes: Go's `\\w` is ASCII-only, so the Python regexes are
compiled with re.ASCII; Go `(?m)$` matches before a trailing
newline exactly like Python's re.MULTILINE.
"""

from __future__ import annotations

import re
import unicodedata

_ZERO_WIDTH = re.compile("[\u200B-\u200D\uFEFF\u00AD\u2060]")
_IMG_EXTS = r"(jpeg|jpg|png|gif|webp|svg|bmp|tiff?)"
_STANDALONE_IMG_NAME = re.compile(
    rf"^[\w-]*(?:img|image|figure|fig|photo|pic)[\w-]*\.{_IMG_EXTS}[ \t]*$",
    re.MULTILINE | re.IGNORECASE | re.ASCII,
)
_STANDALONE_FILE_NAME = re.compile(
    rf"^[\w-]+\.{_IMG_EXTS}[ \t]*$",
    re.MULTILINE | re.IGNORECASE | re.ASCII,
)
_MARKDOWN_IMAGE_REF = re.compile(r"!\[[^\]]*\]\([^)]*\)", re.MULTILINE)
_MARKDOWN_LINK_REF = re.compile(
    rf"\[[^\]]*\]\([^)]*\.{_IMG_EXTS}\)", re.MULTILINE
)
_EXCESSIVE_NEWLINES = re.compile(r"\n{4,}")
_TRAILING_SPACES = re.compile(r"[ \t]+$", re.MULTILINE)

# Go strings.TrimSpace trims unicode.IsSpace runes: ASCII
# whitespace, NEL, NBSP, and the Unicode Zs/line/para separators.
_GO_SPACE = (
    "\t\n\v\f\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def _trim_space(s: str) -> str:
    return s.strip(_GO_SPACE)


def clean_ocr_text(text: str) -> str:
    """Light-touch cleaning of raw OCR output (image.go:38-57):
    strips zero-width characters, markdown image/link refs,
    standalone image-filename lines; normalizes line endings; trims
    trailing spaces; collapses 4+ newlines to 3."""
    if text == "":
        return ""
    text = _ZERO_WIDTH.sub("", text)
    text = _MARKDOWN_IMAGE_REF.sub("", text)
    text = _MARKDOWN_LINK_REF.sub("", text)
    text = _STANDALONE_IMG_NAME.sub("", text)
    text = _STANDALONE_FILE_NAME.sub("", text)
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = _TRAILING_SPACES.sub("", text)
    text = _EXCESSIVE_NEWLINES.sub("\n\n\n", text)
    return _trim_space(text)


def is_ocr_meaningful(text: str) -> bool:
    """True when OCR output contains real readable text
    (image.go:62-91): >= 3 letter/digit runes AND >= 30% of
    non-space runes are letters/digits. Letter = Unicode L*, digit =
    Nd only (Go unicode.IsLetter/IsDigit)."""
    if text == "":
        return False
    letters = total = 0
    for ch in text:
        cat = unicodedata.category(ch)
        if cat == "Zs" or ch in _GO_SPACE:
            continue
        total += 1
        if cat.startswith("L") or cat == "Nd":
            letters += 1
    if letters < 3:
        return False
    if total > 0 and letters / total < 0.30:
        return False
    return True


def combine_ocr_pages(pages: list[str]) -> str:
    """Join OCR page markdown, skipping empty and lone-'.' pages
    (image.go:94-105)."""
    parts = []
    for p in pages:
        md = _trim_space(p if p is not None else "")
        if md == "" or md == ".":
            continue
        parts.append(md)
    return "\n\n-----\n\n".join(parts)


def format_timecode(seconds: float) -> str:
    """[MM:SS] / [HH:MM:SS] timecode body (transcribe.go:114-126):
    clamp negatives to 0, round-half-up to whole seconds.  A missing
    start (NULL in a sidecar column) raises ValueError."""
    if seconds is None:
        raise ValueError("transcript segment has no start time")
    if seconds < 0:
        seconds = 0.0
    total = int(seconds + 0.5)
    h = total // 3600
    m = (total % 3600) // 60
    s = total % 60
    if h > 0:
        return f"{h:02d}:{m:02d}:{s:02d}"
    return f"{m:02d}:{s:02d}"


def format_timestamped_transcript(segments: list[tuple[float, str]]) -> str:
    """"[MM:SS] text" per non-empty segment, joined by blank lines
    (transcribe.go:102-112)."""
    parts = []
    for start, text in segments:
        t = _trim_space(text if text is not None else "")
        if t == "":
            continue
        parts.append(f"[{format_timecode(start)}] {t}")
    return "\n\n".join(parts)


def ocr_text_from_pages(pages: list[str]) -> tuple[str, str | None]:
    """The runOCR + processOCROnly quality gate (image.go:218-263)
    given externally-produced OCR page markdown. Returns
    (cleaned_text, error): error is set when the pages combine to
    nothing or fail the meaningfulness gate."""
    if not pages:
        return "", "OCR returned no pages"
    raw = combine_ocr_pages(pages)
    cleaned = clean_ocr_text(raw)
    if cleaned == "":
        return "", "OCR produced empty text"
    if not is_ocr_meaningful(cleaned):
        return "", "image contains no extractable text"
    return cleaned, None


def sanitise_ocr_error(msg: str) -> str:
    """User-facing message from OCR backend errors
    (image.go:266-284)."""
    if "404" in msg or "not found" in msg:
        return "Image URL not accessible (404)"
    if "403" in msg or "forbidden" in msg:
        return "Access denied to image URL"
    if "timeout" in msg:
        return "Request timeout — try again later"
    if "network" in msg or "ECONNREFUSED" in msg:
        return "Network error — check connectivity"
    if len(msg) > 300:
        return msg[:300] + "..."
    return msg
