"""Charset detection for web payloads (BOM → <meta charset> → UTF-8
validity → windows-1252 fallback).

DIVERGENCE NOTE (docs/NEXT.md #2, deliberate): the reference carries
raw bytes end-to-end and lets Go's JSON encoder replace invalid UTF-8
at the boundary (internal/extract/download.go writes bytes verbatim),
i.e. it performs NO charset handling — a Latin-1 page turns into
U+FFFD runs. For a Common-Crawl-scale corpus that loses a measurable
slice of the text, so this engine detects:

1. BOMs (UTF-8 / UTF-16 LE / BE) — the BOM is consumed, not emitted;
2. an ASCII-cased ``<meta charset=...>`` / ``http-equiv`` declaration
   in the first 1024 bytes (WHATWG prescan subset), for HTML payloads;
3. otherwise strict-UTF-8 validity over the whole payload;
4. otherwise a statistical byte-frequency fallback over the common
   crawl charsets (cp1251/koi8-r/shift_jis/euc-jp/euc-kr/gbk/big5),
   defaulting to windows-1252 (the WHATWG fallback; iso-8859-1/
   us-ascii labels are aliases of it) unless a candidate clearly
   wins on script-expectation statistics.

For valid-UTF-8 inputs — the entire parity corpus — the decoded text
is byte-identical to the previous utf-8-with-replacement behavior, so
every byte-parity fixture and oracle is unaffected; the new behavior
is only reachable on payloads the reference would have mangled.
"""

from __future__ import annotations

import re

# WHATWG Encoding Standard label → Python codec (subset: the labels
# that appear in web crawls with any frequency).
_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "latin-1": "windows-1252", "l1": "windows-1252",
    "us-ascii": "windows-1252", "ascii": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252", "ansi_x3.4-1968": "windows-1252",
    "iso-8859-15": "iso-8859-15", "latin9": "iso-8859-15",
    "iso-8859-2": "iso-8859-2", "latin2": "iso-8859-2",
    "windows-1250": "windows-1250",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "koi8-r": "koi8-r", "koi8": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc-jp",
    "gbk": "gbk", "gb2312": "gbk", "gb_2312": "gbk",
    "big5": "big5",
    "euc-kr": "euc-kr",
    # WHATWG: a meta-declared utf-16 is processed as utf-8 (the
    # prescan only sees ASCII-compatible bytes anyway).
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}

_META_CHARSET = re.compile(
    rb"<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-:.]+)",
    re.IGNORECASE | re.DOTALL,
)


def _from_label(label: str) -> str | None:
    return _LABELS.get(label.strip().lower())


# Statistical fallback candidates for unlabeled non-UTF-8 pages, in
# deterministic preference order (single-byte Cyrillic, then the
# multi-byte CJK families; windows-1252 is the incumbent default).
_STAT_CANDIDATES = (
    "windows-1251", "koi8-r", "shift_jis", "euc-jp", "euc-kr",
    "gbk", "big5",
)


def _block(o: int) -> str:
    if 0x0400 <= o <= 0x04FF:
        return "cyr"
    if 0x3040 <= o <= 0x30FF:
        return "kana"
    if 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF:
        return "cjk"
    if 0xAC00 <= o <= 0xD7AF:
        return "hangul"
    if 0x00C0 <= o <= 0x024F:
        return "latin"
    return "other"


# expected script per candidate — the discriminating signal between
# codecs that all "decode" the same bytes to plausible-looking letters
_EXPECT = {
    "windows-1252": "latin", "windows-1251": "cyr", "koi8-r": "cyr",
    "shift_jis": "jp", "euc-jp": "jp", "euc-kr": "hangul",
    "gbk": "cjk", "big5": "cjk",
}


def _codec_score(sample: bytes, codec: str) -> float:
    """Plausibility of ``codec`` for ``sample``. Components, each
    deterministic and stdlib-only:

    - validity: replacement-char fraction after decode;
    - letter fraction among decoded non-ASCII chars;
    - EXPECTED-script fraction (a cp1251 page decoded as cp1252
      yields accented-Latin soup — high letter counts, wrong script
      expectations are what separate the candidates):
      * Japanese codecs require kana presence (mis-decoded Chinese
        has none); CJK codecs are penalized FOR kana (mis-decoded
        Japanese leaks it);
      * bicameral scripts apply a lowercase-fraction factor — real
        text is mostly lowercase, and the cp1251/koi8-r case flip is
        exactly what distinguishes those two;
      * Latin additionally requires accents to be OCCASIONAL: a page
        whose letters are >35% non-ASCII is not a Latin-script page.
    """
    txt = sample.decode(codec, errors="replace")
    non_ascii = [ch for ch in txt if ord(ch) > 0x7F]
    if not non_ascii:
        return 0.0
    bad = sum(1 for ch in non_ascii if ch == "�")
    letters = [ch for ch in non_ascii if ch.isalpha()]
    if not letters:
        return 0.0
    blocks: dict[str, int] = {}
    for ch in letters:
        b = _block(ord(ch))
        blocks[b] = blocks.get(b, 0) + 1
    expect = _EXPECT[codec]
    n = len(letters)
    if expect == "jp":
        kana = blocks.get("kana", 0)
        target = (kana + blocks.get("cjk", 0)) / n
        if kana / n < 0.05:
            target *= 0.3  # Japanese text without kana is implausible
        elif kana / n >= 0.15:
            # strong kana presence outranks a CJK codec's clean
            # decode of the same bytes (GBK absorbs shift_jis bytes
            # as all-hanzi; real Japanese is kana-heavy)
            target *= 1.3
    elif expect == "cjk":
        target = blocks.get("cjk", 0) / n
        if blocks.get("kana", 0) / n > 0.05:
            target *= 0.3  # kana leak = mis-decoded Japanese
    elif expect == "hangul":
        target = blocks.get("hangul", 0) / n
    elif expect == "cyr":
        target = blocks.get("cyr", 0) / n
    else:  # latin
        target = blocks.get("latin", 0) / n
        ascii_letters = sum(1 for ch in txt
                            if ord(ch) < 0x80 and ch.isalpha())
        share = n / max(1, n + ascii_letters)
        if share > 0.35:
            target *= 0.35 / share
    if expect in ("cyr", "latin"):
        lower = sum(1 for ch in letters if ch.islower())
        upper = sum(1 for ch in letters if ch.isupper())
        if lower + upper:
            target *= lower / (lower + upper)
    return (len(letters) / len(non_ascii)) * target \
        * (1.0 - min(1.0, bad / len(non_ascii)))


def _statistical_fallback(payload: bytes) -> str:
    """Byte-frequency heuristic for unlabeled, non-UTF-8 payloads
    (docs/NEXT.md #2 residual): score each candidate codec on the
    first 8 KB and keep windows-1252 unless a candidate clearly wins.
    The margin keeps every genuinely Latin page on the incumbent
    WHATWG fallback (byte-for-byte the previous behavior)."""
    sample = payload[:8192]
    if sum(1 for b in sample if b > 0x7F) < 16:
        # too little evidence for statistics — keep the WHATWG
        # default (a few curly quotes must not flip a page to GBK)
        return "windows-1252"
    base = _codec_score(sample, "windows-1252")
    best_codec, best = "windows-1252", base
    for codec in _STAT_CANDIDATES:
        s = _codec_score(sample, codec)
        if s > best + 1e-9:
            best_codec, best = codec, s
    if best_codec != "windows-1252" and best < base + 0.15:
        return "windows-1252"
    return best_codec


def decode(payload: bytes, scan_meta: bool = True) -> tuple[str, str]:
    """Decode ``payload`` with the detected charset; never raises.
    Returns (text, codec). Mis-declared pages still decode (replace)
    rather than fail — a crawl row must always produce a row.

    Single-pass on the hot path: the strict-UTF-8 attempt IS the
    decode (no separate validity scan); only BOM/meta hits or
    invalid UTF-8 take a second pass."""
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload.decode("utf-8-sig", errors="replace"), "utf-8-sig"
    if payload.startswith(b"\xff\xfe") or payload.startswith(b"\xfe\xff"):
        return payload.decode("utf-16", errors="replace"), "utf-16"
    if scan_meta:
        m = _META_CHARSET.search(payload[:1024])
        if m:
            codec = _from_label(m.group(1).decode("ascii", "replace"))
            if codec:
                # declared utf-8 stays utf-8 even with invalid bytes
                return payload.decode(codec, errors="replace"), codec
    try:
        return payload.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        codec = _statistical_fallback(payload)
        return payload.decode(codec, errors="replace"), codec
