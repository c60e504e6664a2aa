"""From-spec PNG and baseline-JPEG codecs (pure Python + numpy).

The reference sends real image bytes to its vision/OCR leg
(internal/extractors/image/image.go:39-82); this engine's multimodal
column needs a real decode so feature extraction operates on genuine
pixels rather than the FAKEIMG container alone. No image libraries
exist in this environment, so both formats are implemented from the
public specs:

- PNG (RFC 2083 / W3C PNG spec): chunk parse, zlib inflate, all five
  scanline filters (None/Sub/Up/Average/Paeth), bit depths 1/2/4/8/16,
  color types 0/2/3/4/6, Adam7 interlace. Output is uint8 (16-bit
  samples take the high byte, the usual 8-bit reduction).
- JPEG (ITU-T T.81 baseline): DQT/DHT/SOF0/SOS/DRI markers, Huffman
  entropy decode with byte unstuffing and restart markers, dequantize,
  dezigzag, float separable IDCT, nearest-neighbour chroma upsample,
  JFIF YCbCr->RGB.

Encoders exist so tests and the driver fixture can synthesize real
payloads deterministically: PNG (filter-0 rows, fixed zlib level) and
baseline JPEG (grayscale or 4:4:4 color, caller-supplied quant table).
An all-ones quant table makes a FLAT image round-trip bit-exactly
(DC-only blocks: IDCT of a pure-DC block is DC/8, exact in binary
floats), which is what lets the driver's DuckDB oracle predict decoded
histograms symbolically.

Malformed input raises ValueError; callers surface it as an error row
(multimodal.image_features), mirroring the extraction router's
failure envelopes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ===================================================================
# PNG
# ===================================================================

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Decode-bomb guard: crawl payloads are untrusted, so total pixels are
# capped BEFORE any allocation (a 100-byte PNG can claim 2^24 x 2^24
# and a 1 MB IDAT can inflate to gigabytes). 64 MP covers any sane
# crawl image; callers surface the ValueError as an error row.
MAX_PIXELS = 1 << 26
# GIF budget re-derivation (r8): the LZW decode is vectorized
# (schedule-batched code extraction + parallel chain expansion,
# _gif_lzw_decode) and measures 0.06-0.10 us/px on the bench fixture
# and 4 MP / 64 MP probes — 2^26 px now costs ~7 s worst case, far
# inside the reference's 300 s per-file timeout (config.go:120-127),
# so GIF rejoins the other decoders at the common MAX_PIXELS cap
# (r7 had capped it at 2^23 because the per-byte Python loop cost
# 31-34 us/px, ~35 min at 2^26).
GIF_MAX_PIXELS = MAX_PIXELS

# JPEG coefficient-buffer budget in CELLS (64 per 8x8 block), summed
# over ALL components including MCU padding.  MAX_PIXELS alone is not
# enough for JPEG: a 64 MP 3-component 4:4:4 frame passes the pixel
# cap yet needs pixel-count coefficient cells PER COMPONENT — with
# int64 cells plus float64 IDCT copies that peaked at several GB,
# enough for the OS to OOM-kill the executor (bypassing the
# MemoryError -> error-row mapping) under concurrent tasks.  The cap
# scales with component count and subsampling, cells are int32, and
# the IDCT runs in bounded chunks, so peak decode memory is
# ~(4 bytes x cap) + O(chunk) regardless of payload claims.
# Budget: 4x MAX_PIXELS of cells (~1 GiB int32 peak) — large enough
# that every layout under the pixel cap decodes (a 64 MP 3-component
# 4:4:4 frame needs ~201M cells incl. MCU padding; 4:2:0 needs ~1.5
# cells/pixel), so the effective ceiling is MAX_PIXELS itself, not a
# subsampling-dependent surprise.
MAX_COEF_CELLS = 1 << 28

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters. Sequential by spec (each byte
    depends on the reconstructed left/up/up-left neighbours)."""
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        if pos >= len(raw):
            raise ValueError("png: truncated scanline data")
        ftype = raw[pos]
        pos += 1
        line = raw[pos:pos + stride]
        if len(line) < stride:
            raise ValueError("png: truncated scanline data")
        pos += stride
        o = y * stride
        prev = out[o - stride:o] if y else bytes(stride)
        if ftype == 0:  # None
            out[o:o + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                out[o + x] = (line[x] + left) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                out[o + x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                out[o + x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                out[o + x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        else:
            raise ValueError(f"png: bad filter type {ftype}")
    return out


def _expand_samples(recon: bytes, width: int, height: int,
                    bitdepth: int, channels: int) -> np.ndarray:
    """Reconstructed scanline bytes -> (h, w, channels) uint8."""
    stride = (width * channels * bitdepth + 7) // 8
    rows = np.frombuffer(bytes(recon), dtype=np.uint8).reshape(
        height, stride)
    if bitdepth == 8:
        return rows[:, :width * channels].reshape(
            height, width, channels).copy()
    if bitdepth == 16:
        # high byte: the standard 16->8 reduction
        return rows[:, :width * channels * 2].reshape(
            height, width * channels, 2)[:, :, 0].reshape(
            height, width, channels).copy()
    # 1/2/4-bit packed, big-endian within the byte
    per_byte = 8 // bitdepth
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(height, stride * per_byte, bitdepth)
    weights = (1 << np.arange(bitdepth - 1, -1, -1)).astype(np.uint8)
    samples = (vals * weights).sum(axis=2).astype(np.uint8)
    return samples[:, :width * channels].reshape(
        height, width, channels).copy()


def _scale_to_8bit(img: np.ndarray, bitdepth: int,
                   palette: bytes | None) -> np.ndarray:
    if palette is not None:
        pal = np.frombuffer(palette, dtype=np.uint8)
        if len(pal) % 3:
            raise ValueError("png: PLTE length not divisible by 3")
        pal = pal.reshape(-1, 3)
        idx = img[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError("png: palette index out of range")
        return pal[idx]
    if bitdepth in (8, 16):
        return img
    # sample-depth scaling per spec: v * 255 / (2^d - 1)
    maxv = (1 << bitdepth) - 1
    return ((img.astype(np.uint16) * 255 + maxv // 2) // maxv).astype(
        np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8 (palette expanded to RGB).
    Malformed input raises ValueError, never anything else."""
    return _never_raises(_decode_png, data)


def _never_raises(fn, data: bytes) -> np.ndarray:
    # contract safety net for untrusted crawl bytes: low-level parse
    # errors (short struct buffers, huge ints hitting numpy bounds)
    # surface as the documented ValueError, not as task crashes
    try:
        return fn(data)
    except (struct.error, OverflowError, IndexError, KeyError,
            MemoryError) as exc:
        raise ValueError(f"image decode failed: {exc}") from None


def _decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(PNG_SIG):
        raise ValueError("png: bad signature")
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    palette: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        pos += 8
        if pos + length + 4 > len(data):
            raise ValueError("png: truncated chunk")
        body = data[pos:pos + length]
        pos += length + 4  # skip CRC (tolerant reader)
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("png: missing IHDR")
    w, h, bitdepth, colortype, comp, filt, interlace = ihdr
    if w == 0 or h == 0 or w * h > MAX_PIXELS:
        raise ValueError("png: bad dimensions")
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if colortype not in _CHANNELS:
        raise ValueError(f"png: bad color type {colortype}")
    allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}[colortype]
    if bitdepth not in allowed:
        raise ValueError(f"png: bad bit depth {bitdepth}")
    if colortype == 3 and palette is None:
        raise ValueError("png: palette image missing PLTE")
    channels = _CHANNELS[colortype]
    # expected inflated size bounds the decompression (bomb guard)
    if interlace == 0:
        expect = h * ((w * channels * bitdepth + 7) // 8 + 1)
    else:
        expect = sum(
            ((h - y0 + dy - 1) // dy)
            * ((((w - x0 + dx - 1) // dx) * channels * bitdepth + 7)
               // 8 + 1)
            for (x0, y0, dx, dy) in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        )
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expect)
    except zlib.error as exc:
        raise ValueError(f"png: bad IDAT stream ({exc})") from None
    bpp = max(1, (bitdepth * channels) // 8)

    if interlace == 0:
        stride = (w * channels * bitdepth + 7) // 8
        recon = _unfilter(raw, h, stride, bpp)
        img = _expand_samples(recon, w, h, bitdepth, channels)
    elif interlace == 1:
        img = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            stride = (pw * channels * bitdepth + 7) // 8
            span = ph * (stride + 1)
            recon = _unfilter(raw[off:off + span], ph, stride, bpp)
            off += span
            sub = _expand_samples(recon, pw, ph, bitdepth, channels)
            img[y0::dy, x0::dx] = sub
    else:
        raise ValueError(f"png: bad interlace method {interlace}")
    out = _scale_to_8bit(img, bitdepth, palette if colortype == 3
                         else None)
    if trns is not None and colortype == 3:
        # palette transparency: expand to RGBA (entries past the tRNS
        # table default to opaque, per spec)
        alpha_tbl = np.full(len(palette) // 3, 255, dtype=np.uint8)
        alpha_tbl[:len(trns)] = np.frombuffer(
            trns[:len(alpha_tbl)], dtype=np.uint8)
        a = alpha_tbl[img[:, :, 0]]
        out = np.concatenate([out, a[:, :, None]], axis=2)
    # tRNS on gray/RGB marks a single transparent sample value; the
    # feature pipeline is alpha-agnostic, so it is ignored there
    return out


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    """(h, w) or (h, w, {1,2,3,4}) uint8 -> PNG bytes (filter-0 rows,
    one IDAT). Deterministic for a fixed zlib level."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    rows = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(rows, level))
            + _chunk(b"IEND", b""))


# ===================================================================
# JPEG (baseline, T.81)
# ===================================================================

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# T.81 Annex K.3.3: the "typical" luminance Huffman tables every
# encoder ships. (BITS counts per code length 1..16, then HUFFVAL.)
_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_VALS = list(range(12))
_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.1 luminance quantization table (natural order), for tests
# that want realistic lossy behavior.
STD_LUMA_QUANT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

# Separable DCT basis: _DCT_M[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_DCT_M = np.zeros((8, 8))
for _u in range(8):
    _cu = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _DCT_M[_u, _x] = _cu / 2 * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _DCT_M @ block @ _DCT_M.T


class _HuffTable:
    """Canonical Huffman per T.81 C.2: (code, length) -> symbol."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.lookup: dict[tuple[int, int], int] = {}
        self.enc: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                if k >= len(vals):
                    raise ValueError("jpeg: DHT bits/vals mismatch")
                self.lookup[(code, length)] = vals[k]
                self.enc[vals[k]] = (code, length)
                k += 1
                code += 1
            code <<= 1


class _BitReader:
    """Entropy-coded segment reader: 0xFF00 unstuffing, stops at any
    other marker (the caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        # single-byte fill: bounds read-ahead to one byte so align()
        # at a restart boundary leaves pos exactly at the RSTn marker
        if self.pos >= len(self.data):
            raise ValueError("jpeg: truncated entropy data")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                self.data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError("jpeg: truncated entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")

    def align(self) -> None:
        self.bitbuf = 0
        self.nbits = 0


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w) uint8 grayscale or (h, w, 3) uint8
    RGB. Malformed input raises ValueError, never anything else."""
    return _never_raises(_decode_jpeg, data)


def _decode_jpeg(data: bytes) -> np.ndarray:
    """Sequential-baseline (SOF0/SOF1) and PROGRESSIVE (SOF2) decode.

    Both modes run through the same architecture: every scan decodes
    into per-component zigzag COEFFICIENT buffers (progressive scans
    accumulate spectral bands / successive-approximation bits across
    many SOS segments; a baseline scan is simply the one full-band
    Ss=0..63 Ah=Al=0 pass), and dequantize + IDCT happen once at the
    end over the finished coefficients."""
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("jpeg: bad SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)], progressive)
    restart_interval = 0
    st: "_JpegState | None" = None
    saw_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            if saw_scan:
                # trailing garbage after a decoded scan: accept what
                # we have (crawl files often lack a clean EOI)
                break
            raise ValueError("jpeg: marker expected")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # fill bytes before a marker are legal
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if pos + 2 > len(data):
            raise ValueError("jpeg: truncated marker segment")
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i:i + n]
                if len(raw) < n:
                    raise ValueError("jpeg: truncated DQT")
                if pq:
                    tbl = np.frombuffer(raw, dtype=">u2").astype(np.int64)
                else:
                    tbl = np.frombuffer(raw, dtype=np.uint8).astype(
                        np.int64)
                quant[tq] = tbl
                i += n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            if len(body) < 6:
                raise ValueError("jpeg: truncated SOF")
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * nc:
                raise ValueError("jpeg: truncated SOF components")
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(
                    f"jpeg: unsupported component count {nc}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(
                    ">BBB", body, 6 + 3 * ci)
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fh, fw, comps, marker == 0xC2)
            st = _JpegState(fh, fw, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "jpeg: only baseline/progressive huffman supported")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                if len(vals) < nv:
                    raise ValueError("jpeg: truncated DHT")
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(
                    bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if st is None:
                raise ValueError("jpeg: SOS before SOF")
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                raise ValueError("jpeg: truncated SOS")
            ns = body[0]
            scomps = []
            for si in range(ns):
                cs, tables = body[1 + 2 * si], body[2 + 2 * si]
                scomps.append((cs, tables >> 4, tables & 0x0F))
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not frame[3] and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("jpeg: bad baseline scan header")
            if ss > se or se > 63 or al > 13:
                raise ValueError("jpeg: bad spectral selection")
            reader = _BitReader(data, pos + seglen)
            _decode_scan(reader, st, scomps, ss, se, ah, al,
                         quant, huff_dc, huff_ac, restart_interval,
                         data)
            reader.align()
            pos = reader.pos
            saw_scan = True
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise ValueError("jpeg: missing SOF/SOS")
    return st.assemble(quant)


class _JpegState:
    """Per-component coefficient buffers (zigzag order) shared across
    scans, sized to the MCU-padded block grid."""

    def __init__(self, fh: int, fw: int, comps):
        if fh == 0 or fw == 0 or fh * fw > MAX_PIXELS:
            raise ValueError("jpeg: bad dimensions")
        self.fh, self.fw, self.comps = fh, fw, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        if self.hmax == 0 or self.vmax == 0 \
                or self.hmax > 4 or self.vmax > 4:
            raise ValueError("jpeg: bad sampling factors")
        self.mcux = (fw + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcuy = (fh + 8 * self.vmax - 1) // (8 * self.vmax)
        self.coefs: dict[int, np.ndarray] = {}
        self.grid: dict[int, tuple[int, int, int, int, int]] = {}
        total_cells = 0
        for (cid, hs, vs, tq) in comps:
            if hs == 0 or vs == 0:
                raise ValueError("jpeg: bad sampling factors")
            bw_full = self.mcux * hs
            bh_full = self.mcuy * vs
            total_cells += bh_full * bw_full * 64
        if total_cells > MAX_COEF_CELLS:
            raise ValueError("jpeg: dimensions exceed decode budget")
        for (cid, hs, vs, tq) in comps:
            bw_full = self.mcux * hs
            bh_full = self.mcuy * vs
            # non-interleaved scans cover only the component's own
            # ceil(dim/8) grid (no MCU padding)
            cw = (fw * hs + self.hmax - 1) // self.hmax
            ch = (fh * vs + self.vmax - 1) // self.vmax
            self.grid[cid] = (bw_full, bh_full,
                              (cw + 7) // 8, (ch + 7) // 8, tq)
            # int32: decoded coefficients fit (12-bit magnitudes
            # shifted by Al <= 15, clamped at assignment for
            # adversarial streams); halves the dominant buffer
            self.coefs[cid] = np.zeros((bh_full * bw_full, 64),
                                       dtype=np.int32)

    def assemble(self, quant: dict[int, np.ndarray]) -> np.ndarray:
        planes = []
        for (cid, hs, vs, tq) in self.comps:
            if tq not in quant:
                raise ValueError("jpeg: missing quant table")
            bw_full, bh_full, _, _, _ = self.grid[cid]
            coefs = self.coefs[cid]
            q = quant[tq]
            plane = np.empty((bh_full * 8, bw_full * 8),
                             dtype=np.float64)
            # IDCT in block-row chunks (~2M cells of temporaries per
            # chunk) — per-block independent, so chunking is
            # bit-exact vs the all-at-once einsum
            step = max(1, (1 << 21) // max(1, bw_full * 64))
            for r0 in range(0, bh_full, step):
                r1 = min(bh_full, r0 + step)
                zz = coefs[r0 * bw_full:r1 * bw_full] \
                    .astype(np.int64) * q  # dequant in zigzag order
                nat = np.zeros_like(zz)
                nat[:, _ZIGZAG] = zz
                blocks = nat.reshape(-1, 8, 8).astype(np.float64)
                # IDCT: out = M.T @ B @ M
                sp = np.einsum("ux,nuv,vy->nxy",
                               _DCT_M, blocks, _DCT_M)
                plane[r0 * 8:r1 * 8] = (
                    sp.reshape(r1 - r0, bw_full, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape((r1 - r0) * 8, bw_full * 8))
            if hs < self.hmax or vs < self.vmax:
                plane = np.repeat(
                    np.repeat(plane, self.vmax // vs, axis=0),
                    self.hmax // hs, axis=1)
            planes.append(plane[:self.fh, :self.fw])
        if len(planes) == 1:
            y = np.clip(np.round(planes[0] + 128), 0, 255)
            return y.astype(np.uint8)
        if len(planes) == 3:
            # row-chunked colorspace conversion into a preallocated
            # uint8 output (element-wise, so chunking is bit-exact)
            out = np.empty((self.fh, self.fw, 3), dtype=np.uint8)
            step = max(1, (1 << 22) // max(1, self.fw))
            for r0 in range(0, self.fh, step):
                y = planes[0][r0:r0 + step] + 128
                cb = planes[1][r0:r0 + step]
                cr = planes[2][r0:r0 + step]
                r = y + 1.402 * cr
                g = y - 0.344136 * cb - 0.714136 * cr
                b = y + 1.772 * cb
                rgb = np.stack([r, g, b], axis=2)
                out[r0:r0 + step] = np.clip(
                    np.round(rgb), 0, 255).astype(np.uint8)
            return out
        raise ValueError(
            f"jpeg: unsupported component count {len(planes)}")


def _decode_scan(reader, st: _JpegState, scomps, ss, se, ah, al,
                 quant, huff_dc, huff_ac, restart_interval,
                 data: bytes) -> None:
    by_id = {cid: (hs, vs, tq) for (cid, hs, vs, tq) in st.comps}
    for (cs, td, ta) in scomps:
        if cs not in by_id:
            raise ValueError("jpeg: scan references unknown component")
        if ss == 0 and ah == 0 and td not in huff_dc:
            raise ValueError("jpeg: missing Huffman table")
        if se > 0 and ta not in huff_ac:
            raise ValueError("jpeg: missing Huffman table")

    pred = {cs: 0 for (cs, _, _) in scomps}
    eobrun = [0]

    def restart_check(unit_count: int) -> None:
        nonlocal pred
        if restart_interval and unit_count \
                and unit_count % restart_interval == 0:
            reader.align()
            if reader.pos + 1 < len(data) \
                    and data[reader.pos] == 0xFF \
                    and 0xD0 <= data[reader.pos + 1] <= 0xD7:
                reader.pos += 2
            pred = {cs: 0 for (cs, _, _) in scomps}
            eobrun[0] = 0

    try:
        if len(scomps) == 1:
            # non-interleaved: the component's own block grid
            cs, td, ta = scomps[0]
            hs, vs, tq = by_id[cs]
            bw_full, _, bw, bh, _ = st.grid[cs]
            coefs = st.coefs[cs]
            unit = 0
            for by in range(bh):
                for bx in range(bw):
                    restart_check(unit)
                    unit += 1
                    _decode_block(
                        reader, coefs[by * bw_full + bx],
                        cs, pred, eobrun, ss, se, ah, al,
                        huff_dc.get(td), huff_ac.get(ta))
        else:
            # interleaved MCU order (baseline full scans, progressive
            # DC scans)
            if ss != 0 or (se != 0 and se != 63):
                raise ValueError(
                    "jpeg: interleaved AC progressive scan")
            unit = 0
            for my in range(st.mcuy):
                for mx in range(st.mcux):
                    restart_check(unit)
                    unit += 1
                    for (cs, td, ta) in scomps:
                        hs, vs, tq = by_id[cs]
                        bw_full = st.grid[cs][0]
                        coefs = st.coefs[cs]
                        for byi in range(vs):
                            for bxi in range(hs):
                                row = my * vs + byi
                                col = mx * hs + bxi
                                _decode_block(
                                    reader,
                                    coefs[row * bw_full + col],
                                    cs, pred, eobrun, ss, se, ah, al,
                                    huff_dc.get(td), huff_ac.get(ta))
    except _RestartMarker:
        raise ValueError("jpeg: unexpected restart marker")


_I32_MIN, _I32_MAX = -1 << 31, (1 << 31) - 1


def _c32(v: int) -> int:
    """Clamp a Python int into int32 before assigning into the
    coefficient buffer.  Only reachable on adversarial streams
    (conforming JPEG DC/AC magnitudes fit 12 bits shifted by
    Al <= 15); without the clamp numpy raises OverflowError on
    out-of-range scalar assignment, escaping the ValueError
    contract."""
    return _I32_MIN if v < _I32_MIN else (
        _I32_MAX if v > _I32_MAX else v)


def _decode_block(reader, coef, cs, pred, eobrun, ss, se, ah, al,
                  dc_table, ac_table) -> None:
    """One 8x8 block's contribution for the current scan (T.81 F.2.2
    sequential; G.1.2 progressive first/refinement passes). ``coef``
    is the block's 64-entry zigzag coefficient row."""
    if ss == 0:
        if ah == 0:  # DC first (or baseline)
            t = reader.decode_symbol(dc_table)
            if t > 16:
                raise ValueError("jpeg: bad DC category")
            diff = _extend(reader.read_bits(t), t)
            pred[cs] += diff
            coef[0] = _c32(pred[cs] << al)
        else:  # DC refinement: one bit
            if reader.read_bit():
                coef[0] |= 1 << al
        k = 1
        if se == 0:
            return
    else:
        k = ss

    if ah == 0:  # AC first pass (covers baseline: al == 0)
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        while k <= se:
            rs = reader.decode_symbol(ac_table)
            r, sz = rs >> 4, rs & 0x0F
            if sz == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += reader.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("jpeg: AC index overflow")
            coef[k] = _c32(_extend(reader.read_bits(sz), sz) << al)
            k += 1
        return

    # AC refinement (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine)
    p1 = 1 << al
    m1 = -1 << al

    def refine_existing(idx: int) -> None:
        if reader.read_bit():
            if (coef[idx] & p1) == 0:
                coef[idx] += p1 if coef[idx] >= 0 else m1

    if eobrun[0] > 0:
        eobrun[0] -= 1
        while k <= se:
            if coef[k] != 0:
                refine_existing(k)
            k += 1
        return
    while k <= se:
        rs = reader.decode_symbol(ac_table)
        r, sz = rs >> 4, rs & 0x0F
        newval = 0
        if sz == 0:
            if r < 15:
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += reader.read_bits(r)
                # refine the rest of the band, then done
                while k <= se:
                    if coef[k] != 0:
                        refine_existing(k)
                    k += 1
                return
            # r == 15: ZRL — skip 16 zero-history positions
        else:
            if sz != 1:
                raise ValueError("jpeg: bad AC refinement size")
            newval = p1 if reader.read_bit() else m1
        # advance past r zero-history coefficients, refining nonzeros
        while k <= se:
            if coef[k] != 0:
                refine_existing(k)
            else:
                if r == 0:
                    if newval:
                        coef[k] = newval
                    k += 1
                    break
                r -= 1
            k += 1


# ------------------------------------------------------------ encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc <<= (8 - self.n)
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                  dc: _HuffTable, ac: _HuffTable) -> int:
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, length = dc.enc[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac.enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac.enc[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac.enc[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _dht_segment(tc: int, th: int, bits: list[int],
                 vals: list[int]) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(img: np.ndarray,
                quant: np.ndarray | None = None) -> bytes:
    """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB -> baseline JPEG.

    RGB encodes as YCbCr 4:4:4; all components share the Annex-K
    luminance Huffman tables (legal, keeps the constant surface
    small). quant defaults to STD_LUMA_QUANT; pass np.ones((8, 8)) for
    the bit-exact flat-image path the driver oracle relies on."""
    arr = np.asarray(img, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if quant is None:
        quant = STD_LUMA_QUANT
    qt = np.asarray(quant, dtype=np.int32).reshape(8, 8)

    if gray:
        comps = [arr.astype(np.float64) - 128.0]
    else:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        comps = [y - 128.0, cb, cr]

    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    padded = []
    for p in comps:
        pp = np.empty((ph, pw))
        pp[:h, :w] = p
        pp[h:, :w] = p[h - 1:h, :]  # edge replicate
        pp[:, w:] = pp[:, w - 1:w]
        padded.append(pp)

    dc = _HuffTable(_STD_DC_BITS, _STD_DC_VALS)
    ac = _HuffTable(_STD_AC_BITS, _STD_AC_VALS)
    bw = _BitWriter()
    preds = [0] * len(padded)
    # zz[k] = natural[_ZIGZAG[k]] — _ZIGZAG maps zigzag pos -> natural
    qt_zz = qt.reshape(64)[_ZIGZAG]
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, p in enumerate(padded):
                block = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                coef = np.round(
                    _fdct2(block).reshape(64)[_ZIGZAG] / qt_zz
                ).astype(np.int32)
                preds[ci] = _encode_block(bw, coef, preds[ci], dc, ac)
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" \
        + bytes(int(v) for v in qt_zz)
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])  # 4:4:4, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _STD_DC_BITS, _STD_DC_VALS)
    out += _dht_segment(1, 0, _STD_AC_BITS, _STD_AC_VALS)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------ helpers


def resize_area(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic area-average resize of a (h, w) uint8 image:
    output pixel (Y, X) averages the source box [Y*h/oh, (Y+1)*h/oh) ×
    [X*w/ow, (X+1)*w/ow) with integer floor/ceil bounds and
    floor(sum/count) rounding — integer math only, so the numpy
    oracle mirror is bit-identical on every platform."""
    h, w = img.shape[:2]
    if out_w <= 0 or out_h <= 0 or h == 0 or w == 0:
        raise ValueError("resize: bad dimensions")
    out = np.empty((out_h, out_w), dtype=np.uint8)
    src = img.astype(np.uint64)
    ys = [(y * h) // out_h for y in range(out_h + 1)]
    xs = [(x * w) // out_w for x in range(out_w + 1)]
    for y in range(out_h):
        y0, y1 = ys[y], max(ys[y + 1], ys[y] + 1)
        for x in range(out_w):
            x0, x1 = xs[x], max(xs[x + 1], xs[x] + 1)
            box = src[y0:y1, x0:x1]
            out[y, x] = int(box.sum()) // box.size
    return out


def dhash64(gray: np.ndarray) -> int:
    """64-bit difference hash: area-resize to 9x8, set bit (row*8+col)
    when pixel[row, col] < pixel[row, col+1] (strict less keeps flat
    images at hash 0). The standard perceptual near-dup signature for
    image corpora; hamming distance ≈ visual difference."""
    small = resize_area(gray, 9, 8).astype(np.int32)
    bits = (small[:, :8] < small[:, 1:]).reshape(-1)
    h = 0
    for i, b in enumerate(bits):
        if b:
            h |= 1 << i
    return h


def to_gray(img: np.ndarray) -> np.ndarray:
    """uint8 image of any channel count -> (h, w) uint8 luma.
    BT.601 integer approximation (77R + 150G + 29B + 128) >> 8 for
    color; channel 0 for gray/gray+alpha."""
    if img.ndim == 2:
        return img
    ch = img.shape[2]
    if ch in (1, 2):
        return img[:, :, 0]
    r = img[:, :, 0].astype(np.uint32)
    g = img[:, :, 1].astype(np.uint32)
    b = img[:, :, 2].astype(np.uint32)
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


# ------------------------------------------------- progressive encoder


def _quantized_block_grid(img: np.ndarray, qt: np.ndarray):
    """(per-component list of (n_blocks_y, n_blocks_x, zz int arrays
    [by*bw+bx, 64]), h, w, nc) — shared FDCT/quant front half of both
    encoders."""
    arr = np.asarray(img, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        comps = [arr.astype(np.float64) - 128.0]
    else:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b - 128.0,
            -0.168736 * r - 0.331264 * g + 0.5 * b,
            0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    qt_zz = qt.reshape(64)[_ZIGZAG].astype(np.float64)
    grids = []
    for p in comps:
        pp = np.empty((ph, pw))
        pp[:h, :w] = p
        pp[h:, :w] = p[h - 1:h, :]
        pp[:, w:] = pp[:, w - 1:w]
        zz = np.empty((ph // 8 * (pw // 8), 64), dtype=np.int64)
        i = 0
        for by in range(ph // 8):
            for bx in range(pw // 8):
                block = pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                zz[i] = np.round(
                    _fdct2(block).reshape(64)[_ZIGZAG] / qt_zz
                ).astype(np.int64)
                i += 1
        grids.append((ph // 8, pw // 8, zz))
    return grids, h, w, len(comps)


def _sos_segment(comp_tables: list[tuple[int, int, int]],
                 ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(comp_tables)])
    for (cid, td, ta) in comp_tables:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body


def _shift_toward_zero(v: int, al: int) -> int:
    return -((-v) >> al) if v < 0 else v >> al


def encode_jpeg_progressive(img: np.ndarray,
                            quant: np.ndarray | None = None) -> bytes:
    """(h, w) uint8 gray or (h, w, 3) uint8 RGB -> PROGRESSIVE (SOF2)
    JPEG with a libjpeg-like scan script exercising every progressive
    decode path: interleaved DC first at Al=1, per-component spectral
    AC bands at Al=1, per-component AC refinement to Al=0, and a DC
    refinement scan. All components share the Annex-K luminance
    Huffman tables. EOB runs never span blocks (EOBRUN is flushed per
    block — legal, simpler; a hand-built multi-block EOBRUN fixture
    covers the decoder's span path in tests)."""
    if quant is None:
        quant = STD_LUMA_QUANT
    qt = np.asarray(quant, dtype=np.int32).reshape(8, 8)
    grids, h, w, nc = _quantized_block_grid(img, qt)

    dc = _HuffTable(_STD_DC_BITS, _STD_DC_VALS)
    ac = _HuffTable(_STD_AC_BITS, _STD_AC_VALS)
    qt_zz = qt.reshape(64)[_ZIGZAG]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" \
        + bytes(int(v) for v in qt_zz)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _STD_DC_BITS, _STD_DC_VALS)
    out += _dht_segment(1, 0, _STD_AC_BITS, _STD_AC_VALS)

    def emit_scan(comp_tables, ss, se, ah, al, writer_fn) -> None:
        nonlocal out
        out += _sos_segment(comp_tables, ss, se, ah, al)
        bw = _BitWriter()
        writer_fn(bw)
        bw.flush()
        out += bw.out

    # --- scan 1: interleaved DC first, Al=1 (point transform >> 1,
    # arithmetic shift per T.81 / libjpeg forward_DCT semantics)
    def dc_first(bw: _BitWriter) -> None:
        preds = [0] * nc
        n_blocks = grids[0][0] * grids[0][1]
        for bi in range(n_blocks):
            for ci in range(nc):
                v = int(grids[ci][2][bi, 0]) >> 1  # arithmetic
                diff = v - preds[ci]
                preds[ci] = v
                t = _category(diff)
                code, length = dc.enc[t]
                bw.write(code, length)
                if t:
                    bw.write(diff if diff >= 0
                             else diff + (1 << t) - 1, t)

    emit_scan([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 0, 1,
              dc_first)

    # --- per-component AC first passes at Al=1, two spectral bands
    def ac_first(ci: int, ss: int, se: int, al: int):
        def run(bw: _BitWriter) -> None:
            zz = grids[ci][2]
            for bi in range(zz.shape[0]):
                vals = [_shift_toward_zero(int(zz[bi, k]), al)
                        for k in range(ss, se + 1)]
                last = -1
                for i, v in enumerate(vals):
                    if v:
                        last = i
                r = 0
                for i in range(last + 1):
                    v = vals[i]
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        code, length = ac.enc[0xF0]
                        bw.write(code, length)
                        r -= 16
                    s_ = _category(v)
                    code, length = ac.enc[(r << 4) | s_]
                    bw.write(code, length)
                    bw.write(v if v >= 0 else v + (1 << s_) - 1, s_)
                    r = 0
                if last < len(vals) - 1:
                    code, length = ac.enc[0x00]  # EOB (run of 1)
                    bw.write(code, length)
        return run

    for ci in range(nc):
        for (ss, se) in ((1, 5), (6, 63)):
            emit_scan([(ci + 1, 0, 0)], ss, se, 0, 1, ac_first(ci, ss, se, 1))

    # --- per-component AC refinement Ah=1 -> Al=0
    def ac_refine(ci: int, ss: int, se: int, ah: int, al: int):
        def run(bw: _BitWriter) -> None:
            zz = grids[ci][2]
            for bi in range(zz.shape[0]):
                absv = [abs(int(zz[bi, k])) >> al
                        for k in range(ss, se + 1)]
                signs = [int(zz[bi, k]) > 0 for k in range(ss, se + 1)]
                eob = -1
                for i, v in enumerate(absv):
                    if v == 1:
                        eob = i
                r = 0
                br: list[int] = []
                for i, v in enumerate(absv):
                    if i > eob:
                        break
                    if v == 0:
                        r += 1
                        continue
                    # libjpeg order: pending ZRLs flush BEFORE this
                    # coefficient is handled — a correction bit
                    # buffered first would ride a ZRL whose 16-zero
                    # span doesn't cover its position
                    while r > 15:
                        code, length = ac.enc[0xF0]
                        bw.write(code, length)
                        for bit in br:
                            bw.write(bit, 1)
                        br = []
                        r -= 16
                    if v > 1:  # previously nonzero: correction bit
                        br.append(v & 1)
                        continue
                    code, length = ac.enc[(r << 4) | 1]
                    bw.write(code, length)
                    bw.write(1 if signs[i] else 0, 1)
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                    r = 0
                # trailing corrections ride on a per-block EOB
                tail_bits = [absv[i] & 1
                             for i in range(eob + 1, len(absv))
                             if absv[i] > 1]
                if eob < len(absv) - 1:
                    code, length = ac.enc[0x00]
                    bw.write(code, length)
                    for bit in tail_bits:
                        bw.write(bit, 1)
        return run

    for ci in range(nc):
        emit_scan([(ci + 1, 0, 0)], 1, 63, 1, 0,
                  ac_refine(ci, 1, 63, 1, 0))

    # --- final DC refinement: Ah=1, Al=0 — one raw bit per block
    def dc_refine(bw: _BitWriter) -> None:
        n_blocks = grids[0][0] * grids[0][1]
        for bi in range(n_blocks):
            for ci in range(nc):
                bw.write(int(grids[ci][2][bi, 0]) & 1, 1)

    emit_scan([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 1, 0,
              dc_refine)

    out += b"\xff\xd9"
    return bytes(out)


# ===================================================================
# BMP
# ===================================================================
#
# .bmp is in the reference's image extension list (image.go:36).
# Subset: BITMAPINFOHEADER (40-byte DIB), uncompressed (BI_RGB),
# 24-bit BGR or 8-bit paletted, bottom-up or top-down rows.  Rows pad
# to 4 bytes.  Decode-bomb capped like PNG/JPEG.


def _decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> uint8 array (h, w) gray-palette or (h, w, 3) RGB.
    Raises ValueError on anything outside the subset."""
    import struct as _s

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("bmp: bad magic or truncated")
    pix_off = _s.unpack_from("<I", data, 10)[0]
    hdr_size = _s.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("bmp: unsupported DIB header")
    w, h = _s.unpack_from("<ii", data, 18)
    planes, bpp = _s.unpack_from("<HH", data, 26)
    comp = _s.unpack_from("<I", data, 30)[0]
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0 or w * h > MAX_PIXELS:
        raise ValueError("bmp: bad dimensions")
    if planes != 1 or comp != 0 or bpp not in (8, 24):
        raise ValueError("bmp: unsupported format")
    if bpp == 8:
        n_colors = _s.unpack_from("<I", data, 46)[0] or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            data[pal_off:pal_off + 4 * n_colors], dtype=np.uint8)
        if pal.size < 4 * n_colors:
            raise ValueError("bmp: truncated palette")
        pal = pal.reshape(-1, 4)[:, :3][:, ::-1]  # BGRA -> RGB
        stride = (w + 3) & ~3
        need = stride * h
        body = data[pix_off:pix_off + need]
        if len(body) < need:
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("bmp: palette index out of range")
        out = pal[idx]
        if not top_down:
            out = out[::-1]
        # gray palette collapses to a gray array
        if bool((pal[:, 0] == pal[:, 1]).all()
                and (pal[:, 1] == pal[:, 2]).all()):
            return np.ascontiguousarray(out[:, :, 0])
        return np.ascontiguousarray(out)
    stride = (w * 3 + 3) & ~3
    need = stride * h
    body = data[pix_off:pix_off + need]
    if len(body) < need:
        raise ValueError("bmp: truncated pixel data")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)
    out = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        out = out[::-1]
    return np.ascontiguousarray(out)


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 (h, w) gray or (h, w, 3) RGB -> BMP bytes (24-bit BI_RGB
    for color, 8-bit gray palette for 2-D input; bottom-up)."""
    import struct as _s

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        h, w = arr.shape
        stride = (w + 3) & ~3
        pal = b"".join(bytes((v, v, v, 0)) for v in range(256))
        body = np.zeros((h, stride), dtype=np.uint8)
        body[:, :w] = arr[::-1]
        pix_off = 14 + 40 + len(pal)
        dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                      stride * h, 2835, 2835, 256, 0)
        hdrs = (b"BM"
                + _s.pack("<IHHI", pix_off + stride * h, 0, 0, pix_off)
                + dib + pal)
        return hdrs + body.tobytes()
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    pix_off = 14 + 40
    dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                  stride * h, 2835, 2835, 0, 0)
    return (b"BM"
            + _s.pack("<IHHI", pix_off + stride * h, 0, 0, pix_off)
            + dib + body.tobytes())


# ===================================================================
# GIF
# ===================================================================
#
# .gif is in the reference's image extension list.  Subset: GIF87a/
# 89a, global or local color table, interlace, first frame only
# (curation signals need pixels, not animation); extensions skipped
# by sub-block length.  LZW decode is the GIF variant (variable code
# width 3..12, CLEAR/EOI codes).


def _gif_lzw_schedule(min_code: int, width: int, next_code: int,
                      first: bool, max_codes: int):
    """Per-code width schedule for the next ``max_codes`` data codes
    given the current decoder state: the reference grows the table by
    one entry per decoded code (except the first code after a reset,
    when ``prev`` is None) until 4096, bumping the code width at
    powers of two — fully deterministic, so a whole run of codes can
    be located without reading them one at a time.  Returns
    (widths array, end state (width, next_code))."""
    widths = np.empty(max_codes, dtype=np.int64)
    for j in range(max_codes):
        widths[j] = width
        if (not first or j >= 1) and next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    return widths, (width, next_code)


#: fresh-after-CLEAR schedules are identical per min_code — cache them
_GIF_SCHEDULE_CACHE: dict = {}

_GIF_LZW_CHUNK = 4400


def _gif_lzw_decode(min_code: int, data: bytes, max_pixels: int) -> bytes:
    """Vectorized GIF LZW decode — bit-identical to the per-byte loop
    in tests/reference/imgcodec.py (the parity/fuzz pin in
    tests/test_gif_lzw_opt.py):

    1. code boundaries follow the deterministic width schedule
       (``_gif_lzw_schedule``), so the variable-width codes are
       extracted in vectorized chunks instead of a per-byte
       accumulator loop; a CLEAR/EOI inside the chunk truncates it
       and resets/ends the stream exactly like the reference;
    2. a light Python loop per CODE (not per output byte) maintains
       the table as parent/first-byte/last-byte/length integer
       arrays, replicating the reference validity checks and the
       max_pixels overflow check in the exact original order;
    3. output bytes materialize with a vectorized backward
       chain-walk (every emitted code writes its chain in parallel,
       one numpy pass per chain-depth level) instead of per-entry
       bytes concatenation.

    Measured ~31 us/px -> ~0.1 us/px on the bench fixture; the GIF
    decode-bomb budget (GIF_MAX_PIXELS) derives from this cost."""
    if not (2 <= min_code <= 11):
        raise ValueError("gif: bad LZW minimum code size")
    clear = 1 << min_code
    if clear > 256:
        # the reference loop built its root table with bytes((i,))
        # and raised this exact CPython error for min_code 9..11;
        # callers surface it as a decode-failure row — replicated
        raise ValueError("bytes must be in range(0, 256)")
    eoi = clear + 1
    total_bits = 8 * len(data)
    buf = np.frombuffer(data, dtype=np.uint8)

    cap = 4096
    parent = np.full(cap, -1, dtype=np.int32)
    first_b = np.zeros(cap, dtype=np.uint8)
    last_b = np.zeros(cap, dtype=np.uint8)
    length = np.zeros(cap, dtype=np.int64)
    first_b[:clear] = np.arange(clear, dtype=np.uint8)
    last_b[:clear] = np.arange(clear, dtype=np.uint8)
    length[:clear] = 1
    # NOTE on CLEAR: the reference rebuilds the table, but slots >=
    # clear+2 are unreachable until this segment recreates them
    # (codes beyond next_code are rejected), so the arrays are reused

    emitted: list[np.ndarray] = []
    out_chunks: list[np.ndarray] = []

    def _flush_emitted():
        # expand THIS segment's emitted codes before a CLEAR reuses
        # table slots (entries are only valid within their segment)
        if not emitted:
            return
        emit = np.concatenate(emitted)
        emitted.clear()
        lens = length[emit]
        ends = np.cumsum(lens)
        out = np.empty(int(ends[-1]), dtype=np.uint8)
        pos = ends - 1
        cur = emit.astype(np.int32)
        active = np.arange(len(emit))
        while len(active):
            out[pos[active]] = last_b[cur[active]]
            pos[active] -= 1
            cur[active] = parent[cur[active]]
            active = active[cur[active] >= 0]
        out_chunks.append(out)

    out_len = 0
    bitpos = 0
    width, next_code, prev = min_code + 1, clear + 2, -1
    done = False
    try_fast = True
    w0 = min_code + 1

    def _extract(off0, widths_arr):
        offs = off0 + np.concatenate(
            ([0], np.cumsum(widths_arr)))[:-1]
        byte_i = (offs >> 3).astype(np.int64)
        i1 = np.minimum(byte_i + 1, len(buf) - 1)
        i2 = np.minimum(byte_i + 2, len(buf) - 1)
        v = (buf[byte_i].astype(np.uint32)
             | (np.where(byte_i + 1 < len(buf), buf[i1], 0)
                .astype(np.uint32) << np.uint32(8))
             | (np.where(byte_i + 2 < len(buf), buf[i2], 0)
                .astype(np.uint32) << np.uint32(16)))
        return offs, ((v >> (offs & 7).astype(np.uint32))
                      & ((np.uint32(1) << widths_arr.astype(np.uint32))
                         - np.uint32(1))).astype(np.int64)

    while not done and bitpos + width <= total_bits:
        # ---- fast path: streams that reset before every pixel
        # (this repo's own encoder emits CLEAR per code; segments of
        # one code would otherwise pay the schedule machinery per
        # pixel).  While the state is width-stable (w0, fresh table)
        # the strict (CLEAR data)* prefix is decoded with pure
        # vector ops: the data codes ARE the output bytes.
        if try_fast and width == w0 and next_code == clear + 2:
            n_avail = (total_bits - bitpos) // w0
            k = int(min(n_avail, 1 << 16))
            if k >= 2:
                _, cods = _extract(
                    bitpos, np.full(k, w0, dtype=np.int64))
                eoi_pos = np.nonzero(cods == eoi)[0]
                limit = int(eoi_pos[0]) if len(eoi_pos) else k
                m_full = limit // 2
                pair_ok = (cods[0:2 * m_full:2] == clear) \
                    & (cods[1:2 * m_full:2] != clear)
                viol = np.nonzero(~pair_ok)[0]
                m = int(viol[0]) if len(viol) else m_full
                datas = cods[1:2 * m:2]
                bad = np.nonzero(datas >= clear)[0]
                p_bad = int(bad[0]) if len(bad) else m
                j_over = max_pixels - out_len
                if p_bad <= j_over and p_bad < m:
                    raise ValueError("gif: bad LZW code")
                if j_over < m:
                    raise ValueError(
                        "gif: pixel data exceeds descriptor")
                if m:
                    _flush_emitted()
                    out_chunks.append(datas.astype(np.uint8))
                    out_len += m
                    prev = int(datas[-1])
                bitpos += w0 * 2 * m
                if len(eoi_pos) and (
                        limit == 2 * m
                        or (limit == 2 * m + 1
                            and int(cods[limit - 1]) == clear)):
                    done = True          # [CLEAR] EOI — ref returns
                    continue
                # stay in fast mode only after a clean full window;
                # violations, EOI at the wrong parity, odd trailing
                # codes and window tails resume the general path
                # (which re-arms the fast path at the next tiny
                # CLEAR segment)
                try_fast = (not len(viol)) and (not len(eoi_pos)) \
                    and (2 * m == k)
                continue
            # fall through to the general path for tiny tails
        fresh = prev < 0 and next_code == clear + 2 \
            and width == min_code + 1
        if fresh:
            cached = _GIF_SCHEDULE_CACHE.get(min_code)
            if cached is None:
                cached = _gif_lzw_schedule(
                    min_code, width, next_code, True, _GIF_LZW_CHUNK)
                _GIF_SCHEDULE_CACHE[min_code] = cached
            widths_sched, end_state = cached
        else:
            widths_sched, end_state = _gif_lzw_schedule(
                min_code, width, next_code, prev < 0, _GIF_LZW_CHUNK)

        offs = bitpos + np.concatenate(
            ([0], np.cumsum(widths_sched)))[:-1]
        fits = offs + widths_sched <= total_bits
        ncodes = int(fits.sum())
        if ncodes == 0:
            break
        offs = offs[:ncodes]
        w = widths_sched[:ncodes]
        byte_i = (offs >> 3).astype(np.int64)
        i1 = np.minimum(byte_i + 1, len(buf) - 1)
        i2 = np.minimum(byte_i + 2, len(buf) - 1)
        v = (buf[byte_i].astype(np.uint32)
             | (np.where(byte_i + 1 < len(buf), buf[i1], 0)
                .astype(np.uint32) << np.uint32(8))
             | (np.where(byte_i + 2 < len(buf), buf[i2], 0)
                .astype(np.uint32) << np.uint32(16)))
        codes = ((v >> (offs & 7).astype(np.uint32))
                 & ((np.uint32(1) << w.astype(np.uint32))
                    - np.uint32(1))).astype(np.int64)
        stop = np.nonzero((codes == clear) | (codes == eoi))[0]
        seg_end = int(stop[0]) if len(stop) else ncodes
        seg = codes[:seg_end]

        # per-code table bookkeeping (reference semantics, in order)
        seg_emit = np.empty(len(seg), dtype=np.int32)
        n_emit = 0
        for j in range(len(seg)):
            code = int(seg[j])
            if code < clear or (eoi + 1 <= code < next_code):
                entry = code
                out_len += int(length[entry])
                if out_len > max_pixels:
                    raise ValueError(
                        "gif: pixel data exceeds descriptor")
                seg_emit[n_emit] = entry
                n_emit += 1
                if prev >= 0 and next_code < 4096:
                    parent[next_code] = prev
                    first_b[next_code] = first_b[prev]
                    last_b[next_code] = first_b[entry]
                    length[next_code] = length[prev] + 1
                    next_code += 1
                prev = entry
            elif code == next_code and prev >= 0:
                # KwKwK: entry = prev + prev[:1], created as used
                node = next_code
                parent[node] = prev
                first_b[node] = first_b[prev]
                last_b[node] = first_b[prev]
                length[node] = length[prev] + 1
                out_len += int(length[node])
                if out_len > max_pixels:
                    raise ValueError(
                        "gif: pixel data exceeds descriptor")
                seg_emit[n_emit] = node
                n_emit += 1
                next_code += 1
                prev = node
            else:
                raise ValueError("gif: bad LZW code")
        if n_emit:
            emitted.append(seg_emit[:n_emit].copy())

        if seg_end < ncodes:                   # CLEAR or EOI
            bitpos = int(offs[seg_end]) + int(w[seg_end])
            if codes[seg_end] == eoi:
                done = True
            else:                              # CLEAR: reset state
                _flush_emitted()
                width, next_code, prev = min_code + 1, clear + 2, -1
                # tiny segment before this CLEAR: likely the
                # reset-per-code stream shape — re-arm the fast path
                try_fast = seg_end <= 1
        elif ncodes == _GIF_LZW_CHUNK:         # long run: continue
            bitpos = int(offs[-1]) + int(w[-1])
            width, next_code = end_state
        else:                                  # data exhausted
            break

    _flush_emitted()
    if not out_chunks:
        return b""
    return np.concatenate(out_chunks).tobytes()


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> first frame as uint8 (h, w) gray-palette or
    (h, w, 3) RGB.  Raises ValueError outside the subset."""
    import struct as _s

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad magic or truncated")
    sw, sh, flags = _s.unpack_from("<HHB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
        if gct.size < 3 * n:
            raise ValueError("gif: truncated color table")
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    if sw * sh > GIF_MAX_PIXELS:
        raise ValueError("gif: bad dimensions")
    n_data = len(data)
    while pos < n_data:
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < n_data and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02x}")
        left, top, w, h, iflags = _s.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(
                data[pos:pos + 3 * n], dtype=np.uint8)
            if table.size < 3 * n:
                raise ValueError("gif: truncated color table")
            table = table.reshape(-1, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("gif: no color table")
        if w == 0 or h == 0 or w * h > GIF_MAX_PIXELS:
            raise ValueError("gif: bad frame dimensions")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < n_data and data[pos] != 0:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _gif_lzw_decode(min_code, bytes(lzw), w * h),
            dtype=np.uint8)
        if idx.size < w * h:
            raise ValueError("gif: truncated pixel data")
        idx = idx[:w * h].reshape(h, w)
        if iflags & 0x40:  # interlaced row order
            out_rows = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE:
                rows = range(start, h, step)
                for r in rows:
                    out_rows[r] = idx[src]
                    src += 1
            idx = out_rows
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("gif: palette index out of range")
        rgb = table[idx]
        if bool((table[:, 0] == table[:, 1]).all()
                and (table[:, 1] == table[:, 2]).all()):
            return np.ascontiguousarray(rgb[:, :, 0])
        return np.ascontiguousarray(rgb)
    raise ValueError("gif: no image descriptor")


def encode_gif(img: np.ndarray) -> bytes:
    """uint8 (h, w) gray or (h, w, 3) RGB (<=256 distinct colors) ->
    single-frame GIF89a.  The LZW stream emits CLEAR before every
    pixel code (spec-legal, keeps the code width fixed) so encode is
    simple and decode round-trips losslessly."""
    import struct as _s

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        idx = arr
        bits = 8
    else:
        colors, inverse = np.unique(
            arr.reshape(-1, 3), axis=0, return_inverse=True)
        if colors.shape[0] > 256:
            raise ValueError("gif: more than 256 distinct colors")
        bits = max(2, int(colors.shape[0] - 1).bit_length())
        pal = np.zeros((1 << bits, 3), dtype=np.uint8)
        pal[:colors.shape[0]] = colors
        idx = inverse.astype(np.uint16).reshape(arr.shape[:2])
    h, w = idx.shape
    min_code = max(2, bits)
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    acc = 0
    nbits = 0
    stream = bytearray()

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for v in idx.reshape(-1):
        emit(clear)
        emit(int(v))
    emit(eoi)
    if nbits:
        stream.append(acc & 0xFF)

    # global color table size field: 2<<n entries
    n_entries = pal.shape[0]
    size_field = max(0, (n_entries - 1).bit_length() - 1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + _s.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


# --- GIF animation ---------------------------------------------------

# budgets: a hostile GIF can claim thousands of frames; the composite
# path is pure numpy but the snapshots are materialized, so cap both
# the frame count and the total composited samples.
MAX_GIF_FRAMES = 256
MAX_GIF_SAMPLES = 1 << 26


def gif_animation(data: bytes) \
        -> tuple[list[np.ndarray], list[int], int]:
    """ValueError-only wrapper (module contract) over
    :func:`_gif_animation`."""
    return _never_raises(_gif_animation, data)


def _gif_animation(data: bytes) \
        -> tuple[list[np.ndarray], list[int], int]:
    """Animated GIF -> (composited RGB frames (h, w, 3) uint8,
    per-frame delays in centiseconds, loop count from the NETSCAPE
    extension; 0 = loop forever, -1 = no extension).

    Frames are composited onto the logical screen per the GIF89a
    disposal semantics: 0/1 leave the canvas, 2 restores the frame
    rect to the background color, 3 restores the pre-frame canvas.
    Transparent pixels (GCE flag) leave the underlying canvas
    untouched.  Divergence note: the initial canvas and disposal-2
    fill use the screen background COLOR (browsers composite over
    transparent); deterministic either way for curation signals.
    Raises ValueError outside the subset or over budget."""
    import struct as _s

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad magic or truncated")
    sw, sh, flags, bg_idx = _s.unpack_from("<HHBB", data, 6)
    if sw == 0 or sh == 0 or sw * sh > GIF_MAX_PIXELS:
        raise ValueError("gif: bad dimensions")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
        if gct.size < 3 * n:
            raise ValueError("gif: truncated color table")
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    bg = gct[bg_idx] if gct is not None and bg_idx < gct.shape[0] \
        else np.zeros(3, dtype=np.uint8)
    canvas = np.empty((sh, sw, 3), dtype=np.uint8)
    canvas[:] = bg
    frames: list[np.ndarray] = []
    delays: list[int] = []
    loop_count = -1
    # pending graphic-control state for the NEXT image descriptor
    delay_cs, disposal, trans_idx = 0, 0, None
    n_data = len(data)
    while pos < n_data:
        b = data[pos]
        if b == 0x3B:
            break
        if b == 0x21:  # extension
            if pos + 2 > n_data:
                raise ValueError("gif: truncated extension")
            label = data[pos + 1]
            sub = pos + 2
            blocks = []
            while sub < n_data and data[sub] != 0:
                ln = data[sub]
                blocks.append(data[sub + 1:sub + 1 + ln])
                sub += 1 + ln
            if sub >= n_data:
                raise ValueError("gif: unterminated extension")
            if label == 0xF9 and blocks and len(blocks[0]) >= 4:
                gflags, delay_cs = _s.unpack_from("<BH", blocks[0], 0)
                disposal = (gflags >> 2) & 0x07
                trans_idx = blocks[0][3] if gflags & 0x01 else None
            elif label == 0xFF and blocks \
                    and blocks[0] == b"NETSCAPE2.0" and len(blocks) > 1 \
                    and len(blocks[1]) >= 3 and blocks[1][0] == 0x01:
                loop_count = _s.unpack_from("<H", blocks[1], 1)[0]
            pos = sub + 1
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02x}")
        if pos + 10 > n_data:
            raise ValueError("gif: truncated image descriptor")
        left, top, w, h, iflags = _s.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
            if table.size < 3 * n:
                raise ValueError("gif: truncated color table")
            table = table.reshape(-1, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("gif: no color table")
        if w == 0 or h == 0 or left + w > sw or top + h > sh:
            raise ValueError("gif: frame rect outside screen")
        if len(frames) >= MAX_GIF_FRAMES \
                or (len(frames) + 1) * sw * sh * 3 > MAX_GIF_SAMPLES:
            raise ValueError("gif: animation exceeds decode budget")
        if pos >= n_data:
            raise ValueError("gif: truncated pixel data")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < n_data and data[pos] != 0:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _gif_lzw_decode(min_code, bytes(lzw), w * h), dtype=np.uint8)
        if idx.size < w * h:
            raise ValueError("gif: truncated pixel data")
        idx = idx[:w * h].reshape(h, w)
        if iflags & 0x40:
            out_rows = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE:
                for r in range(start, h, step):
                    out_rows[r] = idx[src]
                    src += 1
            idx = out_rows
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("gif: palette index out of range")
        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top:top + h, left:left + w]
        rgb = table[idx]
        if trans_idx is not None:
            opaque = idx != trans_idx
            region[opaque] = rgb[opaque]
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        delays.append(delay_cs)
        if disposal == 2:
            canvas[top:top + h, left:left + w] = bg
        elif disposal == 3 and saved is not None:
            canvas = saved
        delay_cs, disposal, trans_idx = 0, 0, None
    if not frames:
        raise ValueError("gif: no image descriptor")
    return frames, delays, loop_count


def encode_gif_animation(frames: list, delays: list[int],
                         loop: int | None = 0,
                         disposals: list[int] | None = None,
                         rects: list[tuple[int, int]] | None = None,
                         screen: tuple[int, int] | None = None,
                         transparent: int | None = None,
                         bg_idx: int = 0) -> bytes:
    """Fixture-side animated GIF89a encoder: gray index frames (each
    uint8 (h, w), gray-ramp global palette), per-frame delays (cs),
    optional per-frame disposal methods and top-left offsets, a
    NETSCAPE loop block when ``loop`` is not None, and an optional
    transparent index applied to every frame's GCE."""
    import struct as _s

    if screen is None:
        screen = (frames[0].shape[1], frames[0].shape[0])
    sw, sh = screen
    disposals = disposals or [0] * len(frames)
    rects = rects or [(0, 0)] * len(frames)
    pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", sw, sh, 0x80 | 7, bg_idx, 0)
    out += pal.tobytes()
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" \
            + _s.pack("<H", loop) + b"\x00"
    for arr, delay, disp, (left, top) in zip(frames, delays,
                                             disposals, rects):
        arr = np.asarray(arr, dtype=np.uint8)
        h, w = arr.shape
        gflags = (disp & 7) << 2
        tidx = 0
        if transparent is not None:
            gflags |= 1
            tidx = transparent
        out += b"\x21\xf9\x04" + bytes([gflags]) \
            + _s.pack("<H", delay) + bytes([tidx]) + b"\x00"
        out += b"\x2c" + _s.pack("<HHHHB", left, top, w, h, 0)
        min_code = 8
        clear, eoi, width = 256, 257, 9
        acc = nbits = 0
        stream = bytearray()

        def emit(code: int):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for v in arr.reshape(-1):
            emit(clear)
            emit(int(v))
        emit(eoi)
        if nbits:
            stream.append(acc & 0xFF)
        out += bytes([min_code])
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# ===================================================================
# WebP / AVIF dimension sniff (no pixel decode)
# ===================================================================
#
# .webp and .avif are in the reference's image list but their pixel
# codecs (VP8/AV1) are out of scope here; the container headers still
# give dimensions — enough for size gates and aspect filters.


def _webp_dims(data: bytes) -> tuple[str, int, int]:
    """WebP container -> (variant, width, height) from the VP8 /
    VP8L / VP8X headers.  Raises ValueError outside the subset."""
    import struct as _s

    if len(data) < 25 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad container")
    fourcc = data[12:16]
    if fourcc == b"VP8X":
        if len(data) < 30:
            raise ValueError("webp: truncated VP8X")
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return "vp8x", w, h
    if fourcc == b"VP8 ":
        if data[23:26] != b"\x9d\x01\x2a":
            raise ValueError("webp: bad VP8 start code")
        w = _s.unpack_from("<H", data, 26)[0] & 0x3FFF
        h = _s.unpack_from("<H", data, 28)[0] & 0x3FFF
        return "vp8", w, h
    if fourcc == b"VP8L":
        if data[20] != 0x2F:
            raise ValueError("webp: bad VP8L signature")
        bits = int.from_bytes(data[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return "vp8l", w, h
    raise ValueError("webp: unknown chunk")


def encode_webp_header(w: int, h: int, variant: str = "vp8") -> bytes:
    """Synthetic WebP header carrying only the dimension fields the
    sniffer reads (no decodable bitstream) — fixture analog of
    encode_mp3_frames."""
    import struct as _s

    if variant == "vp8x":
        body = (b"VP8X" + _s.pack("<I", 10) + b"\x00\x00\x00\x00"
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
    elif variant == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        body = (b"VP8L" + _s.pack("<I", 5) + b"\x2f"
                + bits.to_bytes(4, "little"))
    else:
        payload = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                   + _s.pack("<HH", w, h))
        body = b"VP8 " + _s.pack("<I", len(payload)) + payload
    return b"RIFF" + _s.pack("<I", 4 + len(body)) + b"WEBP" + body


# ===================================================================
# TIFF
# ===================================================================
#
# .tiff/.tif complete the reference's raster image list.  Subset:
# both byte orders, first IFD, 8-bit gray (photometric 0/1) or RGB
# (photometric 2), uncompressed or PackBits, any strip layout.


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF/PDF LZW encoder (MSB-first, 9-12 bit codes, early width
    change) — fixture-side counterpart of pdfk._lzw_decode.  The code
    width follows the DECODER's table-growth schedule: the decoder
    adds no entry for the first code after a clear, so its table lags
    the encoder's next_code by one."""
    out_bits = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out_bits.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9, 258, True

    table, next_code, width, dsize, first = fresh()
    emit(256, width)                      # leading ClearCode

    def after_data_emit():
        # mirror the decoder: append (except on the first code after
        # a clear), then early-change width bump
        nonlocal dsize, first, width
        if first:
            first = False
            return
        dsize += 1
        if dsize >= (1 << width) and width < 12:
            width += 1

    seq = b""
    for byte in data:
        cand = seq + bytes([byte])
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        after_data_emit()
        table[cand] = next_code
        next_code += 1
        if next_code >= 4094:             # table nearly full: clear
            emit(256, width)
            table, next_code, width, dsize, first = fresh()
        seq = bytes([byte])
    if seq:
        emit(table[seq], width)
        after_data_emit()
    emit(257, width)                      # EOI
    if nbits:
        out_bits.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out_bits)


def _tiff_packbits(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expect:
        b = data[i]
        if b < 128:        # literal run of b+1 bytes
            out += data[i + 1:i + 2 + b]
            i += 2 + b
        elif b > 128:      # repeat next byte 257-b times
            if i + 1 >= n:
                raise ValueError("tiff: truncated packbits run")
            out += data[i + 1:i + 2] * (257 - b)
            i += 2
        else:              # 128: no-op
            i += 1
    if len(out) < expect:
        raise ValueError("tiff: packbits underflow")
    return bytes(out[:expect])


def _decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes -> uint8 (h, w) gray or (h, w, 3) RGB.  Raises
    ValueError outside the subset."""
    import struct as _s

    if len(data) < 8:
        raise ValueError("tiff: too short")
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("tiff: bad magic")
    ifd_off = _s.unpack_from(bo + "I", data, 4)[0]
    if ifd_off + 2 > len(data):
        raise ValueError("tiff: bad IFD offset")
    n_entries = _s.unpack_from(bo + "H", data, ifd_off)[0]
    if n_entries == 0 or n_entries > 512:
        raise ValueError("tiff: bad IFD entry count")
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    for k in range(n_entries):
        e = ifd_off + 2 + 12 * k
        if e + 12 > len(data):
            raise ValueError("tiff: truncated IFD")
        tag, typ, cnt = _s.unpack_from(bo + "HHI", data, e)
        if typ not in type_size or cnt == 0 or cnt > (1 << 20):
            continue
        sz = type_size[typ] * cnt
        off = e + 8 if sz <= 4 \
            else _s.unpack_from(bo + "I", data, e + 8)[0]
        if off + sz > len(data):
            raise ValueError("tiff: value out of bounds")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(
            _s.unpack_from(bo + fmt * cnt, data, off))

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"tiff: missing tag {tag}")
        return default

    w = one(256)
    h = one(257)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    rows_per_strip = one(278, h)
    if w == 0 or h == 0 or w * h > MAX_PIXELS:
        raise ValueError("tiff: bad dimensions")
    fax = comp in (2, 3, 4)   # CCITT RLE / Group 3 / Group 4
    if fax:
        if spp != 1 or bits != [1] or photo not in (0, 1):
            raise ValueError("tiff: unsupported fax format")
    elif comp not in (1, 5, 8, 32773, 32946) or spp not in (1, 3) \
            or any(b != 8 for b in bits) \
            or photo not in (0, 1, 2) \
            or (photo == 2) != (spp == 3):
        raise ValueError("tiff: unsupported format")
    predictor = one(317, 1)
    # only none (1), or horizontal differencing (2) under LZW/Deflate
    if predictor != 1 and not (predictor == 2
                               and comp in (5, 8, 32946)):
        raise ValueError("tiff: unsupported predictor")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("tiff: missing strip layout")
    out = bytearray()
    need_total = w * h * spp
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise ValueError("tiff: strip out of bounds")
        strip = data[off:off + cnt]
        rows = min(rows_per_strip, h - i * rows_per_strip)
        if rows <= 0:
            raise ValueError("tiff: too many strips")
        if fax:
            # fax coding restarts per strip (TIFF 6.0 §Section 2);
            # decoded black/white maps to 1-bit SAMPLE space scaled
            # to 8 bits, so the photometric inversion below applies
            # uniformly (photo 0 MinIsWhite: sample 1 = black)
            from . import ccitt

            if comp == 4:
                bits_arr = ccitt.decode_g4(strip, w, rows)
            elif comp == 3:
                # T4Options bit 2 (fill bits so each EOL ends on a
                # byte boundary) needs NO special handling: the
                # EOL-skip logic consumes fill zeros; mapping it to
                # per-line alignment would mis-seek into the EOL
                t4opts = one(292, 0)
                bits_arr = ccitt.decode_g3(
                    strip, w, rows, two_dim=bool(t4opts & 1))
            else:                        # 2 = Modified Huffman
                # TIFF 6.0 §10: each MH-coded row begins on a byte
                # boundary
                bits_arr = ccitt.decode_g3(strip, w, rows,
                                           byte_align=True)
            sample = bits_arr if photo == 0 else ~bits_arr
            out += (sample.astype(np.uint8) * 255).tobytes()
            continue
        expect = rows * w * spp
        if comp == 32773:
            strip = _tiff_packbits(strip, expect)
        elif comp == 5:
            # TIFF LZW == the PDF LZWDecode variant with EarlyChange
            from .pdfk import PDFError, _lzw_decode

            try:
                strip = _lzw_decode(strip)
            except PDFError as exc:
                raise ValueError(f"tiff: {exc}")
        elif comp in (8, 32946):
            # Adobe Deflate (8) / legacy Deflate (32946): zlib
            # streams; output capped at the expected strip size
            # (decompression-bomb guard — extra output is a format
            # error, not an allocation)
            import zlib

            try:
                dec = zlib.decompressobj()
                strip = dec.decompress(strip, expect)
            except zlib.error as exc:
                raise ValueError(f"tiff: bad deflate strip ({exc})")
        if len(strip) < expect:
            raise ValueError("tiff: truncated strip")
        strip = strip[:expect]
        if predictor == 2:
            # horizontal differencing: cumulative sum per row/sample
            arr2 = np.frombuffer(strip, dtype=np.uint8).astype(
                np.int64).reshape(rows, w, spp)
            strip = (arr2.cumsum(axis=1) & 0xFF).astype(
                np.uint8).tobytes()
        out += strip
    if len(out) < need_total:
        raise ValueError("tiff: missing pixel data")
    arr = np.frombuffer(bytes(out[:need_total]), dtype=np.uint8)
    if spp == 3:
        return arr.reshape(h, w, 3)
    arr = arr.reshape(h, w)
    if photo == 0:      # white-is-zero -> invert to standard gray
        arr = (255 - arr.astype(np.int16)).astype(np.uint8)
    return np.ascontiguousarray(arr)


def encode_tiff(img: np.ndarray, big_endian: bool = False,
                packbits: bool = False,
                rows_per_strip: int | None = None,
                fax: int | None = None,
                lzw: bool = False,
                deflate: bool = False,
                predictor: bool = False) -> bytes:
    """uint8 (h, w) gray or (h, w, 3) RGB -> TIFF (photometric 1/2,
    striped, optional PackBits / LZW / Adobe Deflate).  ``fax``
    (2, 3 or 4) encodes a BOOL array (True = black) as a CCITT fax
    TIFF instead: 1 bit/sample, photometric 0 (MinIsWhite), strips
    coded per kernel/ccitt.py."""
    import struct as _s

    bo = ">" if big_endian else "<"
    if fax is not None:
        if fax not in (2, 3, 4):
            raise ValueError("tiff: fax must be 2, 3 or 4")
        arr = np.asarray(img, dtype=bool)
        if arr.ndim != 2:
            raise ValueError("tiff: fax needs a 2-D bool array")
        gray = True
    else:
        arr = np.asarray(img, dtype=np.uint8)
        gray = arr.ndim == 2
    h, w = arr.shape[:2]
    spp = 1 if gray else 3
    rps = rows_per_strip or h
    strips = []
    for r0 in range(0, h, rps):
        if fax is not None:
            from . import ccitt

            band = arr[r0:r0 + rps]
            if fax == 4:
                raw = ccitt.encode_g4(band)
            elif fax == 3:
                raw = ccitt.encode_g3_1d(band, with_eol=True)
            else:            # 2 = MH: rows byte-aligned (TIFF §10)
                raw = ccitt.encode_g3_1d(band, byte_align=True)
            strips.append(raw)
            continue
        band = arr[r0:r0 + rps]
        if (lzw or deflate) and predictor:
            d = band.astype(np.int64).reshape(band.shape[0], w, spp)
            d = np.concatenate([d[:, :1], np.diff(d, axis=1)], axis=1)
            band = (d & 0xFF).astype(np.uint8)
        raw = band.tobytes()
        if lzw:
            raw = _tiff_lzw_encode(raw)
            strips.append(raw)
            continue
        if deflate:
            import zlib

            strips.append(zlib.compress(raw))
            continue
        if packbits:
            enc = bytearray()
            i = 0
            while i < len(raw):
                chunk = raw[i:i + 128]
                enc += bytes([len(chunk) - 1]) + chunk
                i += len(chunk)
            raw = bytes(enc)
        strips.append(raw)
    header = (b"II*\x00" if not big_endian else b"MM\x00*")
    entries = []
    extra = bytearray()

    def entry(tag, typ, values):
        fmt = {3: "H", 4: "I"}[typ]
        sz = {3: 2, 4: 4}[typ] * len(values)
        if sz <= 4:
            val = _s.pack(bo + fmt * len(values), *values)
            val += b"\x00" * (4 - sz)
            entries.append((tag, typ, len(values), val, None))
        else:
            entries.append((tag, typ, len(values), None,
                            len(extra)))
            extra.extend(_s.pack(bo + fmt * len(values), *values))

    n_strips = len(strips)
    strip_sizes = [len(s) for s in strips]
    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, ([1] if fax is not None else [8] * spp))
    entry(259, 3, [fax if fax is not None
                   else (5 if lzw else 8 if deflate
                         else (32773 if packbits else 1))])
    entry(262, 3, [0 if fax is not None else (2 if spp == 3 else 1)])
    if (lzw or deflate) and predictor:
        entry(317, 3, [2])
    entry(273, 4, [0] * n_strips)      # patched below
    entry(277, 3, [spp])
    entry(278, 4, [rps])
    entry(279, 4, strip_sizes)
    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    extra_off = ifd_off + ifd_len
    strips_off = extra_off + len(extra)
    # place strips and patch offsets
    offs = []
    pos = strips_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    out = bytearray(header + _s.pack(bo + "I", ifd_off))
    out += _s.pack(bo + "H", len(entries))
    for (tag, typ, cnt, inline, exoff) in entries:
        out += _s.pack(bo + "HHI", tag, typ, cnt)
        if tag == 273:
            if 4 * n_strips <= 4:
                out += _s.pack(bo + "I" * n_strips, *offs) \
                    + b"\x00" * (4 - 4 * n_strips)
            else:
                # strip-offset array lives in `extra`
                out += _s.pack(bo + "I", extra_off + exoff)
                extra[exoff:exoff + 4 * n_strips] = _s.pack(
                    bo + "I" * n_strips, *offs)
        elif inline is not None:
            out += inline
        else:
            out += _s.pack(bo + "I", extra_off + exoff)
    out += _s.pack(bo + "I", 0)   # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def decode_bmp(data: bytes) -> np.ndarray:
    """ValueError-only wrapper (module contract) over :func:`_decode_bmp`."""
    return _never_raises(_decode_bmp, data)


def decode_gif(data: bytes) -> np.ndarray:
    """ValueError-only wrapper (module contract) over :func:`_decode_gif`."""
    return _never_raises(_decode_gif, data)


def decode_tiff(data: bytes) -> np.ndarray:
    """ValueError-only wrapper (module contract) over :func:`_decode_tiff`."""
    return _never_raises(_decode_tiff, data)


def webp_dims(data: bytes) -> tuple[str, int, int]:
    """ValueError-only wrapper (module contract) over :func:`_webp_dims`."""
    return _never_raises(_webp_dims, data)


# ===================================================================
# SVG dimension sniff
# ===================================================================
#
# .svg closes the reference's image extension list; vector rendering
# is out of scope, but the root element's width/height (or viewBox)
# give the curation dimensions.  Integer-pixel subset.

import re

_SVG_ROOT_RE = re.compile(rb"<svg\b([^>]*)>", re.IGNORECASE | re.DOTALL)
# (?<![-\w:]) pins the attribute name: stroke-width/data-height must
# not satisfy the width/height lookup
_SVG_ATTR_RE = rb"""(?<![-\w:])%s\s*=\s*["']\s*([0-9]+)(?:px)?\s*["']"""
_SVG_VIEWBOX_RE = re.compile(
    rb"""viewBox\s*=\s*["']\s*[-0-9.]+[\s,]+[-0-9.]+[\s,]+"""
    rb"""([0-9]+)(?:\.[0-9]+)?[\s,]+([0-9]+)(?:\.[0-9]+)?\s*["']""",
    re.IGNORECASE)


def svg_dims(data: bytes) -> tuple[int, int]:
    """SVG bytes -> (width, height) from the root element's integer
    width/height attributes, falling back to the viewBox.  Raises
    ValueError when neither is present or the input is not SVG."""
    head = data[:4096]
    m = _SVG_ROOT_RE.search(head)
    if m is None:
        raise ValueError("svg: no root element")
    attrs = m.group(1)
    wm = re.search(_SVG_ATTR_RE % rb"width", attrs, re.IGNORECASE)
    hm = re.search(_SVG_ATTR_RE % rb"height", attrs, re.IGNORECASE)
    if wm and hm:
        return int(wm.group(1)), int(hm.group(1))
    vb = _SVG_VIEWBOX_RE.search(attrs)
    if vb:
        return int(vb.group(1)), int(vb.group(2))
    raise ValueError("svg: no integer dimensions")
