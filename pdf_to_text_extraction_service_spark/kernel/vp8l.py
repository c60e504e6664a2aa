"""WebP VP8L (lossless) decoder + fixture encoder, from the public
"WebP Lossless Bitstream Specification".

WebP is the #2 crawl image format; its lossless coding (VP8L) is a
compact public spec, so this module brings real pixel decode to the
`webp-VP8L` payloads that previously only dimension-sniffed
(kernel/imgcodec.webp_dims).  Lossy WebP (VP8) rides on the full VP8
video codec and stays dims-only.

Implemented (decoder): LSB-first bitstream, simple and normal
(code-length-coded) prefix codes, the 5-code prefix-code groups,
optional meta prefix image, color cache, LZ77 backward references
with both distance mappings, and all four transforms — predictor
(14 modes, spec border rules: top-left predicts 0xff000000, top row
uses L, left column uses T, rightmost column's TR is the leftmost
pixel of the current row), color (ColorTransformDelta with int8
multipliers), subtract-green, and color-indexing incl. sub-byte
pixel bundling.

The 2-D distance-map table (plane codes 1..120) is GENERATED from
the spec's ordering rule — neighbors (dx, dy) sorted by squared
distance, then nearer rows first (dy descending within a distance
group as published), then |dx| ascending with positive dx first —
which reproduces every row of the table printed in the spec that
this implementation was checked against.  Fixture encoders prefer
the exact `distance + 120` escape codes, so round-trip coverage
does not depend on the table; a spot-check test pins the published
leading entries.

Encoder (fixtures): literal pixels with canonical prefix codes
(simple 1-2-symbol codes when a channel has <= 2 distinct values,
code-length-coded normal codes otherwise), optional subtract-green
transform, and an optional whole-row LZ77 copy mode for reference
coverage.  No meta prefix, no cache, no predictor/color transforms
on the encode side.

All decode errors raise ValueError (the shared untrusted-bytes
contract); dimensions are budget-capped before allocation.
"""

from __future__ import annotations

import numpy as np

# The entropy loop is per-pixel Python (~µs/px): a claimed 64 MP
# payload would burn minutes in one task — the decode-bomb shape the
# reference bounds with per-file timeouts.  4 MP covers real crawl
# lossless WebP (logos/screenshots); larger claims become error rows.
MAX_PIXELS = 1 << 22

_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16,
                      6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _build_distance_map() -> list[tuple[int, int]]:
    cands = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1],
                              -p[1], abs(p[0]), p[0] < 0))
    return cands[:120]


_DISTANCE_MAP = _build_distance_map()


class _BitReader:
    """LSB-first bit reader (DEFLATE convention, per spec §3)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def read(self, nbits: int) -> int:
        # bulk little-endian extract (identical value to the original
        # per-bit loop: bit i of the result is stream bit pos+i)
        p = self.pos
        if p + nbits > self.n:
            raise ValueError("vp8l: truncated stream")
        b = p >> 3
        v = (int.from_bytes(self.data[b:b + ((nbits + (p & 7) + 7)
                                             >> 3)], "little")
             >> (p & 7)) & ((1 << nbits) - 1)
        self.pos = p + nbits
        return v


class _Huffman:
    """Canonical prefix code (codes assigned DEFLATE-style in symbol
    order by increasing length; decoded MSB-of-code-first)."""

    __slots__ = ("single", "lut_sym", "lut_len")

    def __init__(self, lengths: list[int]):
        self.single: int | None = None
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("vp8l: empty prefix code")
        if len(nz) == 1:
            # single-symbol code: zero bits per symbol
            self.single = nz[0][1]
            return
        max_len = max(ln for ln, _ in nz)
        if max_len > 15:
            raise ValueError("vp8l: code length too long")
        bl_count = [0] * (max_len + 1)
        for ln, _ in nz:
            bl_count[ln] += 1
        code = 0
        next_code = [0] * (max_len + 2)
        for ln in range(1, max_len + 1):
            code = (code + bl_count[ln - 1]) << 1
            next_code[ln] = code
        # completeness check (over-subscribed / incomplete both fail)
        total = sum(bl_count[ln] << (max_len - ln)
                    for ln in range(1, max_len + 1))
        if total != (1 << max_len):
            raise ValueError("vp8l: invalid prefix code")
        # flat peek-LUT (r8): the stream is LSB-first while canonical
        # codes compare MSB-first, so a code of length L matches every
        # max_len-bit peek whose LOW L bits are the code reversed;
        # the completeness check above guarantees the LUT has no
        # holes, making one peek + one table lookup per symbol
        # (bit-identical to the per-bit tree walk in
        # tests/reference/vp8l.py, which pins it)
        size = 1 << max_len
        lut_sym = [0] * size
        lut_len = [0] * size
        for sym, ln in enumerate(lengths):
            if ln > 0:
                code = next_code[ln]
                next_code[ln] += 1
                rev = 0
                c = code
                for _ in range(ln):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                step = 1 << ln
                for idx in range(rev, size, step):
                    lut_sym[idx] = sym
                    lut_len[idx] = ln
        self.lut_sym = lut_sym
        self.lut_len = lut_len

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        p = br.pos
        b = p >> 3
        idx = (int.from_bytes(br.data[b:b + 3], "little")
               >> (p & 7)) & (len(self.lut_sym) - 1)
        ln = self.lut_len[idx]
        if p + ln > br.n:
            raise ValueError("vp8l: truncated stream")
        br.pos = p + ln
        return self.lut_sym[idx]


def _read_code_lengths(br: _BitReader, alphabet: int,
                       cl_huff: _Huffman) -> list[int]:
    """Symbol code lengths via the code-length code (spec §5.2.2)."""
    lengths = [0] * alphabet
    if br.read(1):                       # length-limited
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code = cl_huff.read(br)
        if code < 16:
            lengths[symbol] = code
            symbol += 1
            if code != 0:
                prev = code
        elif code == 16:
            rep = 3 + br.read(2)
            if symbol + rep > alphabet:
                raise ValueError("vp8l: repeat overflows alphabet")
            for _ in range(rep):
                lengths[symbol] = prev
                symbol += 1
        elif code == 17:
            symbol += 3 + br.read(3)
        elif code == 18:
            symbol += 11 + br.read(7)
        else:
            raise ValueError("vp8l: bad code-length symbol")
        if symbol > alphabet:
            raise ValueError("vp8l: repeat overflows alphabet")
    return lengths


def _read_prefix_code(br: _BitReader, alphabet: int) -> _Huffman:
    if br.read(1):                       # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):                   # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet
        if num_symbols == 1:
            if sym0 >= alphabet:
                raise ValueError("vp8l: simple symbol out of range")
            lengths[sym0] = 1            # _Huffman: single → 0 bits
        else:
            sym1 = br.read(8)
            if sym0 >= alphabet or sym1 >= alphabet or sym0 == sym1:
                raise ValueError("vp8l: simple symbols invalid")
            lengths[sym0] = 1
            lengths[sym1] = 1
        return _Huffman(lengths)
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_huff = _Huffman(cl_lengths)
    return _Huffman(_read_code_lengths(br, alphabet, cl_huff))


def _prefix_value(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec §5.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_code_to_distance(xsize: int, plane_code: int) -> int:
    if plane_code > 120:
        return plane_code - 120
    dx, dy = _DISTANCE_MAP[plane_code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


def _decode_entropy_image(br: _BitReader, w: int, h: int,
                          allow_meta: bool) -> np.ndarray:
    """One entropy-coded ARGB image (spec §5) as uint32 (h*w,)
    little-logical a<<24|r<<16|g<<8|b."""
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("vp8l: bad image dimensions")
    n_pixels = w * h

    # spec grammar: spatially-coded-image =
    #   color-cache-info meta-prefix data   (cache info FIRST)
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color-cache bits")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = np.zeros(cache_size, dtype=np.uint32)

    meta_huff = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta_huff = (((meta_img >> 8) & 0xFFFF)).astype(np.int64)
        n_groups = int(meta_huff.max()) + 1

    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(br, 256 + 24 + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        groups.append((green, red, blue, alpha, dist))

    out = np.zeros(n_pixels, dtype=np.uint32)
    pos = 0
    mw = ((w + (1 << meta_bits) - 1) >> meta_bits) if meta_huff is not None \
        else 0

    def group_at(p: int):
        if meta_huff is None:
            return groups[0]
        x, y = p % w, p // w
        g = int(meta_huff[(y >> meta_bits) * mw + (x >> meta_bits)])
        if g >= len(groups):
            raise ValueError("vp8l: meta group out of range")
        return groups[g]

    def cache_insert(px: int):
        if cache_size:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while pos < n_pixels:
        gcode, rcode, bcode, acode, dcode = group_at(pos)
        s = gcode.read(br)
        if s < 256:
            r = rcode.read(br)
            b = bcode.read(br)
            a = acode.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            cache_insert(px)
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(br, s - 256)
            dist_code = dcode.read(br)
            if dist_code >= 40:
                raise ValueError("vp8l: bad distance code")
            dist = _plane_code_to_distance(
                w, _prefix_value(br, dist_code))
            if dist > pos or pos + length > n_pixels:
                raise ValueError("vp8l: backward reference out of range")
            for i in range(length):
                px = int(out[pos - dist + i])
                out[pos + i] = px
                cache_insert(px)
            pos += length
        else:
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("vp8l: cache index out of range")
            out[pos] = cache[idx]
            pos += 1
    return out


# ------------------------------------------------------------ transforms


def _avg2(a, b):
    return (a + b) // 2


def _inverse_predictor(argb: np.ndarray, w: int, h: int,
                       size_bits: int, pred_img: np.ndarray) -> None:
    """In-place inverse predictor transform (spec §4.2.2).  Works on
    (h*w, 4) uint8-as-int16 channel view, per-channel mod-256 adds."""
    px = argb  # (n, 4) int arrays [a, r, g, b]
    tw = (w + (1 << size_bits) - 1) >> size_bits

    def clamp_add_sub_full(l, t, tl):
        return np.clip(l + t - tl, 0, 255)

    def clamp_add_sub_half(ave, tl):
        # C truncating division (toward zero), not Python floor
        d = ave - tl
        half = np.where(d >= 0, d // 2, -((-d) // 2))
        return np.clip(ave + half, 0, 255)

    def select(l, t, tl):
        # predict T when L is the better match for TL (gradient is
        # vertical), else L — ties go to T (libwebp Select order)
        pl = np.abs(t - tl).sum()   # = Σ|p − L| with p = L + T − TL
        pt = np.abs(l - tl).sum()   # = Σ|p − T|
        return l if pl < pt else t

    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int64)
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                mode = int((pred_img[(y >> size_bits) * tw
                                     + (x >> size_bits)] >> 8) & 0xFF)
                L = px[i - 1].astype(np.int64)
                T = px[i - w].astype(np.int64)
                TL = px[i - w - 1].astype(np.int64)
                # rightmost column: TR is the leftmost pixel of the
                # CURRENT row (spec border rule)
                TR = (px[y * w].astype(np.int64) if x == w - 1
                      else px[i - w + 1].astype(np.int64))
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int64)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = select(L, T, TL)
                elif mode == 12:
                    pred = clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = clamp_add_sub_half(_avg2(L, T), TL)
                else:
                    raise ValueError("vp8l: bad predictor mode")
            px[i] = (px[i] + pred) & 0xFF


def _inverse_color_transform(px: np.ndarray, w: int, h: int,
                             size_bits: int,
                             ct_img: np.ndarray) -> None:
    """In-place inverse color transform (spec §4.2.3)."""
    tw = (w + (1 << size_bits) - 1) >> size_bits

    def s8(v):
        return v - 256 if v >= 128 else v

    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = int(ct_img[(y >> size_bits) * tw + (x >> size_bits)])
            g2r = s8(cte & 0xFF)
            g2b = s8((cte >> 8) & 0xFF)
            r2b = s8((cte >> 16) & 0xFF)
            g = s8(int(px[i][2]))
            r = (int(px[i][1]) + ((g2r * g) >> 5)) & 0xFF
            rs = s8(r)
            b = (int(px[i][3]) + ((g2b * g) >> 5)
                 + ((r2b * rs) >> 5)) & 0xFF
            px[i][1] = r
            px[i][3] = b


def _decode_transformed(br: _BitReader, w: int, h: int) -> np.ndarray:
    """Main ARGB image with its transform chain (spec §4)."""
    transforms = []
    seen = set()
    palette = None
    packed_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype == 0:                   # predictor
            size_bits = br.read(3) + 2
            tw = (packed_w + (1 << size_bits) - 1) >> size_bits
            th = (h + (1 << size_bits) - 1) >> size_bits
            img = _decode_entropy_image(br, tw, th, False)
            transforms.append(("predictor", size_bits, img))
        elif ttype == 1:                 # color
            size_bits = br.read(3) + 2
            tw = (packed_w + (1 << size_bits) - 1) >> size_bits
            th = (h + (1 << size_bits) - 1) >> size_bits
            img = _decode_entropy_image(br, tw, th, False)
            transforms.append(("color", size_bits, img))
        elif ttype == 2:                 # subtract green
            transforms.append(("subtract_green",))
        else:                            # color indexing
            n_colors = br.read(8) + 1
            pal_raw = _decode_entropy_image(br, n_colors, 1, False)
            # palette entries are delta-coded per channel
            pal = np.zeros((n_colors, 4), dtype=np.int64)
            prev = np.zeros(4, dtype=np.int64)
            for i in range(n_colors):
                v = int(pal_raw[i])
                cur = (prev + np.array(
                    [(v >> 24) & 0xFF, (v >> 16) & 0xFF,
                     (v >> 8) & 0xFF, v & 0xFF])) & 0xFF
                pal[i] = cur
                prev = cur
            if n_colors <= 2:
                bits = 3
            elif n_colors <= 4:
                bits = 2
            elif n_colors <= 16:
                bits = 1
            else:
                bits = 0
            packed_w = (w + (1 << bits) - 1) >> bits
            transforms.append(("palette", bits, pal))
            palette = True
    argb = _decode_entropy_image(br, packed_w, h, True)
    # channel view (n, 4) = [a, r, g, b]
    px = np.stack([(argb >> 24) & 0xFF, (argb >> 16) & 0xFF,
                   (argb >> 8) & 0xFF, argb & 0xFF],
                  axis=1).astype(np.int64)
    cur_w = packed_w
    for t in reversed(transforms):
        if t[0] == "palette":
            bits, pal = t[1], t[2]
            ppp = 1 << bits              # pixels per packed byte
            unpacked = np.zeros((w * h, 4), dtype=np.int64)
            mask = (1 << (8 >> bits)) - 1 if bits else 0xFF
            width_bits = 8 >> bits
            for y in range(h):
                for x in range(w):
                    pk = px[y * cur_w + (x >> bits)][2]  # green
                    idx = (int(pk) >> ((x & (ppp - 1)) * width_bits)) \
                        & mask if bits else int(pk)
                    unpacked[y * w + x] = pal[idx] \
                        if idx < len(pal) else 0
            px = unpacked
            cur_w = w
        elif t[0] == "subtract_green":
            px[:, 1] = (px[:, 1] + px[:, 2]) & 0xFF
            px[:, 3] = (px[:, 3] + px[:, 2]) & 0xFF
        elif t[0] == "predictor":
            _inverse_predictor(px, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            _inverse_color_transform(px, cur_w, h, t[1], t[2])
    if palette is None and cur_w != w:
        raise ValueError("vp8l: width mismatch")
    # → RGBA
    return np.stack([px[:, 1], px[:, 2], px[:, 3], px[:, 0]],
                    axis=1).astype(np.uint8).reshape(h, w, 4)


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → RGBA uint8 array (h, w, 4)."""
    try:
        if len(data) < 5 or data[0] != 0x2F:
            raise ValueError("vp8l: bad signature")
        br = _BitReader(data[1:])
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.read(1)                       # alpha hint
        if br.read(3) != 0:
            raise ValueError("vp8l: bad version")
        if w * h > MAX_PIXELS:
            raise ValueError("vp8l: dimensions exceed decode budget")
        return _decode_transformed(br, w, h)
    except ValueError:
        raise
    except (IndexError, KeyError, OverflowError, MemoryError,
            RecursionError) as exc:
        raise ValueError(
            f"vp8l: malformed stream ({type(exc).__name__})")


def decode_webp_lossless(payload: bytes) -> np.ndarray:
    """RIFF WebP container → RGBA pixels, for VP8L payloads (simple
    or VP8X-extended layout).  Lossy VP8 raises (dims-only path)."""
    if len(payload) < 16 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WEBP":
        raise ValueError("webp: bad container")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 pixel decode unsupported")
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk")


# ------------------------------------------------------------- encoder


class _BitWriter:
    __slots__ = ("bits", "val", "n")

    def __init__(self):
        self.bits = bytearray()
        self.val = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.val |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.bits.append(self.val & 0xFF)
            self.val >>= 8
            self.n -= 8

    def write_code(self, code: int, nbits: int) -> None:
        """Prefix-code word: MSB first."""
        for i in range(nbits - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def tobytes(self) -> bytes:
        out = bytearray(self.bits)
        if self.n:
            out.append(self.val & 0xFF)
        return bytes(out)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


def _code_lengths_for(freqs: dict[int, int], alphabet: int) -> list[int]:
    """Package-merge-free length assignment: plain Huffman over the
    frequencies (depth capped at 15 by construction for fixture-size
    alphabets)."""
    import heapq

    items = [(f, [s]) for s, f in freqs.items() if f > 0]
    lengths = [0] * alphabet
    if not items:
        raise ValueError("vp8l: empty frequency set")
    if len(items) == 1:
        lengths[items[0][1][0]] = 1
        return lengths
    heapq.heapify(items)
    cnt = 0
    while len(items) > 1:
        f1, s1 = heapq.heappop(items)
        f2, s2 = heapq.heappop(items)
        for s in s1 + s2:
            lengths[s] += 1
        cnt += 1
        heapq.heappush(items, (f1 + f2, s1 + s2))
    if max(lengths) > 15:
        raise ValueError("vp8l: fixture image too entropic")
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths: list[int]) -> None:
    """Emit a prefix code: simple form for 1-2 symbols, else the
    code-length-coded normal form (no 16/17/18 repeats — plain)."""
    nz = [s for s, ln in enumerate(lengths) if ln > 0]
    if 1 <= len(nz) <= 2 and all(s < 256 for s in nz):
        bw.write(1, 1)                   # simple
        bw.write(len(nz) - 1, 1)
        if nz[0] > 1:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        else:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        return
    bw.write(0, 1)                       # normal
    # code-length code: lengths in 0..15 → value v coded with a
    # fixed flat assignment: give every USED cl-symbol length equal
    # depth via a Huffman over cl frequencies
    cl_freq: dict[int, int] = {}
    for ln in lengths:
        cl_freq[ln] = cl_freq.get(ln, 0) + 1
    cl_lengths = _code_lengths_for(cl_freq, 19)
    if max(cl_lengths) > 7:
        raise ValueError("vp8l: cl code too deep for fixture")
    # emit all 19 positions (order table) so every used symbol lands
    bw.write(19 - 4, 4)
    for sym in _CODE_LENGTH_ORDER:
        bw.write(cl_lengths[sym], 3)
    cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)                       # no length limit
    # a single-symbol code-length code decodes with ZERO bits per
    # symbol (the decoder's single path) — emit nothing
    if len(cl_codes) > 1:
        for ln in lengths:
            c, n = cl_codes[ln]
            bw.write_code(c, n)


def encode_vp8l(rgba: np.ndarray, subtract_green: bool = False,
                row_copy: bool = False) -> bytes:
    """Minimal VP8L encoder for fixtures: literal pixels, canonical
    prefix codes, optional subtract-green transform, and (row_copy)
    an LZ77 whole-row copy for every row identical to its
    predecessor, using the exact `distance + 120` plane code."""
    a = np.ascontiguousarray(rgba, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 4 or a.size == 0:
        raise ValueError("vp8l: encoder needs (h, w, 4) RGBA")
    h, w = a.shape[0], a.shape[1]
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("vp8l: dimensions exceed header field")
    px = a.astype(np.int64)
    r, g, b, al = (px[:, :, 0].ravel(), px[:, :, 1].ravel(),
                   px[:, :, 2].ravel(), px[:, :, 3].ravel())
    if subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                       # alpha hint
    bw.write(0, 3)                       # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)                   # SUBTRACT_GREEN
    bw.write(0, 1)                       # end of transforms
    bw.write(0, 1)                       # no color cache (grammar:
    bw.write(0, 1)                       # cache-info first) / no meta

    # row-copy plan: rows identical to the previous one become one
    # LZ77 (length=w, dist=w) reference
    copy_row = np.zeros(h, dtype=bool)
    if row_copy and h > 1:
        for y in range(1, h):
            copy_row[y] = bool(
                (a[y] == a[y - 1]).all())

    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    len_code = dist_code = None
    if copy_row.any():
        # inverse of _prefix_value: value → (code, n_extra_bits,
        # extra_bits_value)
        def _pc(v: int) -> tuple[int, int, int]:
            if v <= 4:
                return v - 1, 0, 0
            x = v - 1                          # x >= 4
            e = x.bit_length() - 2
            b = (x >> e) - 2                   # 0 or 1
            rem = x - ((2 + b) << e)
            return 2 * e + 2 + b, e, rem

        len_code = _pc(w)
        dist_code = _pc(w + 120)               # exact-distance escape
        gf[256 + len_code[0]] = int(copy_row.sum())
        df[dist_code[0]] = int(copy_row.sum())
    for y in range(h):
        if copy_row[y]:
            continue
        for x in range(w):
            i = y * w + x
            gf[int(g[i])] = gf.get(int(g[i]), 0) + 1
            rf[int(r[i])] = rf.get(int(r[i]), 0) + 1
            bf[int(b[i])] = bf.get(int(b[i]), 0) + 1
            af[int(al[i])] = af.get(int(al[i]), 0) + 1
    if not df:
        df[0] = 1                        # unused code still emitted
    g_lengths = _code_lengths_for(gf, 256 + 24)
    r_lengths = _code_lengths_for(rf, 256)
    b_lengths = _code_lengths_for(bf, 256)
    a_lengths = _code_lengths_for(af, 256)
    d_lengths = _code_lengths_for(df, 40)
    for lens in (g_lengths, r_lengths, b_lengths, a_lengths,
                 d_lengths):
        _write_prefix_code(bw, lens)
    g_codes = _canonical_codes(g_lengths)
    r_codes = _canonical_codes(r_lengths)
    b_codes = _canonical_codes(b_lengths)
    a_codes = _canonical_codes(a_lengths)
    d_codes = _canonical_codes(d_lengths)

    def emit(codes, sym):
        # single-symbol codes carry zero bits; _canonical_codes gives
        # them length-1 words, but the decoder's single-symbol path
        # reads nothing — emit nothing when the code has one symbol
        if len(codes) == 1:
            return
        c, n = codes[sym]
        bw.write_code(c, n)

    for y in range(h):
        if copy_row[y]:
            code, nbits, extra = len_code
            emit(g_codes, 256 + code)
            if nbits:
                bw.write(extra, nbits)
            dcode, dnbits, dextra = dist_code
            emit(d_codes, dcode)
            if dnbits:
                bw.write(dextra, dnbits)
            continue
        for x in range(w):
            i = y * w + x
            emit(g_codes, int(g[i]))
            emit(r_codes, int(r[i]))
            emit(b_codes, int(b[i]))
            emit(a_codes, int(al[i]))
    return b"\x2f" + bw.tobytes()


def encode_webp_lossless(rgba: np.ndarray, **kw) -> bytes:
    """RIFF WebP container around encode_vp8l output."""
    body = encode_vp8l(rgba, **kw)
    if len(body) & 1:
        padded = body + b"\x00"
    else:
        padded = body
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + padded
    riff_size = 4 + len(chunk)
    return b"RIFF" + riff_size.to_bytes(4, "little") + b"WEBP" + chunk
