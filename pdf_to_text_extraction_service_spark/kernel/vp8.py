"""WebP VP8 (lossy) key-frame decoder, from the public RFC 6386
bitstream spec.

The dominant WebP form in crawls is the lossy VP8 intra frame; its
lossless sibling decodes in kernel/vp8l.py (r6).  This module
implements the complete key-frame pipeline: the boolean arithmetic
decoder, the uncompressed + compressed frame headers, per-macroblock
intra mode decoding (kf ymode / uv mode trees), the coefficient
token decoder (11-prob token tree over 8 coefficient bands x 3
neighbor contexts x 4 plane types, category extra bits, sign), the
Y2 WHT path, dequantization, the exact integer inverse DCT/WHT
(20091 / 35468 >> 16 constants), the 16x16 luma + 8x8 chroma
DC/V/H/TM predictors with the 127/129 frame borders, and
reconstruction into Y/U/V planes.

Offline-verification boundary (IMPORTANT — mirrors the JBIG2
standard-table policy in kernel/jbig2huff.py): this sandbox has no
copy of RFC 6386, so four constant tables cannot be re-verified
offline.  Rather than guess and produce silently-wrong pixels on
real streams, the decoder REJECTS (ValueError → callers keep the
dimension-sniff fallback) any stream that depends on them:

- default coefficient probabilities (4x8x3x11): the in-repo encoder
  explicitly updates EVERY token probability in the frame header, so
  fixture streams never consult the defaults; a stream that leaves
  any probability at its default is rejected before token decoding.
- coefficient-update flag priors (4x8x3x11): carried here as the
  all-255 approximation (the published table is predominantly 255);
  encoder and decoder share it, so round-trips are exact, but real
  streams remain out of the verified subset via the other gates.
- dc/ac quantizer lookups: only the verified low rows ship
  (index 0..3 -> 4..7); y_ac_qi > 3 or any quantizer delta raises.
- kf B_PRED sub-mode probabilities (10x10x9): B_PRED macroblocks
  raise.

Also out of subset: loop-filter levels > 0 (fixtures set 0 — the
filter only smooths block edges and its absence never changes a
flat-region fixture), multiple token partitions, segmentation.

Verified spec structure carried in full: token tree layout, category
extra-bit probabilities (Pcat1..6), coefficient band map, zigzag,
kf ymode probs {145,156,163,128}, uv probs {142,114,183}, the
integer transforms, predictor edge rules, and the y2dc=2*dc /
y2ac=155*ac/100 (min 8) / uvdc<=132 quantizer derivations.

All errors raise ValueError (untrusted-bytes contract); dimensions
are budget-capped before allocation.

Unverified-constant boundary addendum (ADVICE r7): _predict's
above-left sample for a left-edge macroblock (mbx=0, mby>0)
reads 129 from the padded column; the RFC 6386 TM border
convention there is not verifiable offline.  Currently
unreachable on real streams (the default-coefficient-
probability gate admits only in-repo-encoded streams); any
future subset expansion must re-check this border.
"""

from __future__ import annotations

import struct

import numpy as np

# The token/IDCT path is a per-block Python loop (same decode-bomb
# class as the EBCOT/MQ coders): 2^18 luma samples (512x512 grey)
# keeps the worst case in the single-digit-seconds band.
MAX_PIXELS = 1 << 18

# verified low rows of the quantizer lookups (both tables open at 4
# and step 1 in the early indices)
_DC_QLOOKUP = (4, 5, 6, 7)
_AC_QLOOKUP = (4, 5, 6, 7)

_KF_YMODE_PROBS = (145, 156, 163, 128)
_KF_UV_PROBS = (142, 114, 183)

# token tree (RFC 6386 13.2): 11 internal nodes
_DC, _V, _H, _TM, _BPRED = 0, 1, 2, 3, 4

_PCAT = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
_CAT_BASE = (5, 7, 11, 19, 35, 67)

_COEF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# update-flag priors: all-255 approximation (see module docstring)
_UPDATE_PRIOR = 255


# ------------------------------------------------------ bool coder
class BoolDecoder:
    """RFC 6386 section 7 boolean decoder."""

    __slots__ = ("data", "pos", "value", "range", "bitcount")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 2
        if len(data) < 1:
            raise ValueError("vp8: empty partition")
        self.value = int.from_bytes(data[:2].ljust(2, b"\x00"), "big")
        self.range = 255
        self.bitcount = 0

    def bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.value >= bigsplit:
            bit = 1
            self.range -= split
            self.value -= bigsplit
        else:
            bit = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bitcount += 1
            if self.bitcount == 8:
                self.bitcount = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                    self.pos += 1
        return bit

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bool(128)
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bool(128) else v

    def tree(self, tree: tuple, probs) -> int:
        i = 0
        while True:
            i = tree[i + self.bool(probs[i >> 1])]
            if i <= 0:
                return -i


class BoolEncoder:
    """Exact mirror of :class:`BoolDecoder` (RFC 6386 section 7
    encoder reference)."""

    def __init__(self):
        self.low = 0
        self.range = 255
        self.bitcount = 24
        self.out = bytearray()

    def bool(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
            if self.low > 0xFFFFFFFF:     # immediate carry
                i = len(self.out) - 1
                while i >= 0:
                    self.out[i] = (self.out[i] + 1) & 0xFF
                    if self.out[i]:
                        break
                    i -= 1
                self.low &= 0xFFFFFFFF
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.low & (1 << 31):
                # propagate carry
                i = len(self.out) - 1
                while i >= 0:
                    self.out[i] = (self.out[i] + 1) & 0xFF
                    if self.out[i]:
                        break
                    i -= 1
            self.low = (self.low << 1) & 0xFFFFFFFF
            self.bitcount -= 1
            if self.bitcount == 0:
                self.out.append((self.low >> 24) & 0xFF)
                self.low &= 0xFFFFFF
                self.bitcount = 8

    def literal(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bool(128, (v >> i) & 1)

    def tree(self, tree: tuple, probs, leaf: int) -> None:
        # find path to -leaf by DFS
        path = self._path(tree, 0, leaf)
        if path is None:
            raise ValueError("vp8: leaf not in tree")
        for node, bit in path:
            self.bool(probs[node >> 1], bit)

    def _path(self, tree, i, leaf):
        for bit in (0, 1):
            nxt = tree[i + bit]
            if nxt == -leaf and nxt <= 0:
                return [(i, bit)]
            if nxt > 0:
                sub = self._path(tree, nxt, leaf)
                if sub is not None:
                    return [(i, bit)] + sub
        return None

    def flush(self) -> bytes:
        for _ in range(32):
            self.bool(128, 0)
        return bytes(self.out)


_KF_YMODE_TREE = (-_BPRED, 2, 4, 6, -_DC, -_V, -_H, -_TM)
_UV_MODE_TREE = (-_DC, 2, -_V, 4, -_H, -_TM)

# token tree with leaves stored as -(code+1) so ZERO (code 0) is not
# ambiguous with node index 0; codes: 0..4 literal value, 5..10
# category 1..6, 11 EOB
_COEF_TREE = (
    -12, 2,
    -1, 4,
    -2, 6,
    8, 12,
    -3, 10,
    -4, -5,
    14, 16,
    -6, -7,          # cat1, cat2
    18, 20,
    -8, -9,          # cat3, cat4
    -10, -11,        # cat5, cat6
)


def _coef_paths() -> dict[int, tuple]:
    paths: dict[int, tuple] = {}

    def walk(i, acc):
        for bit in (0, 1):
            j = _COEF_TREE[i + bit]
            if j < 0:
                paths[-j - 1] = tuple(acc + [(i, bit)])
            else:
                walk(j, acc + [(i, bit)])

    walk(0, [])
    return paths


_COEF_PATHS = _coef_paths()


def _coef_read(dec: BoolDecoder, probs, skip_eob: bool) -> int:
    """One token as its leaf code: 11=EOB, 0..4 literal value,
    5..10 category 1..6."""
    i = 2 if skip_eob else 0
    while True:
        j = _COEF_TREE[i + dec.bool(probs[i >> 1])]
        if j < 0:
            return -j - 1
        i = j


def _coef_write(enc: BoolEncoder, probs, leaf: int,
                skip_eob: bool) -> None:
    path = _COEF_PATHS[leaf]
    for node, bit in (path[1:] if skip_eob else path):
        enc.bool(probs[node >> 1], bit)


def _token_for(v: int) -> tuple[int, int]:
    """abs value -> (leaf code, n extra bits)."""
    if v <= 4:
        return v, 0
    for c in range(6):
        base = _CAT_BASE[c]
        span = 1 << (c + 1) if c < 5 else 1 << 11
        if v < base + span:
            return 5 + c, len(_PCAT[c])
    raise ValueError("vp8: coefficient too large")


# ----------------------------------------------------- transforms
def _idct4x4(block: np.ndarray) -> np.ndarray:
    """RFC 6386 14.3 exact integer inverse DCT (20091/35468)."""
    ip = block.astype(np.int64)
    tmp = np.empty((4, 4), dtype=np.int64)
    for j in range(4):
        a1 = ip[0, j] + ip[2, j]
        b1 = ip[0, j] - ip[2, j]
        t1 = (ip[1, j] * 35468) >> 16
        t2 = ip[3, j] + ((ip[3, j] * 20091) >> 16)
        c1 = t1 - t2
        t1 = ip[1, j] + ((ip[1, j] * 20091) >> 16)
        t2 = (ip[3, j] * 35468) >> 16
        d1 = t1 + t2
        tmp[0, j] = a1 + d1
        tmp[3, j] = a1 - d1
        tmp[1, j] = b1 + c1
        tmp[2, j] = b1 - c1
    out = np.empty((4, 4), dtype=np.int64)
    for i in range(4):
        a1 = tmp[i, 0] + tmp[i, 2]
        b1 = tmp[i, 0] - tmp[i, 2]
        t1 = (tmp[i, 1] * 35468) >> 16
        t2 = tmp[i, 3] + ((tmp[i, 3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = tmp[i, 1] + ((tmp[i, 1] * 20091) >> 16)
        t2 = (tmp[i, 3] * 35468) >> 16
        d1 = t1 + t2
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out


def _iwht4x4(block: np.ndarray) -> np.ndarray:
    """RFC 6386 14.3 inverse Walsh-Hadamard (Y2)."""
    ip = block.astype(np.int64)
    tmp = np.empty((4, 4), dtype=np.int64)
    for j in range(4):
        a1 = ip[0, j] + ip[3, j]
        b1 = ip[1, j] + ip[2, j]
        c1 = ip[1, j] - ip[2, j]
        d1 = ip[0, j] - ip[3, j]
        tmp[0, j] = a1 + b1
        tmp[1, j] = c1 + d1
        tmp[2, j] = a1 - b1
        tmp[3, j] = d1 - c1
    out = np.empty((4, 4), dtype=np.int64)
    for i in range(4):
        a1 = tmp[i, 0] + tmp[i, 3]
        b1 = tmp[i, 1] + tmp[i, 2]
        c1 = tmp[i, 1] - tmp[i, 2]
        d1 = tmp[i, 0] - tmp[i, 3]
        out[i, 0] = (a1 + b1 + 3) >> 3
        out[i, 1] = (c1 + d1 + 3) >> 3
        out[i, 2] = (a1 - b1 + 3) >> 3
        out[i, 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------- predictors
def _predict(plane: np.ndarray, mbx: int, mby: int, size: int,
             mode: int) -> np.ndarray:
    """Intra prediction for one size x size block at macroblock
    coordinates, reading reconstructed neighbors from ``plane``
    (padded frame buffer with a 1-pixel 127/129 border at [0,:] and
    [:,0] conventions handled by the caller offsets)."""
    y0 = mby * size + 1
    x0 = mbx * size + 1
    above = plane[y0 - 1, x0:x0 + size].astype(np.int64)
    left = plane[y0:y0 + size, x0 - 1].astype(np.int64)
    al = int(plane[y0 - 1, x0 - 1])
    have_above = mby > 0
    have_left = mbx > 0
    if mode == _DC:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) \
                 // (2 * size)
        elif have_above:
            dc = (int(above.sum()) + size // 2) // size
        elif have_left:
            dc = (int(left.sum()) + size // 2) // size
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int64)
    if mode == _V:
        return np.tile(above, (size, 1))
    if mode == _H:
        return np.tile(left.reshape(-1, 1), (1, size))
    if mode == _TM:
        return np.clip(left.reshape(-1, 1) + above.reshape(1, -1)
                       - al, 0, 255)
    raise ValueError("vp8: unsupported prediction mode")


# ------------------------------------------------------- decoder
def decode_vp8(data: bytes) -> tuple[np.ndarray, np.ndarray,
                                     np.ndarray]:
    """VP8 key-frame chunk payload → (Y, U, V) uint8 planes
    (Y is (h, w); U/V are the 4:2:0 half-resolution planes).
    Raises ValueError outside the verified subset (module
    docstring)."""
    try:
        return _decode_vp8(bytes(data))
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, OverflowError,
            MemoryError, ZeroDivisionError) as exc:
        raise ValueError(f"vp8: malformed stream "
                         f"({type(exc).__name__})")


def _decode_vp8(data: bytes):
    if len(data) < 10:
        raise ValueError("vp8: short payload")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("vp8: not a key frame")
    part1_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("vp8: bad start code")
    w = struct.unpack("<H", data[6:8])[0] & 0x3FFF
    h = struct.unpack("<H", data[8:10])[0] & 0x3FFF
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("vp8: dimensions exceed decode budget")
    if 10 + part1_size > len(data):
        raise ValueError("vp8: truncated first partition")
    dec = BoolDecoder(data[10:10 + part1_size])

    dec.bool(128)                          # color space
    dec.bool(128)                          # clamping
    if dec.bool(128):
        raise ValueError("vp8: segmentation out of subset")
    dec.bool(128)                          # filter type
    if dec.literal(6):
        raise ValueError("vp8: loop filter out of verified subset")
    dec.literal(3)                         # sharpness
    if dec.bool(128):
        raise ValueError("vp8: lf deltas out of subset")
    if dec.literal(2):
        raise ValueError("vp8: multiple partitions out of subset")
    y_ac_qi = dec.literal(7)
    if y_ac_qi >= len(_AC_QLOOKUP):
        raise ValueError(
            "vp8: quantizer index outside offline-verified rows")
    for _ in range(5):                     # ydc/y2dc/y2ac/uvdc/uvac
        if dec.bool(128):
            raise ValueError("vp8: quantizer delta out of subset")
    dec.bool(128)                          # refresh entropy probs

    # token probability updates; every probability must be updated
    # explicitly (the spec defaults are not offline-verifiable)
    probs = np.empty((4, 8, 3, 11), dtype=np.uint8)
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for l_ in range(11):
                    if dec.bool(_UPDATE_PRIOR):
                        probs[i, j, k, l_] = dec.literal(8)
                    else:
                        raise ValueError(
                            "vp8: default coefficient probabilities "
                            "outside offline-verified subset")
    mb_no_skip = dec.bool(128)
    if mb_no_skip:
        raise ValueError("vp8: mb_no_coeff_skip out of subset")

    mb_w = (w + 15) // 16
    mb_h = (h + 15) // 16
    # modes (first partition, after header)
    ymodes = np.empty((mb_h, mb_w), dtype=np.int64)
    uvmodes = np.empty((mb_h, mb_w), dtype=np.int64)
    for my in range(mb_h):
        for mx in range(mb_w):
            ym = dec.tree(_KF_YMODE_TREE, _KF_YMODE_PROBS)
            if ym == _BPRED:
                raise ValueError(
                    "vp8: B_PRED outside offline-verified subset")
            ymodes[my, mx] = ym
            uvmodes[my, mx] = dec.tree(_UV_MODE_TREE, _KF_UV_PROBS)

    # token partition
    tok = BoolDecoder(data[10 + part1_size:])

    ydq = (_DC_QLOOKUP[y_ac_qi], _AC_QLOOKUP[y_ac_qi])
    y2dq = (_DC_QLOOKUP[y_ac_qi] * 2,
            max(8, _AC_QLOOKUP[y_ac_qi] * 155 // 100))
    uvdq = (min(_DC_QLOOKUP[y_ac_qi], 132), _AC_QLOOKUP[y_ac_qi])

    # padded reconstruction buffers with the 127 above / 129 left
    # borders (RFC 6386 12.2)
    ypl = np.full((mb_h * 16 + 1, mb_w * 16 + 1), 129, dtype=np.int64)
    ypl[0, :] = 127
    upl = np.full((mb_h * 8 + 1, mb_w * 8 + 1), 129, dtype=np.int64)
    upl[0, :] = 127
    vpl = upl.copy()

    # nonzero context trackers (per 4x4 block granularity)
    above_y = np.zeros((mb_w, 4), dtype=np.int64)
    above_u = np.zeros((mb_w, 2), dtype=np.int64)
    above_v = np.zeros((mb_w, 2), dtype=np.int64)
    above_y2 = np.zeros(mb_w, dtype=np.int64)

    for my in range(mb_h):
        left_y = np.zeros(4, dtype=np.int64)
        left_u = np.zeros(2, dtype=np.int64)
        left_v = np.zeros(2, dtype=np.int64)
        left_y2 = 0
        for mx in range(mb_w):
            # ---- Y2 block (always present: no B_PRED in subset)
            ctx = int(above_y2[mx] + left_y2)
            c2, nz2 = _read_coeffs(tok, probs, 1, ctx, 0, y2dq)
            above_y2[mx] = left_y2 = nz2
            wht = _iwht4x4(c2.reshape(4, 4))

            # ---- luma
            pred = _predict(ypl, mx, my, 16, int(ymodes[my, mx]))
            mb = pred.copy()
            nzgrid = np.zeros((4, 4), dtype=np.int64)
            for b in range(16):
                by, bx = divmod(b, 4)
                a = above_y[mx, bx] if by == 0 else nzgrid[by - 1, bx]
                lf = left_y[by] if bx == 0 else nzgrid[by, bx - 1]
                ctx = int(a + lf)
                coefs, nz = _read_coeffs(tok, probs, 0, ctx, 1, ydq)
                nzgrid[by, bx] = nz
                blk = coefs.reshape(4, 4).copy()
                blk[0, 0] = wht[by, bx]
                res = _idct4x4(blk)
                mb[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += res
            above_y[mx] = nzgrid[3]
            left_y[:] = nzgrid[:, 3]
            ypl[my * 16 + 1:my * 16 + 17, mx * 16 + 1:mx * 16 + 17] \
                = np.clip(mb, 0, 255)

            # ---- chroma
            for pl, abv, lft, dst in ((0, above_u, left_u, upl),
                                      (1, above_v, left_v, vpl)):
                pred = _predict(dst, mx, my, 8, int(uvmodes[my, mx]))
                cb = pred.copy()
                cnz = np.zeros((2, 2), dtype=np.int64)
                for b in range(4):
                    by, bx = divmod(b, 2)
                    ctx = int((abv[mx, bx] if by == 0
                               else cnz[by - 1, bx])
                              + (lft[by] if bx == 0
                                 else cnz[by, bx - 1]))
                    coefs, nz = _read_coeffs(tok, probs, 2, ctx, 0,
                                             uvdq)
                    cnz[by, bx] = nz
                    res = _idct4x4(coefs.reshape(4, 4))
                    cb[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += res
                abv[mx] = cnz[1]
                lft[:] = cnz[:, 1]
                dst[my * 8 + 1:my * 8 + 9, mx * 8 + 1:mx * 8 + 9] \
                    = np.clip(cb, 0, 255)

    y = ypl[1:h + 1, 1:w + 1].astype(np.uint8)
    cw, ch = (w + 1) // 2, (h + 1) // 2
    u = upl[1:ch + 1, 1:cw + 1].astype(np.uint8)
    v = vpl[1:ch + 1, 1:cw + 1].astype(np.uint8)
    return y, u, v


def _read_coeffs(dec: BoolDecoder, probs: np.ndarray, ptype: int,
                 ctx: int, first: int, dq: tuple) \
        -> tuple[np.ndarray, int]:
    """Decode one 4x4 block's tokens -> (dequantized coefficients in
    raster order (16,), nonzero flag)."""
    out = np.zeros(16, dtype=np.int64)
    n = first
    skip_eob = False
    nz = 0
    while n < 16:
        band = _COEF_BANDS[n]
        p = probs[ptype, band, ctx]
        leaf = _coef_read(dec, p, skip_eob)
        if leaf == 11:                     # EOB
            break
        if leaf == 0:
            ctx = 0
            skip_eob = True
            n += 1
            continue
        if leaf <= 4:
            v = leaf
        else:
            cat = leaf - 5
            extra = 0
            for pb in _PCAT[cat]:
                extra = (extra << 1) | dec.bool(pb)
            v = _CAT_BASE[cat] + extra
        if dec.bool(128):
            v = -v
        pos = _ZIGZAG[n]
        out[pos] = v * (dq[0] if pos == 0 else dq[1])
        nz = 1
        ctx = 1 if abs(v) == 1 else 2
        skip_eob = False
        n += 1
    return out, nz


# ------------------------------------------------ fixture encoder
def _idct_matrix() -> np.ndarray:
    """Float model of the 1-D inverse DCT stage (rounding ignored):
    out = M @ c.  Used to derive forward coefficients numerically —
    the DECODER's integer transform is the ground truth."""
    k1 = 35468 / 65536.0
    k2 = 1.0 + 20091 / 65536.0
    return np.array([
        [1.0, k2, 1.0, k1],
        [1.0, k1, -1.0, -k2],
        [1.0, -k1, -1.0, k2],
        [1.0, -k2, 1.0, -k1],
    ])


_M_INV = np.linalg.inv(_idct_matrix())
_H_WHT = np.array([[1, 1, 1, 1], [1, 1, -1, -1],
                   [1, -1, -1, 1], [1, -1, 1, -1]], dtype=np.float64)


def _fdct4x4(res: np.ndarray) -> np.ndarray:
    """Forward float DCT matched to _idct4x4's linear model
    (coefficients at 8x pixel scale, like the bitstream's)."""
    return 8.0 * (_M_INV @ res.astype(np.float64) @ _M_INV.T)


def _fwht4x4(dcs: np.ndarray) -> np.ndarray:
    """Forward WHT matched to _iwht4x4 (H @ D @ H.T / 2)."""
    return _H_WHT @ dcs.astype(np.float64) @ _H_WHT.T / 2.0


def _write_coeffs(enc: BoolEncoder, probs, ptype: int, ctx: int,
                  first: int, q: np.ndarray) -> int:
    """Mirror of _read_coeffs over QUANTIZED coefficients (raster
    order, 16).  Returns the nonzero flag."""
    zz = [int(q[_ZIGZAG[n]]) for n in range(16)]
    last = -1
    for n in range(first, 16):
        if zz[n]:
            last = n
    nz = 0
    skip_eob = False
    n = first
    while n < 16:
        band = _COEF_BANDS[n]
        p = probs[ptype, band, ctx]
        if n > last:
            _coef_write(enc, p, 11, skip_eob)       # EOB
            return nz
        v = zz[n]
        if v == 0:
            _coef_write(enc, p, 0, skip_eob)
            ctx = 0
            skip_eob = True
            n += 1
            continue
        a = abs(v)
        leaf, _nbits = _token_for(a)
        _coef_write(enc, p, leaf, skip_eob)
        if leaf > 4:
            cat = leaf - 5
            extra = a - _CAT_BASE[cat]
            pc = _PCAT[cat]
            for i, pb in enumerate(pc):
                enc.bool(pb, (extra >> (len(pc) - 1 - i)) & 1)
        enc.bool(128, 1 if v < 0 else 0)
        nz = 1
        ctx = 1 if a == 1 else 2
        skip_eob = False
        n += 1
    return nz


def encode_vp8_yuv(y: np.ndarray, u: np.ndarray, v: np.ndarray,
                   qi: int = 0, ymode_grid=None,
                   uvmode_grid=None) -> bytes:
    """Encode Y (h, w) + U/V (ceil-half-res) uint8 planes as a VP8
    key-frame chunk payload.  Lossy: forward transforms are the
    float inverse of the decoder's integer IDCT/WHT, so flat regions
    reconstruct exactly and textured content lands within a few
    quantizer steps.  Prediction runs off the RECONSTRUCTED planes
    (decoder-identical), so there is no drift."""
    y = np.asarray(y, dtype=np.uint8)
    h, w = y.shape
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("vp8: fixture exceeds sample budget")
    if qi >= len(_AC_QLOOKUP):
        raise ValueError("vp8: quantizer index outside verified rows")
    cw, ch = (w + 1) // 2, (h + 1) // 2
    u = np.asarray(u, dtype=np.uint8)
    v = np.asarray(v, dtype=np.uint8)
    if u.shape != (ch, cw) or v.shape != (ch, cw):
        raise ValueError("vp8: chroma plane shape mismatch")
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16

    ydq = (_DC_QLOOKUP[qi], _AC_QLOOKUP[qi])
    y2dq = (_DC_QLOOKUP[qi] * 2, max(8, _AC_QLOOKUP[qi] * 155 // 100))
    uvdq = (min(_DC_QLOOKUP[qi], 132), _AC_QLOOKUP[qi])

    # pad targets to the macroblock grid by edge replication
    yt = np.pad(y.astype(np.int64),
                ((0, mb_h * 16 - h), (0, mb_w * 16 - w)), mode="edge")
    ut = np.pad(u.astype(np.int64),
                ((0, mb_h * 8 - ch), (0, mb_w * 8 - cw)), mode="edge")
    vt = np.pad(v.astype(np.int64),
                ((0, mb_h * 8 - ch), (0, mb_w * 8 - cw)), mode="edge")

    if ymode_grid is None:
        ymode_grid = np.full((mb_h, mb_w), _DC, dtype=np.int64)
    if uvmode_grid is None:
        uvmode_grid = np.full((mb_h, mb_w), _DC, dtype=np.int64)

    probs = np.full((4, 8, 3, 11), 128, dtype=np.uint8)

    # ---- header partition (modes included)
    enc = BoolEncoder()
    enc.bool(128, 0)                      # color space
    enc.bool(128, 0)                      # clamping
    enc.bool(128, 0)                      # segmentation off
    enc.bool(128, 0)                      # filter type
    enc.literal(0, 6)                     # loop filter level 0
    enc.literal(0, 3)                     # sharpness
    enc.bool(128, 0)                      # lf deltas off
    enc.literal(0, 2)                     # one token partition
    enc.literal(qi, 7)                    # y_ac_qi
    for _ in range(5):
        enc.bool(128, 0)                  # no quantizer deltas
    enc.bool(128, 1)                      # refresh entropy probs
    for i in range(4):                    # update EVERY token prob
        for j in range(8):
            for k in range(3):
                for l_ in range(11):
                    enc.bool(_UPDATE_PRIOR, 1)
                    enc.literal(int(probs[i, j, k, l_]), 8)
    enc.bool(128, 0)                      # mb_no_coeff_skip off
    for my in range(mb_h):
        for mx in range(mb_w):
            enc.tree(_KF_YMODE_TREE, _KF_YMODE_PROBS,
                     int(ymode_grid[my, mx]))
            enc.tree(_UV_MODE_TREE, _KF_UV_PROBS,
                     int(uvmode_grid[my, mx]))

    # ---- token partition, reconstructing as the decoder would
    tok = BoolEncoder()
    ypl = np.full((mb_h * 16 + 1, mb_w * 16 + 1), 129, dtype=np.int64)
    ypl[0, :] = 127
    upl = np.full((mb_h * 8 + 1, mb_w * 8 + 1), 129, dtype=np.int64)
    upl[0, :] = 127
    vpl = upl.copy()
    above_y = np.zeros((mb_w, 4), dtype=np.int64)
    above_u = np.zeros((mb_w, 2), dtype=np.int64)
    above_v = np.zeros((mb_w, 2), dtype=np.int64)
    above_y2 = np.zeros(mb_w, dtype=np.int64)

    for my in range(mb_h):
        left_y = np.zeros(4, dtype=np.int64)
        left_u = np.zeros(2, dtype=np.int64)
        left_v = np.zeros(2, dtype=np.int64)
        left_y2 = 0
        for mx in range(mb_w):
            pred = _predict(ypl, mx, my, 16, int(ymode_grid[my, mx]))
            res = yt[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] \
                - pred
            # forward DCT each 4x4; DCs ride the Y2/WHT path
            qy = np.zeros((16, 16), dtype=np.int64)
            dcs = np.empty((4, 4), dtype=np.float64)
            fblocks = {}
            for b in range(16):
                by, bx = divmod(b, 4)
                c = _fdct4x4(res[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
                dcs[by, bx] = c[0, 0]
                fblocks[b] = c
            y2q = np.round(_fwht4x4(dcs)
                           / np.where(np.arange(16).reshape(4, 4)
                                      == 0, y2dq[0], y2dq[1])
                           ).astype(np.int64)
            # Y2 tokens
            ctx = int(above_y2[mx] + left_y2)
            nz2 = _write_coeffs(tok, probs, 1, ctx, 0,
                                y2q.reshape(16))
            above_y2[mx] = left_y2 = nz2
            wht = _iwht4x4(y2q.reshape(4, 4)
                           * np.where(np.arange(16).reshape(4, 4)
                                      == 0, y2dq[0],
                                      y2dq[1]).astype(np.int64))
            # luma AC tokens + reconstruction
            mb = pred.copy()
            nzgrid = np.zeros((4, 4), dtype=np.int64)
            for b in range(16):
                by, bx = divmod(b, 4)
                c = fblocks[b]
                q = np.zeros(16, dtype=np.int64)
                flat = c.reshape(16)
                for n in range(1, 16):
                    q[n] = int(round(flat[n] / ydq[1]))
                a = above_y[mx, bx] if by == 0 else nzgrid[by - 1, bx]
                lf = left_y[by] if bx == 0 else nzgrid[by, bx - 1]
                nz = _write_coeffs(tok, probs, 0, int(a + lf), 1, q)
                nzgrid[by, bx] = nz
                blk = (q * ydq[1]).reshape(4, 4).copy()
                blk[0, 0] = wht[by, bx]
                mb[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += \
                    _idct4x4(blk)
            above_y[mx] = nzgrid[3]
            left_y[:] = nzgrid[:, 3]
            ypl[my * 16 + 1:my * 16 + 17,
                mx * 16 + 1:mx * 16 + 17] = np.clip(mb, 0, 255)
            # chroma
            for tgt, abv, lft, dst in ((ut, above_u, left_u, upl),
                                       (vt, above_v, left_v, vpl)):
                predc = _predict(dst, mx, my, 8,
                                 int(uvmode_grid[my, mx]))
                resc = tgt[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] \
                    - predc
                cb = predc.copy()
                cnz = np.zeros((2, 2), dtype=np.int64)
                for b in range(4):
                    by, bx = divmod(b, 2)
                    c = _fdct4x4(
                        resc[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
                    q = np.zeros(16, dtype=np.int64)
                    flat = c.reshape(16)
                    q[0] = int(round(flat[0] / uvdq[0]))
                    for n in range(1, 16):
                        q[n] = int(round(flat[n] / uvdq[1]))
                    a = abv[mx, bx] if by == 0 else cnz[by - 1, bx]
                    lf = lft[by] if bx == 0 else cnz[by, bx - 1]
                    nz = _write_coeffs(tok, probs, 2, int(a + lf),
                                       0, q)
                    cnz[by, bx] = nz
                    dq = q.copy()
                    dq[0] *= uvdq[0]
                    dq[1:] *= uvdq[1]
                    cb[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += \
                        _idct4x4(dq.reshape(4, 4))
                abv[mx] = cnz[1]
                lft[:] = cnz[:, 1]
                dst[my * 8 + 1:my * 8 + 9,
                    mx * 8 + 1:mx * 8 + 9] = np.clip(cb, 0, 255)

    part1 = enc.flush()
    part2 = tok.flush()
    # frame tag: keyframe(bit0=0), version 0, show_frame (bit 4)
    tag = (len(part1) << 5) | (1 << 4)
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a"
    head += struct.pack("<HH", w, h)
    return head + part1 + part2


def encode_vp8(gray: np.ndarray, qi: int = 0, **kw) -> bytes:
    """Grey (h, w) convenience wrapper: Y = gray, U = V = 128."""
    g = np.asarray(gray, dtype=np.uint8)
    h, w = g.shape
    cw, ch = (w + 1) // 2, (h + 1) // 2
    flat = np.full((ch, cw), 128, dtype=np.uint8)
    return encode_vp8_yuv(g, flat, flat, qi=qi, **kw)


def encode_webp_vp8(gray: np.ndarray, **kw) -> bytes:
    """Wrap :func:`encode_vp8` in a RIFF/WebP container."""
    payload = encode_vp8(gray, **kw)
    if len(payload) % 2:
        payload += b"\x00"
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + payload
    return (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP"
            + chunk)
