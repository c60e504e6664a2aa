"""FLAC sample decode, from the spec (RFC 9639 / the FLAC format
document).  Upgrades the round-5 STREAMINFO header walk
(audiocodec.parse_flac) to REAL PCM samples for the biggest lossless
crawl-audio container, the same move WAV made in round 4: frame
headers (all block-size/rate/depth codes, UTF-8-coded frame numbers,
CRC-8), subframes (CONSTANT / VERBATIM / FIXED 0-4 / LPC up to order
32, wasted bits), Rice-partitioned residuals (4- and 5-bit parameter
widths, escape partitions), stereo decorrelation (left/side,
right/side, mid/side) and the frame CRC-16 — integer-exact, so a
numpy oracle mirror is bit-identical.

The reference routes audio to an external transcription API
(internal/extractors/audio/transcribe.go:40-126); it never decodes
samples itself.  Decoding locally is what gives the batch pipeline
duration/energy/crossing curation signals without that service.

Decode-bomb posture mirrors the image kernels: total decoded cells
are capped by audiocodec.MAX_SAMPLES, per-frame block sizes by the
format's own 65535 ceiling, and every malformed input raises
ValueError (the public entry is wrapped `_never_raises`-style by the
mapInArrow operators that call it).

The encoder half exists for fixtures/tests only: it emits CONSTANT /
VERBATIM / FIXED-order subframes with correct Rice residuals and all
four stereo modes, so round-trip tests cover every decoder path
without any third-party FLAC tooling.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MAX_BLOCK = 65535          # format ceiling on a frame's block size
MAX_LPC_ORDER = 32

# Every FLAC sample rides a per-sample Python path (Rice codes, LPC
# recurrences), so the budget mirrors jbig2.ARITH_MAX_PIXELS rather
# than the vectorized WAV decoder's 1<<26: ~4.2M samples ≈ 47 s of
# 44.1 kHz stereo, a few seconds of CPU worst-case.  Longer streams
# raise ValueError and fall back to the STREAMINFO header walk.
MAX_FLAC_SAMPLES = 1 << 22

_FIXED_COEFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}

_RATE_CODES = {
    0b0001: 88200, 0b0010: 176400, 0b0011: 192000, 0b0100: 8000,
    0b0101: 16000, 0b0110: 22050, 0b0111: 24000, 0b1000: 32000,
    0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}
_DEPTH_CODES = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20,
                0b110: 24, 0b111: 32}


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 — whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _BitReader:
    """MSB-first bit reader over bytes."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        while n:
            if self.byte >= len(self.data):
                raise ValueError("flac: truncated stream")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            n -= take
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        """Count 0-bits up to the terminating 1-bit."""
        n = 0
        while True:
            if self.read(1):
                return n
            n += 1
            if n > 1 << 20:
                raise ValueError("flac: runaway unary code")

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _read_coded_number(r: _BitReader, max_bytes: int) -> int:
    """The frame header's UTF-8-style extended coded number (frame or
    sample index) — up to 6 bytes for frame numbers, 7 for sample
    numbers."""
    first = r.read(8)
    if first < 0x80:
        return first
    n_follow = 0
    mask = 0x40
    while first & mask:
        n_follow += 1
        mask >>= 1
    if n_follow < 1 or n_follow + 1 > max_bytes:
        raise ValueError("flac: bad coded number")
    v = first & (mask - 1)
    for _ in range(n_follow):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


def _read_residual(r: _BitReader, block_size: int, order: int) -> np.ndarray:
    """Rice-partitioned residual section -> int64 array of
    block_size - order values."""
    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    n_part = 1 << porder
    if block_size % n_part or (block_size >> porder) <= order:
        raise ValueError("flac: bad rice partition order")
    out = np.empty(block_size - order, dtype=np.int64)
    pos = 0
    for p in range(n_part):
        count = (block_size >> porder) - (order if p == 0 else 0)
        param = r.read(pbits)
        if param == escape:
            raw_bits = r.read(5)
            for i in range(count):
                out[pos + i] = r.read_signed(raw_bits) if raw_bits else 0
        else:
            for i in range(count):
                q = r.read_unary()
                v = (q << param) | (r.read(param) if param else 0)
                out[pos + i] = (v >> 1) ^ -(v & 1)   # zig-zag
        pos += count
    if out.size and int(np.abs(out).max()) >= 1 << 36:
        # legit encoders never emit residuals near this; the cap keeps
        # the cumsum reconstruction safely inside int64
        raise ValueError("flac: residual magnitude out of range")
    return out


def _read_subframe(r: _BitReader, block_size: int, depth: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    depth -= wasted
    if depth <= 0 or depth > 33:
        raise ValueError("flac: bad effective bit depth")
    if ftype == 0:
        out = np.full(block_size, r.read_signed(depth), dtype=np.int64)
    elif ftype == 1:
        out = np.empty(block_size, dtype=np.int64)
        for i in range(block_size):
            out[i] = r.read_signed(depth)
    elif 0b001000 <= ftype <= 0b001100:
        order = ftype & 0x07
        if order > 4 or order > block_size:
            raise ValueError("flac: bad fixed order")
        warm = np.array([r.read_signed(depth) for _ in range(order)],
                        dtype=np.int64)
        resid = _read_residual(r, block_size, order)
        # the order-o fixed predictor's residual IS the o-th finite
        # difference of the signal, so reconstruction is o cumulative
        # sums, each seeded with Δ^(k-1)s[o-1] from the warmup —
        # vectorized (the per-sample recurrence is Python-slow)
        out = np.empty(block_size, dtype=np.int64)
        out[:order] = warm
        arr = resid
        for k in range(order, 0, -1):
            init = int(np.diff(warm, k - 1)[-1])
            arr = np.cumsum(arr) + init
            if arr.size and int(np.abs(arr).max()) >= 1 << 40:
                raise ValueError("flac: fixed prediction overflow")
        out[order:] = arr
    elif ftype >= 0b100000:
        order = (ftype & 0x1F) + 1
        if order > MAX_LPC_ORDER or order > block_size:
            raise ValueError("flac: bad lpc order")
        warm = [r.read_signed(depth) for _ in range(order)]
        prec = r.read(4)
        if prec == 0b1111:
            raise ValueError("flac: invalid qlp precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative qlp shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        resid = _read_residual(r, block_size, order)
        # LPC recurrence is inherently sequential; run it over Python
        # ints (arbitrary precision, ~4x faster than numpy scalar
        # indexing) under the MAX_FLAC_SAMPLES budget
        hist = [int(v) for v in warm]
        rlist = resid.tolist()
        for i in range(block_size - order):
            pred = 0
            for j in range(order):
                pred += coefs[j] * hist[-1 - j]
            hist.append(rlist[i] + (pred >> shift))
        out = np.array(hist, dtype=np.int64)
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        out <<= wasted
    return out


def _decode_frame(data: bytes, pos: int, info: dict) -> tuple[np.ndarray, int]:
    """Decode one frame starting at byte pos -> (samples[frames,
    channels] int64, next byte pos)."""
    r = _BitReader(data, pos)
    sync = r.read(14)
    if sync != 0b11111111111110:
        raise ValueError("flac: bad frame sync")
    if r.read(1):
        raise ValueError("flac: reserved frame-header bit set")
    variable = r.read(1)
    bs_code = r.read(4)
    rate_code = r.read(4)
    chan_code = r.read(4)
    depth_code = r.read(3)
    if r.read(1):
        raise ValueError("flac: reserved frame-header bit set")
    _read_coded_number(r, 7 if variable else 6)
    if bs_code == 0:
        raise ValueError("flac: reserved block-size code")
    elif bs_code == 1:
        block_size = 192
    elif bs_code <= 5:
        block_size = 576 << (bs_code - 2)
    elif bs_code == 6:
        block_size = r.read(8) + 1
    elif bs_code == 7:
        block_size = r.read(16) + 1
    else:
        block_size = 256 << (bs_code - 8)
    if rate_code == 0:
        rate = info["sample_rate"]
    elif rate_code in _RATE_CODES:
        rate = _RATE_CODES[rate_code]
    elif rate_code == 0b1100:
        rate = r.read(8) * 1000
    elif rate_code == 0b1101:
        rate = r.read(16)
    elif rate_code == 0b1110:
        rate = r.read(16) * 10
    else:
        raise ValueError("flac: invalid sample-rate code")
    if rate != info["sample_rate"]:
        raise ValueError("flac: frame rate disagrees with STREAMINFO")
    if depth_code == 0:
        depth = info["bits_per_sample"]
    elif depth_code in _DEPTH_CODES:
        depth = _DEPTH_CODES[depth_code]
    else:
        raise ValueError("flac: reserved sample-size code")
    r.align()  # coded number/extras end byte-aligned already; no-op
    header_end = r.byte
    if _crc8(data[pos:header_end]) != r.read(8):
        raise ValueError("flac: frame header crc mismatch")

    if chan_code <= 7:
        channels = chan_code + 1
        subs = [_read_subframe(r, block_size, depth)
                for _ in range(channels)]
        frame = np.stack(subs, axis=1)
    elif chan_code in (8, 9, 10):
        channels = 2
        # the SIDE channel carries one extra bit
        if chan_code == 8:      # left/side
            left = _read_subframe(r, block_size, depth)
            side = _read_subframe(r, block_size, depth + 1)
            frame = np.stack([left, left - side], axis=1)
        elif chan_code == 9:    # right/side
            side = _read_subframe(r, block_size, depth + 1)
            right = _read_subframe(r, block_size, depth)
            frame = np.stack([right + side, right], axis=1)
        else:                   # mid/side
            mid = _read_subframe(r, block_size, depth)
            side = _read_subframe(r, block_size, depth + 1)
            mid2 = (mid << 1) | (side & 1)
            frame = np.stack([(mid2 + side) >> 1, (mid2 - side) >> 1],
                             axis=1)
    else:
        raise ValueError("flac: reserved channel assignment")
    if channels != info["channels"]:
        raise ValueError("flac: frame channels disagree with STREAMINFO")
    r.align()
    crc = r.read(16)
    if _crc16(data[pos:r.byte - 2]) != crc:
        raise ValueError("flac: frame crc mismatch")
    lo = -(1 << (depth - 1))
    hi = (1 << (depth - 1)) - 1
    if frame.min() < lo or frame.max() > hi:
        raise ValueError("flac: decoded sample out of range")
    return frame, r.byte


def decode_flac(data: bytes) -> tuple[int, int, np.ndarray]:
    """FLAC bytes -> (sample_rate, channels, int32 samples[frames,
    channels]).  Verifies every frame CRC and, when STREAMINFO
    carries a nonzero MD5 and the depth is byte-aligned, the
    stream-level MD5 of the decoded samples."""
    info, samples = decode_flac_full(data)
    return info["sample_rate"], info["channels"], samples


def decode_flac_full(data: bytes) -> tuple[dict, np.ndarray]:
    """decode_flac plus the parsed STREAMINFO dict (sample_rate,
    channels, bits_per_sample, total_samples, md5) so callers that
    also want header fields avoid a second metadata walk."""
    if len(data) < 8 or data[:4] != b"fLaC":
        raise ValueError("flac: bad magic or truncated")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("flac: truncated metadata")
        hdr = data[pos]
        size = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + size]
        if len(body) < size:
            raise ValueError("flac: truncated metadata block")
        if pos == 4:
            if hdr & 0x7F:
                raise ValueError("flac: first block is not STREAMINFO")
            if size < 34:
                raise ValueError("flac: STREAMINFO too short")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "md5": body[18:34],
            }
            if info["sample_rate"] == 0:
                raise ValueError("flac: zero sample rate")
        pos += 4 + size
        if hdr & 0x80:
            break
    assert info is not None
    channels = info["channels"]
    frames: list[np.ndarray] = []
    total = 0
    while pos < len(data):
        frame, pos = _decode_frame(data, pos, info)
        total += frame.size
        if total > MAX_FLAC_SAMPLES:
            raise ValueError("flac: too many samples")
        frames.append(frame)
    if not frames:
        raise ValueError("flac: no audio frames")
    samples = np.concatenate(frames, axis=0)
    if info["total_samples"] and samples.shape[0] != info["total_samples"]:
        raise ValueError("flac: sample count disagrees with STREAMINFO")
    bits = info["bits_per_sample"]
    if info["md5"] != b"\x00" * 16 and bits % 8 == 0:
        width = bits // 8
        le = _pack_le(samples, width)
        if hashlib.md5(le).digest() != info["md5"]:
            raise ValueError("flac: stream md5 mismatch")
    return info, samples.astype(np.int32)


def _pack_le(samples: np.ndarray, width: int) -> bytes:
    """Interleaved little-endian sample bytes (the MD5 input)."""
    flat = samples.astype(np.int64).ravel()
    out = np.empty((flat.size, width), dtype=np.uint8)
    u = flat & ((1 << (8 * width)) - 1)
    for i in range(width):
        out[:, i] = (u >> (8 * i)) & 0xFF
    return out.tobytes()


# --- fixture-side encoder -------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _write_coded_number(w: _BitWriter, v: int) -> None:
    if v < 0x80:
        w.write(v, 8)
        return
    chunks = []
    nbytes = 1
    while True:
        nbytes += 1
        if v < (1 << (6 * (nbytes - 1) + (7 - nbytes))):
            break
    for _ in range(nbytes - 1):
        chunks.append(0x80 | (v & 0x3F))
        v >>= 6
    lead = ((0xFF << (8 - nbytes)) & 0xFF) | v
    w.write(lead, 8)
    for c in reversed(chunks):
        w.write(c, 8)


def _write_residual(w: _BitWriter, resid: np.ndarray) -> None:
    """Single-partition (order 0) Rice section with a parameter that
    bounds every quotient at <= 1."""
    zig = np.where(resid >= 0, resid.astype(np.int64) << 1,
                   ((-resid.astype(np.int64)) << 1) - 1)
    param = max(int(zig.max()).bit_length() - 1, 0) if zig.size else 0
    if param >= 15:
        w.write(0b01, 2)        # 5-bit parameter width
        w.write(0, 4)
        w.write(param, 5)
    else:
        w.write(0b00, 2)
        w.write(0, 4)
        w.write(param, 4)
    for z in zig:
        z = int(z)
        w.write_unary(z >> param)
        if param:
            w.write(z & ((1 << param) - 1), param)


def _write_subframe(w: _BitWriter, ch: np.ndarray, depth: int,
                    fixed_order: int | None) -> None:
    ch = ch.astype(np.int64)
    w.write(0, 1)
    if ch.size and (ch == ch[0]).all():
        w.write(0b000000, 6)
        w.write(0, 1)
        w.write(int(ch[0]), depth)
        return
    order = fixed_order
    if order is not None and order > 0 and ch.size > order:
        w.write(0b001000 | order, 6)
        w.write(0, 1)
        for v in ch[:order]:
            w.write(int(v), depth)
        coefs = _FIXED_COEFS[order]
        resid = ch[order:].copy()
        for j, c in enumerate(coefs):
            resid -= c * ch[order - 1 - j:ch.size - 1 - j]
        _write_residual(w, resid)
        return
    if order == 0:
        w.write(0b001000, 6)
        w.write(0, 1)
        _write_residual(w, ch)
        return
    w.write(0b000001, 6)        # verbatim
    w.write(0, 1)
    for v in ch:
        w.write(int(v), depth)


def encode_flac(samples: np.ndarray, rate: int, bits: int = 16,
                block_size: int = 4096, stereo_mode: str = "indep",
                fixed_order: int | None = None,
                with_md5: bool = True) -> bytes:
    """(frames,) or (frames, channels) ints -> a spec-conformant FLAC
    stream built from CONSTANT / VERBATIM / FIXED subframes.  Fixture
    and test use only — production never encodes."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    frames, channels = arr.shape
    if stereo_mode != "indep" and channels != 2:
        raise ValueError("stereo_mode needs 2 channels")
    md5 = hashlib.md5(_pack_le(arr, bits // 8)).digest() \
        if with_md5 and bits % 8 == 0 else b"\x00" * 16
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) \
        | frames
    streaminfo = (struct.pack(">HH", block_size, block_size)
                  + b"\x00" * 6
                  + packed.to_bytes(8, "big") + md5)
    out = bytearray(b"fLaC" + b"\x80" + (34).to_bytes(3, "big")
                    + streaminfo)
    frame_no = 0
    for start in range(0, frames, block_size):
        blk = arr[start:start + block_size]
        n = blk.shape[0]
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)           # fixed blocking strategy
        w.write(0b0111, 4)      # 16-bit block size at header end
        w.write(0b0000, 4)      # rate from STREAMINFO
        if stereo_mode == "indep":
            w.write(channels - 1, 4)
        else:
            w.write({"left_side": 8, "right_side": 9,
                     "mid_side": 10}[stereo_mode], 4)
        w.write(0, 3)           # depth from STREAMINFO
        w.write(0, 1)
        _write_coded_number(w, frame_no)
        w.write(n - 1, 16)
        hdr = bytes(w.buf)
        assert w.nbits == 0
        w.write(_crc8(hdr), 8)
        if stereo_mode == "indep":
            for c in range(channels):
                _write_subframe(w, blk[:, c], bits, fixed_order)
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if stereo_mode == "left_side":
                _write_subframe(w, left, bits, fixed_order)
                _write_subframe(w, side, bits + 1, fixed_order)
            elif stereo_mode == "right_side":
                _write_subframe(w, side, bits + 1, fixed_order)
                _write_subframe(w, right, bits, fixed_order)
            else:
                mid = (left + right) >> 1
                _write_subframe(w, mid, bits, fixed_order)
                _write_subframe(w, side, bits + 1, fixed_order)
        w.align()
        body = bytes(w.buf)
        w.write(_crc16(body), 16)
        out += w.bytes()
        frame_no += 1
    return bytes(out)
