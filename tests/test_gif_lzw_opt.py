"""r8 optimization parity pin: the vectorized GIF LZW decoder must be
byte-identical to the per-byte loop in tests/reference/imgcodec.py on
valid streams AND raise the same errors on invalid/oversized ones."""

from __future__ import annotations

import random

import numpy as np

from pdf_to_text_extraction_service_spark.kernel import imgcodec
from pdf_to_text_extraction_service_spark.kernel.imgcodec import (
    _gif_lzw_decode,
)
from tests.reference.imgcodec import gif_lzw_decode


def _both(min_code, data, max_pixels):
    try:
        a = ("ok", _gif_lzw_decode(min_code, data, max_pixels))
    except ValueError as e:
        a = ("err", str(e))
    try:
        b = ("ok", gif_lzw_decode(min_code, data, max_pixels))
    except ValueError as e:
        b = ("err", str(e))
    return a, b


def _decode_gif_with(decoder, payload):
    orig = imgcodec._gif_lzw_decode
    imgcodec._gif_lzw_decode = decoder
    try:
        return imgcodec._decode_gif(payload)
    finally:
        imgcodec._gif_lzw_decode = orig


def test_full_gif_decode_parity_with_reference():
    """Whole-container decode with the vectorized vs reference LZW:
    gradients (table growth to full + CLEAR resets), constant images
    (pure KwKwK chains), tiled repeats, random noise, odd sizes."""
    rng = np.random.default_rng(11)
    cases = []
    for h, w in [(16, 16), (64, 64), (120, 90), (256, 256),
                 (300, 500), (37, 201)]:
        cases.append((np.add.outer(np.arange(h), np.arange(w)) % 256)
                     .astype(np.uint8))
        cases.append(np.zeros((h, w), dtype=np.uint8))
        cases.append(rng.integers(0, 256, (h, w)).astype(np.uint8))
        cases.append(np.tile(
            rng.integers(0, 5, (8, w)).astype(np.uint8),
            (max(h // 8, 1), 1)))
    for img in cases:
        payload = imgcodec.encode_gif(img)
        a = _decode_gif_with(_gif_lzw_decode, payload)
        b = _decode_gif_with(gif_lzw_decode, payload)
        assert np.array_equal(a, b), img.shape


def test_lzw_fuzz_parity_with_reference():
    """Random byte streams: identical output or identical error."""
    rng = random.Random(42)
    for trial in range(400):
        min_code = rng.choice([2, 3, 4, 8, 11])
        ln = rng.randrange(0, 150)
        data = bytes(rng.randrange(256) for _ in range(ln))
        a, b = _both(min_code, data, 1 << 20)
        assert a == b, (trial, min_code, data.hex())


def test_lzw_slice_and_budget_parity():
    """Slices of real encoder streams under varying min_code and
    pixel budgets (exercises truncation, bad codes, and the
    max_pixels ValueError at the same position)."""
    img = (np.arange(96 * 96) % 251).astype(np.uint8).reshape(96, 96)
    data = imgcodec.encode_gif(img)
    rng = random.Random(7)
    for _ in range(150):
        lo = rng.randrange(0, len(data) - 2)
        hi = rng.randrange(lo + 1, min(lo + 300, len(data)))
        mc = rng.choice([2, 4, 8])
        cap = rng.choice([4, 64, 1 << 20])
        a, b = _both(mc, data[lo:hi], cap)
        assert a == b


def _pack_codes(codes, widths):
    acc = nbits = 0
    out = bytearray()
    for c, w in zip(codes, widths):
        acc |= c << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_synthetic_code_sequences_parity():
    """Directly packed code sequences: alternating CLEAR/data runs
    with injected violations (double CLEAR, double data, bad codes,
    EOI at both parities) — the fast-path edges."""
    rng = random.Random(99)
    for trial in range(300):
        mc = rng.choice([2, 4, 8])
        clear, eoi = 1 << mc, (1 << mc) + 1
        w0 = mc + 1
        codes = []
        for _ in range(rng.randrange(1, 60)):
            r = rng.random()
            if r < 0.55:
                codes += [clear, rng.randrange(0, clear)]
            elif r < 0.7:
                codes += [clear, clear]
            elif r < 0.8:
                codes += [rng.randrange(0, clear + 4)]
            elif r < 0.9:
                codes += [clear, rng.randrange(0, clear),
                          rng.randrange(0, clear + 4)]
            else:
                codes += [eoi]
        # constant-width packing is only faithful while the decoder
        # stays width-stable; restrict sequences accordingly: cap
        # data-run length below the first width bump
        data = _pack_codes(codes, [w0] * len(codes))
        cap = rng.choice([3, 17, 1 << 20])
        a, b = _both(mc, data, cap)
        assert a == b, (trial, mc, codes[:20], cap)
