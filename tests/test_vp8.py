"""WebP VP8 lossy key-frame codec (kernel/vp8.py).

The reference accepts .webp payloads into its image path and posts
the bytes to external vision APIs (internal/extractors/image/
image.go extension list); this engine decodes the RFC 6386 key-frame
subset itself so curation signals (dims, luma stats, thumbnails)
come from real pixels.  The offline-verification boundary (default
coefficient probabilities, qi > 3, B_PRED, loop filter) rejects with
ValueError instead of guessing — see the module docstring.
"""

import numpy as np
import pytest

from pdf_to_text_extraction_service_spark.kernel import vp8


def test_flat_exact_all_values_and_shapes():
    """Flat frames reconstruct EXACTLY: high coefficients quantize
    to zero and the Y2 DC path is integer-exact (8d trick) — the
    closed-form oracle anchor for the driver query."""
    for val in (0, 1, 64, 128, 200, 255):
        for shape in ((16, 16), (32, 48), (17, 23), (48, 31), (5, 3)):
            img = np.full(shape, val, np.uint8)
            y, u, v = vp8.decode_vp8(vp8.encode_vp8(img))
            assert y.dtype == np.uint8 and y.shape == shape
            assert (y == img).all()
            assert (u == 128).all() and (v == 128).all()


def test_structured_content_tolerance():
    yy, xx = np.mgrid[0:48, 0:64]
    imgs = [((xx * 255) // 63).astype(np.uint8),
            ((xx * 3 + yy * 2) % 251).astype(np.uint8),
            np.where((yy % 12 < 2) & (xx % 5 < 4),
                     20, 245).astype(np.uint8)]
    for qi in range(4):
        for img in imgs:
            y, _u, _v = vp8.decode_vp8(vp8.encode_vp8(img, qi=qi))
            err = np.abs(y.astype(int) - img.astype(int)).max()
            assert err <= 12, (qi, err)


@pytest.mark.parametrize("mode", [1, 2, 3])   # V / H / TM
def test_prediction_modes(mode):
    yy, xx = np.mgrid[0:48, 0:64]
    img = ((xx * 255) // 63).astype(np.uint8)
    g = np.full((3, 4), mode)
    y, _u, _v = vp8.decode_vp8(
        vp8.encode_vp8(img, ymode_grid=g, uvmode_grid=g))
    assert np.abs(y.astype(int) - img.astype(int)).max() <= 16


def test_chroma_planes_flat_exact():
    yy, xx = np.mgrid[0:48, 0:64]
    yp = ((xx + yy) % 256).astype(np.uint8)
    up = np.full((24, 32), 90, np.uint8)
    vp = np.full((24, 32), 170, np.uint8)
    y, u, v = vp8.decode_vp8(vp8.encode_vp8_yuv(yp, up, vp))
    assert (u == up).all() and (v == vp).all()
    assert np.abs(y.astype(int) - yp.astype(int)).max() <= 12


def test_parse_dimensions_and_webp_container():
    from pdf_to_text_extraction_service_spark.kernel import imgcodec

    img = np.full((24, 40), 9, np.uint8)
    webp = vp8.encode_webp_vp8(img)
    assert imgcodec.webp_dims(webp) == ("vp8", 40, 24)


def test_subset_rejections():
    """Streams depending on offline-unverifiable constants raise the
    documented ValueError instead of decoding garbage."""
    def header(body_fn):
        enc = vp8.BoolEncoder()
        body_fn(enc)
        part1 = enc.flush()
        tag = (len(part1) << 5) | (1 << 4)
        return (bytes((tag & 0xFF, (tag >> 8) & 0xFF,
                       (tag >> 16) & 0xFF)) + b"\x9d\x01\x2a"
                + (16).to_bytes(2, "little")
                + (16).to_bytes(2, "little") + part1)

    def base_bits(enc, *, seg=0, lf=0, parts=0, qi=0, dq=0):
        enc.bool(128, 0)
        enc.bool(128, 0)
        enc.bool(128, seg)
        if seg:
            return
        enc.bool(128, 0)
        enc.literal(lf, 6)
        if lf:
            return
        enc.literal(0, 3)
        enc.bool(128, 0)
        enc.literal(parts, 2)
        if parts:
            return
        enc.literal(qi, 7)
        if qi > 3:
            return
        enc.bool(128, dq)
        if dq:
            return
        for _ in range(4):
            enc.bool(128, 0)              # remaining quant deltas

    with pytest.raises(ValueError, match="segmentation"):
        vp8.decode_vp8(header(lambda e: base_bits(e, seg=1)))
    with pytest.raises(ValueError, match="loop filter"):
        vp8.decode_vp8(header(lambda e: base_bits(e, lf=3)))
    with pytest.raises(ValueError, match="partitions"):
        vp8.decode_vp8(header(lambda e: base_bits(e, parts=1)))
    with pytest.raises(ValueError, match="quantizer index"):
        vp8.decode_vp8(header(lambda e: base_bits(e, qi=60)))
    with pytest.raises(ValueError, match="quantizer delta"):
        vp8.decode_vp8(header(lambda e: base_bits(e, dq=1)))

    # default-coefficient-probability dependence: first update flag 0
    def no_update(enc):
        base_bits(enc)
        enc.bool(128, 1)                  # refresh entropy
        enc.bool(vp8._UPDATE_PRIOR, 0)    # leave prob at default
    with pytest.raises(ValueError, match="default coefficient"):
        vp8.decode_vp8(header(no_update))

    # B_PRED macroblock
    def bpred(enc):
        base_bits(enc)
        enc.bool(128, 1)
        for _ in range(4 * 8 * 3 * 11):
            enc.bool(vp8._UPDATE_PRIOR, 1)
            enc.literal(128, 8)
        enc.bool(128, 0)                  # mb_no_coeff_skip
        enc.tree(vp8._KF_YMODE_TREE, vp8._KF_YMODE_PROBS, vp8._BPRED)
    with pytest.raises(ValueError, match="B_PRED"):
        vp8.decode_vp8(header(bpred))

    # non-keyframe and bad start code
    good = vp8.encode_vp8(np.full((16, 16), 5, np.uint8))
    bad = bytearray(good)
    bad[0] |= 1
    with pytest.raises(ValueError, match="key frame"):
        vp8.decode_vp8(bytes(bad))
    bad = bytearray(good)
    bad[3] = 0
    with pytest.raises(ValueError, match="start code"):
        vp8.decode_vp8(bytes(bad))


def test_decode_budget():
    with pytest.raises(ValueError, match="budget"):
        vp8.encode_vp8(np.zeros((1024, 1024), np.uint8))
    # header claiming huge dims is rejected before allocation
    good = bytearray(vp8.encode_vp8(np.full((16, 16), 5, np.uint8)))
    good[6:8] = (0x3FFF).to_bytes(2, "little")
    good[8:10] = (0x3FFF).to_bytes(2, "little")
    with pytest.raises(ValueError, match="budget"):
        vp8.decode_vp8(bytes(good))


def test_mutation_fuzz_valueerror_only():
    rng = np.random.default_rng(37)
    base = vp8.encode_vp8(
        (rng.integers(0, 256, (32, 32))).astype(np.uint8))
    for _trial in range(200):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 5))):
            op = rng.integers(0, 3)
            if op == 0 and len(data) > 1:
                del data[int(rng.integers(0, len(data)))]
            elif op == 1:
                data.insert(int(rng.integers(0, len(data) + 1)),
                            int(rng.integers(0, 256)))
            else:
                data[int(rng.integers(0, len(data)))] = \
                    int(rng.integers(0, 256))
        try:
            vp8.decode_vp8(bytes(data))
        except ValueError:
            pass


def test_truncation_fuzz_valueerror_only():
    base = vp8.encode_vp8(np.full((32, 32), 130, np.uint8))
    for cut in range(0, len(base), 11):
        try:
            vp8.decode_vp8(base[:cut])
        except ValueError:
            pass


def test_idct_wht_dc_only_closed_form():
    """DC-only blocks follow the (dc+4)>>3 and (w+3)>>3 integer
    closed forms the flat-image oracle relies on."""
    for dc in (-1000, -8, 0, 8, 33, 801):
        blk = np.zeros((4, 4), dtype=np.int64)
        blk[0, 0] = dc
        out = vp8._idct4x4(blk)
        assert (out == ((dc + 4) >> 3)).all()
        wht = vp8._iwht4x4(blk)
        assert (wht == ((dc + 3) >> 3)).all()


def test_bool_coder_roundtrip():
    rng = np.random.default_rng(3)
    bits = [int(b) for b in rng.integers(0, 2, 500)]
    probs = [int(p) for p in rng.integers(1, 255, 500)]
    enc = vp8.BoolEncoder()
    for b, p in zip(bits, probs):
        enc.bool(p, b)
    data = enc.flush()
    dec = vp8.BoolDecoder(data)
    got = [dec.bool(p) for p in probs]
    assert got == bits
