"""WebP VP8L lossless codec (kernel/vp8l.py).

Round-trips cover literals (simple + normal prefix codes), the
subtract-green transform, and whole-row LZ77 copies via the exact
distance escape.  Constructed streams (built with the module's bit
plumbing, forward transforms mirrored in the test) cover the color
cache, 2-D distance codes, predictor transform border rules, color
transform, and color-indexing with sub-byte packing.  Mutation fuzz
pins the ValueError-only contract.
"""

import numpy as np
import pytest

from pdf_to_text_extraction_service_spark.kernel import vp8l
from pdf_to_text_extraction_service_spark.kernel.vp8l import (
    _BitWriter,
    _canonical_codes,
    _code_lengths_for,
    _DISTANCE_MAP,
    _write_prefix_code,
)


def _rand_img(rng, h, w):
    return rng.integers(0, 256, (h, w, 4), dtype=np.uint8)


def test_round_trip_patterns():
    rng = np.random.default_rng(3)
    for trial in range(30):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 32))
        kind = trial % 4
        if kind == 0:
            img = np.full((h, w, 4), int(rng.integers(0, 256)),
                          np.uint8)
        elif kind == 1:
            img = _rand_img(rng, h, w)
        elif kind == 2:
            img = np.zeros((h, w, 4), np.uint8)
            img[:, ::2] = (10, 20, 30, 255)
        else:
            img = np.repeat(_rand_img(rng, 1, w), h, axis=0)
        for sg in (False, True):
            enc = vp8l.encode_vp8l(img, subtract_green=sg)
            assert np.array_equal(vp8l.decode_vp8l(enc), img)
        if kind == 3 and h > 1:
            enc = vp8l.encode_vp8l(img, row_copy=True)
            assert np.array_equal(vp8l.decode_vp8l(enc), img)


def test_container_round_trip_and_limits():
    rng = np.random.default_rng(4)
    img = _rand_img(rng, 7, 11)
    payload = vp8l.encode_webp_lossless(img)
    assert np.array_equal(vp8l.decode_webp_lossless(payload), img)
    with pytest.raises(ValueError):
        vp8l.decode_webp_lossless(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        vp8l.decode_vp8l(b"\x30\x00\x00\x00\x00")   # bad signature
    with pytest.raises(ValueError):
        vp8l.encode_vp8l(np.zeros((0, 3, 4), np.uint8))


def test_distance_map_matches_spec_rows():
    """The generated 2-D plane-code table must reproduce the rows
    printed in the spec (checked: first 16 entries and the full
    squared-distance-25 group)."""
    assert _DISTANCE_MAP[:16] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2),
        (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0),
        (1, 3), (-1, 3)]
    d25 = [p for p in _DISTANCE_MAP if p[0] ** 2 + p[1] ** 2 == 25]
    assert d25 == [(0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0)]
    assert len(_DISTANCE_MAP) == 120


def _header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _write_groups(bw, symbol_sets, cache_size=0):
    """Write the 5 prefix codes for one group given per-code symbol
    frequency dicts."""
    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    codes = []
    for freqs, alphabet in zip(symbol_sets, alphabets):
        lengths = _code_lengths_for(freqs, alphabet)
        _write_prefix_code(bw, lengths)
        codes.append(_canonical_codes(lengths))
    return codes


def _emit(bw, codes, sym):
    if len(codes) == 1:
        return
    c, n = codes[sym]
    bw.write_code(c, n)


def test_color_cache_stream():
    """2x1 image: literal green pixel, then a cache hit for the same
    pixel — exercises the cache hash insert + indexed fetch."""
    w, h = 2, 1
    px = (0x80, 0x10, 0x20, 0x30)        # a, r, g, b
    a, r, g, b = px
    argb = (a << 24) | (r << 16) | (g << 8) | b
    cache_bits = 4
    idx = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = _BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)                       # no transforms
    bw.write(1, 1)                       # cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)                       # no meta
    cache_size = 1 << cache_bits
    sym_cache = 256 + 24 + idx
    codes = _write_groups(
        bw,
        [{g: 1, sym_cache: 1}, {r: 1}, {b: 1}, {a: 1}, {0: 1}],
        cache_size=cache_size)
    _emit(bw, codes[0], g)
    _emit(bw, codes[1], r)
    _emit(bw, codes[2], b)
    _emit(bw, codes[3], a)
    _emit(bw, codes[0], sym_cache)       # cache hit
    out = vp8l.decode_vp8l(b"\x2f" + bw.tobytes())
    assert out.shape == (1, 2, 4)
    assert tuple(out[0, 0]) == (r, g, b, a)
    assert np.array_equal(out[0, 0], out[0, 1])


def test_2d_distance_code_stream():
    """3x2 image where the second row copies the first via plane
    code 1 = (dx 0, dy 1) → distance = width."""
    w, h = 3, 2
    vals = [(10, 20, 30, 255), (40, 50, 60, 255), (70, 80, 90, 255)]
    bw = _BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)                       # no transforms
    bw.write(0, 1)                       # no cache
    bw.write(0, 1)                       # no meta
    gf = {v[1]: 1 for v in vals}
    gf[256 + 2] = 1                      # length prefix code 2 → 3
    codes = _write_groups(
        bw,
        [gf, {v[0]: 1 for v in vals}, {v[2]: 1 for v in vals},
         {255: 1}, {0: 1}])
    for rr, gg, bb, aa in vals:
        _emit(bw, codes[0], gg)
        _emit(bw, codes[1], rr)
        _emit(bw, codes[2], bb)
        _emit(bw, codes[3], aa)
    _emit(bw, codes[0], 256 + 2)         # length 3
    _emit(bw, codes[4], 0)               # dist prefix 0 → value 1 →
    out = vp8l.decode_vp8l(b"\x2f" + bw.tobytes())   # plane (0,1)
    assert np.array_equal(out[0], out[1])
    assert [tuple(p) for p in out[0]] == vals


def _encode_with_transform(img, ttype, size_bits, tile_pixel,
                           residual):
    """Stream: one transform whose tile image is a single flat tile,
    then the residual image as literals."""
    h, w = residual.shape[0], residual.shape[1]
    bw = _BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(ttype, 2)
    bw.write(size_bits - 2, 3)
    # tile entropy image: 1x1, no cache
    bw.write(0, 1)                       # no cache (tile image)
    ta = (tile_pixel >> 24) & 0xFF
    tr = (tile_pixel >> 16) & 0xFF
    tg = (tile_pixel >> 8) & 0xFF
    tb = tile_pixel & 0xFF
    tcodes = _write_groups(bw, [{tg: 1}, {tr: 1}, {tb: 1}, {ta: 1},
                                {0: 1}])
    _emit(bw, tcodes[0], tg)
    _emit(bw, tcodes[1], tr)
    _emit(bw, tcodes[2], tb)
    _emit(bw, tcodes[3], ta)
    bw.write(0, 1)                       # end of transforms
    bw.write(0, 1)                       # no cache (main image)
    bw.write(0, 1)                       # no meta
    px = residual.astype(np.int64)
    gf = {}
    rf = {}
    bf = {}
    af = {}
    for y in range(h):
        for x in range(w):
            rr, gg, bb, aa = px[y, x]
            gf[gg] = 1
            rf[rr] = 1
            bf[bb] = 1
            af[aa] = 1
    codes = _write_groups(bw, [gf, rf, bf, af, {0: 1}])
    for y in range(h):
        for x in range(w):
            rr, gg, bb, aa = px[y, x]
            _emit(bw, codes[0], int(gg))
            _emit(bw, codes[1], int(rr))
            _emit(bw, codes[2], int(bb))
            _emit(bw, codes[3], int(aa))
    return b"\x2f" + bw.tobytes()


def test_predictor_transform_mode_T():
    """Predictor transform, single tile, mode 2 (T): the test
    forward-predicts with the spec border rules (top-left →
    0xff000000, top row → L, left column → T) and the decoder must
    invert it exactly."""
    rng = np.random.default_rng(9)
    img = _rand_img(rng, 5, 6)           # RGBA
    h, w = img.shape[:2]
    # channel order [r, g, b, a] → predictor works on [a, r, g, b]
    argb = np.stack([img[..., 3], img[..., 0], img[..., 1],
                     img[..., 2]], axis=2).astype(np.int64)
    res = np.zeros_like(argb)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0])
            elif y == 0:
                pred = argb[y, x - 1]
            elif x == 0:
                pred = argb[y - 1, x]
            else:
                pred = argb[y - 1, x]    # mode 2 = T
            res[y, x] = (argb[y, x] - pred) & 0xFF
    # residual in [r, g, b, a] order for _encode_with_transform
    residual = np.stack([res[..., 1], res[..., 2], res[..., 3],
                         res[..., 0]], axis=2)
    mode = 2
    enc = _encode_with_transform(
        img, ttype=0, size_bits=9,
        tile_pixel=(0xFF << 24) | (mode << 8), residual=residual)
    assert np.array_equal(vp8l.decode_vp8l(enc), img)


def test_predictor_mode_TR_rightmost_column_rule():
    """Mode 3 (TR): the rightmost column's TR is the LEFTMOST pixel
    of the current row (spec border exception)."""
    rng = np.random.default_rng(11)
    img = _rand_img(rng, 4, 4)
    h, w = img.shape[:2]
    argb = np.stack([img[..., 3], img[..., 0], img[..., 1],
                     img[..., 2]], axis=2).astype(np.int64)
    res = np.zeros_like(argb)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0])
            elif y == 0:
                pred = argb[y, x - 1]
            elif x == 0:
                pred = argb[y - 1, x]
            elif x == w - 1:
                pred = argb[y, 0]        # border exception
            else:
                pred = argb[y - 1, x + 1]
            res[y, x] = (argb[y, x] - pred) & 0xFF
    residual = np.stack([res[..., 1], res[..., 2], res[..., 3],
                         res[..., 0]], axis=2)
    enc = _encode_with_transform(
        img, ttype=0, size_bits=9,
        tile_pixel=(0xFF << 24) | (3 << 8), residual=residual)
    assert np.array_equal(vp8l.decode_vp8l(enc), img)


def test_color_transform_stream():
    """Color transform, single tile with known multipliers; forward
    transform mirrored per spec (int8 deltas, >> 5)."""
    rng = np.random.default_rng(13)
    img = _rand_img(rng, 3, 5)
    h, w = img.shape[:2]
    g2r, g2b, r2b = 17, -11, 7           # int8 multipliers

    def s8(v):
        return v - 256 if v >= 128 else v

    res = img.astype(np.int64).copy()
    for y in range(h):
        for x in range(w):
            r, g, b, a = img[y, x].astype(np.int64)
            gs = s8(int(g))
            new_r = (int(r) - ((g2r * gs) >> 5)) & 0xFF
            # the r2b delta is driven by the ORIGINAL red: the
            # decoder restores red before computing blue's delta
            rs = s8(int(r))
            new_b = (int(b) - ((g2b * gs) >> 5)
                     - ((r2b * rs) >> 5)) & 0xFF
            res[y, x] = (new_r, g, new_b, a)
    tile = (0xFF << 24) | ((r2b & 0xFF) << 16) \
        | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
    enc = _encode_with_transform(img, ttype=1, size_bits=9,
                                 tile_pixel=tile,
                                 residual=res.astype(np.uint8))
    assert np.array_equal(vp8l.decode_vp8l(enc), img)


def test_color_indexing_with_packing():
    """3-color palette → 2 bits per index, 4 pixels per packed byte;
    palette entries are delta-coded."""
    w, h = 6, 2
    palette = [(5, 10, 15, 255), (100, 110, 120, 255),
               (200, 210, 220, 255)]
    indices = [[0, 1, 2, 2, 1, 0], [2, 0, 1, 0, 0, 2]]
    bw = _BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)                       # COLOR_INDEXING
    bw.write(len(palette) - 1, 8)
    # palette entropy image: literals are per-channel DELTAS
    deltas = []
    prev = (0, 0, 0, 0)
    for r, g, b, a in palette:
        deltas.append(((r - prev[0]) & 0xFF, (g - prev[1]) & 0xFF,
                       (b - prev[2]) & 0xFF, (a - prev[3]) & 0xFF))
        prev = (r, g, b, a)
    bw.write(0, 1)                       # no cache (palette image)
    pcodes = _write_groups(
        bw, [{d[1]: 1 for d in deltas}, {d[0]: 1 for d in deltas},
             {d[2]: 1 for d in deltas}, {d[3]: 1 for d in deltas},
             {0: 1}])
    for dr, dg, db, da in deltas:
        _emit(bw, pcodes[0], dg)
        _emit(bw, pcodes[1], dr)
        _emit(bw, pcodes[2], db)
        _emit(bw, pcodes[3], da)
    bw.write(0, 1)                       # end of transforms
    # packed main image: width ceil(6/4) = 2, indices in green
    packed_rows = []
    for row in indices:
        packed = []
        for base in range(0, w, 4):
            v = 0
            for k, idx in enumerate(row[base:base + 4]):
                v |= idx << (2 * k)
            packed.append(v)
        packed_rows.append(packed)
    bw.write(0, 1)                       # no cache (main)
    bw.write(0, 1)                       # no meta
    greens = {v: 1 for row in packed_rows for v in row}
    codes = _write_groups(bw, [greens, {0: 1}, {0: 1}, {0: 1},
                               {0: 1}])
    for row in packed_rows:
        for v in row:
            _emit(bw, codes[0], v)
            _emit(bw, codes[1], 0)
            _emit(bw, codes[2], 0)
            _emit(bw, codes[3], 0)
    out = vp8l.decode_vp8l(b"\x2f" + bw.tobytes())
    assert out.shape == (h, w, 4)
    for y in range(h):
        for x in range(w):
            assert tuple(out[y, x]) == palette[indices[y][x]], (y, x)


def test_mutation_fuzz_valueerror_only():
    rng = np.random.default_rng(17)
    base = bytearray(vp8l.encode_vp8l(_rand_img(rng, 6, 9)))
    for _ in range(400):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
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
            vp8l.decode_vp8l(bytes(data))
        except ValueError:
            pass


def test_breadth_dispatcher_decodes_vp8l(spark):
    from pdf_to_text_extraction_service_spark.functions.multimodal \
        import image_breadth_features

    img = np.full((8, 10, 4), 0, np.uint8)
    img[..., 0] = 40
    img[..., 1] = 80
    img[..., 2] = 120
    img[..., 3] = 255
    payload = vp8l.encode_webp_lossless(img)
    df = spark.createDataFrame([(1, payload)],
                               "media_id long, payload binary")
    row = image_breadth_features(df).collect()[0]
    assert row["codec"] == "webp-vp8l"
    assert (row["width"], row["height"]) == (10, 8)
    assert row["mean_sample"] == (40 + 80 + 120 + 255) // 4
    assert row["error"] is None


def test_huffman_lut_read_matches_tree_walk():
    """r8: the peek-LUT read() must be bit-identical to the per-bit
    tree walk (tests/reference/vp8l.py) on random valid canonical
    codes and random streams, including truncation errors."""
    import random

    from pdf_to_text_extraction_service_spark.kernel.vp8l import (
        _BitReader,
        _Huffman,
    )
    from tests.reference.vp8l import huffman_read_slow

    rng = random.Random(13)
    for trial in range(200):
        # random complete canonical code via random split of probability
        nsym = rng.randrange(2, 40)
        # build a complete code: repeatedly split leaves (< 15 deep)
        leaves = [1, 1]
        while len(leaves) < nsym:
            splittable = [i for i, d in enumerate(leaves) if d < 15]
            if not splittable:
                break
            d = leaves.pop(rng.choice(splittable))
            leaves += [d + 1, d + 1]
        leaves.sort()
        lens = [0] * max(nsym, len(leaves))
        for i, d in enumerate(leaves):
            lens[i] = d
        h = _Huffman(lens)
        data = bytes(rng.randrange(256) for _ in range(40))
        a = _BitReader(data)
        b = _BitReader(data)
        for _ in range(30):
            try:
                ra = ("ok", h.read(a), a.pos)
            except ValueError as e:
                ra = ("err", str(e))
            try:
                rb = ("ok", huffman_read_slow(lens, b), b.pos)
            except ValueError as e:
                rb = ("err", str(e))
            assert ra == rb, (trial, lens)
            if ra[0] == "err":
                break
