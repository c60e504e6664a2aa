"""The per-payload row pass behind every media feature operator and
``pdf_image_ocr_stats``: one output row per input row with its key
kept, NULL and ``b""`` payloads treated alike, and a kernel failure
turned into an all-NULL row carrying the kernel's error string —
except the fields an operator keeps on purpose (``image_features``'
``n_bytes``; ``pdf_image_ocr_stats``' zero row, which has no error
column).  The boundary shape — one Python map node whose input is
only ``(key, payload)`` — is each operator's row in
tests/test_plan_contracts.py."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_to_text_extraction_service_spark.functions import multimodal as mm
from pdf_to_text_extraction_service_spark.kernel import (
    audiocodec,
    audiotags,
    exif,
    flacdec,
    imgcodec,
    mp4box,
    pngmeta,
    videobox,
)
from pdf_to_text_extraction_service_spark.operators.pagestats import (
    pdf_image_ocr_stats,
)
from pdf_to_text_extraction_service_spark.sources import pdfgen

GARBAGE = b"\x00\x01not-a-media-payload\xfe\xff" * 3


def _png() -> bytes:
    return imgcodec.encode_png(
        (np.arange(48).reshape(6, 8) * 5 % 256).astype(np.uint8))


def _wav() -> bytes:
    t = np.arange(800)
    return audiocodec.encode_wav(
        (np.sin(t / 7.0) * 9000).astype(np.int16), 8000)


def _flac() -> bytes:
    t = np.arange(1000)
    return flacdec.encode_flac(
        (np.sin(t / 5.0) * 3000).astype(np.int32), 8000)


def _jpeg_exif() -> bytes:
    jpeg = imgcodec.encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))
    return exif.inject_app1(jpeg, exif.build_exif_app1(
        {"make": "Acme", "model": "M1", "iso": 100}, "<"))


def _gif_anim() -> bytes:
    f0 = np.full((4, 6), 3, dtype=np.uint8)
    f1 = np.full((4, 6), 200, dtype=np.uint8)
    return imgcodec.encode_gif_animation([f0, f1], [10, 20], loop=0)


# name -> (operator, valid payload, key column, {field: value kept on
# the NULL / b"" rows}, {field: value kept on the garbage row})
OPS = {
    "image_features": (mm.image_features, _png, "media_id",
                       {"n_bytes": 0}, {"n_bytes": len(GARBAGE)}),
    "resize_images": (mm.resize_images, _png, "media_id", {}, {}),
    "image_dhash": (mm.image_dhash, _png, "media_id", {}, {}),
    "video_signatures": (
        mm.video_signatures, lambda: mm.make_fake_video(3, 4, 4),
        "media_id", {}, {}),
    "audio_features": (mm.audio_features, _wav, "media_id", {}, {}),
    "flac_decode_features": (mm.flac_decode_features, _flac,
                             "media_id", {}, {}),
    "mp3_features": (
        mm.mp3_features,
        lambda: audiocodec.encode_mp3_frames([128, 160, 128]),
        "media_id", {}, {}),
    "audio_tag_metadata": (
        mm.audio_tag_metadata,
        lambda: audiotags.build_id3v2({"title": "T", "artist": "A"})
        + audiocodec.encode_mp3_frames([128]),
        "media_id", {}, {}),
    "png_text_metadata": (
        mm.png_text_metadata,
        lambda: pngmeta.inject_before_iend(
            _png(), pngmeta.build_text_chunks({"title": "T"}, "tEXt")),
        "media_id", {}, {}),
    "mp4_features": (
        mm.mp4_features,
        lambda: mp4box.encode_mp4("isom", 1000, 5000,
                                  [("vide", "avc1", 64, 48)]),
        "media_id", {}, {}),
    "container_audio_features": (
        mm.container_audio_features,
        lambda: audiocodec.encode_flac_header(44100, 2, 16, 44100),
        "media_id", {}, {}),
    "image_breadth_features": (
        mm.image_breadth_features,
        lambda: imgcodec.encode_bmp(np.full((3, 5), 77, np.uint8)),
        "media_id", {}, {}),
    "video_container_features": (
        mm.video_container_features,
        lambda: videobox.encode_avi(40000, 25, 1, 32, 24),
        "media_id", {}, {}),
    "media_features": (mm.media_features, _png, "media_id", {}, {}),
    "exif_features": (mm.exif_features, _jpeg_exif, "media_id", {}, {}),
    "gif_animation_features": (mm.gif_animation_features, _gif_anim,
                               "media_id", {}, {}),
    "pdf_image_ocr_stats": (
        pdf_image_ocr_stats,
        lambda: pdfgen.simple_pdf([["hello pdf page one text"]]),
        "url", None, None),
}

# The kernels' error strings on the NULL / b"" rows and on GARBAGE.
IMG = ("unsupported image format (PNG, JPEG, BMP, GIF, TIFF, WEBP, "
       "or FAKEIMG)")
ERRORS = {
    "audio_features": ("wav: bad RIFF/WAVE header",) * 2,
    "audio_tag_metadata": ("audiotags: no recognized tag structure",) * 2,
    "container_audio_features": ("unsupported audio container",) * 2,
    "exif_features": ("exif: not a JPEG or TIFF payload",) * 2,
    "flac_decode_features": ("flac: bad magic or truncated",) * 2,
    "gif_animation_features": ("gif: bad magic or truncated",) * 2,
    "image_breadth_features": ("unsupported image container",) * 2,
    "image_dhash": (IMG,) * 2,
    "image_features": (IMG,) * 2,
    "media_features": ("unsupported media payload",) * 2,
    "mp3_features": ("mp3: no frames", "mp3: bad sync at 0"),
    "mp4_features": ("mp4: too short", "mp4: bad box size"),
    "png_text_metadata": ("pngmeta: not a PNG payload",) * 2,
    "resize_images": (IMG,) * 2,
    "video_container_features": ("unsupported video container",) * 2,
    "video_signatures": ("unsupported video container",) * 2,
}

PDF_ZERO = {"total_pages": 0, "needs_ocr_pages": 0, "blank_pages": 0,
            "n_images": 0, "img_pixels": 0, "ink_samples": 0,
            "sum_luma": 0}


def _frame(spark, name):
    op, valid, key, _, _ = OPS[name]
    payloads = [valid(), None, b"", GARBAGE]
    if key == "url":
        rows = [(f"https://x.test/{i}.pdf", None if p is None
                 else bytearray(p), "x") for i, p in enumerate(payloads)]
        df = spark.createDataFrame(
            rows, "url string, html binary, extra string")
    else:
        rows = [(10 + i, None if p is None else bytearray(p), "x")
                for i, p in enumerate(payloads)]
        df = spark.createDataFrame(
            rows, "media_id long, payload binary, extra string")
    return op(df), [r[0] for r in rows]


@pytest.mark.parametrize("name", sorted(OPS))
def test_error_rows(spark, name):
    out, keys = _frame(spark, name)
    key = OPS[name][2]
    rows = {r[key]: r.asDict() for r in out.collect()}
    assert sorted(rows) == sorted(keys)
    valid, null, empty, garbage = (rows[k] for k in keys)
    if name == "pdf_image_ocr_stats":
        assert valid["total_pages"] == 1
        for r in (null, empty, garbage):
            assert {k: v for k, v in r.items() if k != key} == PDF_ZERO
        return
    assert valid["error"] is None, valid["error"]
    _, _, _, kept_empty, kept_garbage = OPS[name]
    got = {}
    for label, r, kept in (("null", null, kept_empty),
                           ("empty", empty, kept_empty),
                           ("garbage", garbage, kept_garbage)):
        fields = {k: v for k, v in r.items()
                  if k not in (key, "error") and v is not None}
        assert fields == kept, (label, fields)
        got[label] = r["error"]
    assert got["null"] == got["empty"]
    assert (got["empty"], got["garbage"]) == ERRORS[name]


@pytest.mark.parametrize("name", sorted(OPS))
def test_plan_has_one_map_over_key_and_payload(plan_row, name):
    plan_row(name)


def test_truncated_fakeimg_is_error_row(spark):
    """A FAKEIMG body shorter than its w*h header is one error for
    every image operator (they share one decode dispatch);
    image_features keeps ``n_bytes``."""
    short = mm.make_fake_image(4, 4)[:-5]
    df = spark.createDataFrame([(1, bytearray(short))],
                               "media_id long, payload binary")
    for op in (mm.image_features, mm.resize_images, mm.image_dhash):
        row = op(df).first().asDict()
        assert row["error"] == "fake image truncated", op.__name__
        kept = {k: v for k, v in row.items()
                if k not in ("media_id", "error") and v is not None}
        assert kept == ({"n_bytes": len(short)}
                        if op is mm.image_features else {}), op.__name__


def test_int64_fields_exact_beside_error_rows(spark):
    """A 64-bit hash keeps every bit when error rows (NULL hash) share
    its Arrow batch: the boundary never routes an int64 column
    through float64."""
    import __spark_entry__ as entry

    payloads = [entry._multimodal_payload(i) for i in range(12)]
    want = {}
    for i, p in enumerate(payloads):
        try:
            h = imgcodec.dhash64(mm._decode_gray(p)[2])
        except ValueError:
            continue
        want[i] = h - (1 << 64) if h >= 1 << 63 else h
    assert any(h % 1024 for h in want.values())   # not float-exact
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)]
        + [(99, bytearray(GARBAGE))],
        "media_id long, payload binary").coalesce(1)
    got = {r["media_id"]: r["dhash"] for r in mm.image_dhash(df).collect()}
    assert got[99] is None
    assert {i: got[i] for i in want} == want

