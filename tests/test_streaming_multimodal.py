"""Structured Streaming pipeline + multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.functions.multimodal import (
    image_features,
    make_fake_image,
    make_fake_video,
    sample_frames,
)
from pdf_to_text_extraction_service_spark.kernel import router
from pdf_to_text_extraction_service_spark.sources import corpus
from pdf_to_text_extraction_service_spark.streaming.stream import (
    streaming_extract,
)


def test_streaming_extract_available_now(spark, tmp_path):
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    corpus.write_corpus(spark, in_dir, 120, seed=5, partitions=4)

    q = streaming_extract(spark, in_dir, out_dir, cp_dir)
    q.awaitTermination(300)

    out = spark.read.parquet(out_dir)
    src = spark.read.parquet(in_dir)
    distinct_urls = src.select("url").distinct().count()
    # first-wins dedup within watermark → one row per url
    assert out.count() == distinct_urls
    # streamed rows byte-match the kernel
    sample = out.filter(F.col("format") == "html").limit(5).collect()
    src_rows = {r["url"]: bytes(r["html"])
                for r in src.dropDuplicates(["url"]).collect()}
    for row in sample:
        res, _ = router.extract_document(row["url"], src_rows[row["url"]])
        assert row["text"] == res.text


def test_streaming_resume_checkpoint(spark, tmp_path):
    """New files after a finished availableNow run are picked up by a
    restarted query without reprocessing the old ones."""
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    corpus.write_corpus(spark, in_dir, 40, seed=6, partitions=2)
    streaming_extract(spark, in_dir, out_dir, cp_dir).awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()

    # append a second batch of pages with different urls
    rows = corpus.generate_corpus_rows(30, seed=77)
    df = spark.createDataFrame(
        rows, "url string, ts_off long, html binary, text string, lang string"
    ).select(
        F.concat(F.lit("https://late.example/"), F.col("url")).alias("url"),
        F.expr("timestamp '2026-01-02 00:00:00' + make_interval(0,0,0,0,0,0, ts_off)").alias("warc_ts"),
        "html", "text", "lang",
    )
    df.write.mode("append").parquet(in_dir)
    streaming_extract(spark, in_dir, out_dir, cp_dir).awaitTermination(300)
    n2 = spark.read.parquet(out_dir).count()
    added = df.select("url").distinct().count()
    assert n2 == n1 + added


def test_image_features_real_and_error_rows(spark):
    import numpy as np
    import pytest

    from pdf_to_text_extraction_service_spark.kernel import imgcodec

    png_pixels = np.arange(32, dtype=np.uint8).reshape(4, 8) * 8
    jpg = imgcodec.encode_jpeg(np.full((8, 16), 160, dtype=np.uint8),
                               quant=np.ones((8, 8), dtype=np.int32))
    rows = [
        (1, make_fake_image(8, 4, seed=1)),
        (2, make_fake_image(16, 2, seed=2)),
        (3, imgcodec.encode_png(png_pixels)),          # real PNG
        (4, jpg),                                      # real JPEG
        (5, b"\x89PNG\r\n\x1a\ntruncated-garbage"),    # corrupt PNG
        (6, b"WEIRDFMT not a supported format here"),  # unknown format
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in image_features(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (8, 4)
    assert len(got[1]["features"]) == 16
    assert abs(sum(got[1]["features"]) - 1.0) < 1e-6
    # determinism
    again = {r["media_id"]: r for r in image_features(df).collect()}
    assert got[1]["features"] == again[1]["features"]
    # real PNG decodes: histogram over the actual pixel bytes
    assert (got[3]["width"], got[3]["height"]) == (8, 4)
    want = [0.0] * 16
    for px in png_pixels.reshape(-1):
        want[px >> 4] += 1 / 32
    assert got[3]["features"] == pytest.approx(want)
    # real flat JPEG decodes bit-exactly: all pixels land in bin 10
    assert (got[4]["width"], got[4]["height"]) == (16, 8)
    assert got[4]["features"][160 >> 4] == pytest.approx(1.0)
    # corrupt / unsupported payloads → clean error rows, no crash
    assert got[5]["width"] is None and "png" in got[5]["error"]
    assert got[6]["width"] is None
    assert "unsupported image format" in got[6]["error"]
    # GIF is now a DECODED format: corrupt gif -> its own error
    extra = {r["media_id"]: r for r in image_features(
        spark.createDataFrame(
            [(7, b"GIF89a corrupt")], "media_id long, payload binary")
    ).collect()}
    assert extra[7]["error"].startswith("gif:")


def test_video_frame_sampling(spark):
    """A batch that yields no frames (no video in it) is an empty
    typed batch, not a task failure."""
    df = spark.createDataFrame(
        [(7, make_fake_video(6, 4, 3)), (8, b"not a video"), (9, None)],
        "media_id long, payload binary"
    )
    frames = sample_frames(df, every_n=2).collect()
    assert [f["frame_index"] for f in frames] == [0, 2, 4]
    assert all(f["frame"]["width"] == 4 for f in frames)
    assert sample_frames(df.filter("media_id > 7").coalesce(1)) \
        .collect() == []


def test_resize_and_dhash_operators(spark):
    import numpy as np

    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        dedup_image_dhash,
        image_dhash,
        resize_images,
    )
    from pdf_to_text_extraction_service_spark.kernel import imgcodec

    flat = lambda v: imgcodec.encode_jpeg(  # noqa: E731
        np.full((16, 16), v, dtype=np.uint8),
        quant=np.ones((8, 8), dtype=np.int32))
    grad = np.tile(np.arange(0, 240, 15, dtype=np.uint8), (16, 1))
    rows = [
        (1, flat(40)), (2, flat(40)), (3, flat(200)),
        (4, imgcodec.encode_png(grad)),
        (5, make_fake_image(8, 8, seed=5)),
        (6, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    thumbs = {r["media_id"]: r for r in resize_images(df, 4, 4).collect()}
    assert thumbs[1]["thumb"] == [40] * 16
    assert thumbs[3]["thumb"] == [200] * 16
    assert thumbs[6]["error"] is not None and thumbs[6]["thumb"] is None

    hashes = {r["media_id"]: r for r in image_dhash(df).collect()}
    assert hashes[1]["dhash"] == hashes[2]["dhash"] == 0  # flat
    assert hashes[4]["dhash"] not in (None, 0)
    assert hashes[6]["error"] is not None

    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in dedup_image_dhash(df).collect()}
    # all three flat JPEGs hash to 0 regardless of gray value
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert not any(4 in p or 6 in p for p in pairs)


def test_dhash_bucket_cap_bounds_floods(spark):
    """Solid-color flood: with max_bucket=4, the dhash-0 bucket keeps
    a deterministic hash-prefix sample (~4 expected of 12), so pairs
    are bounded — C(kept,2), never C(12,2)=66 — and reproducible."""
    import numpy as np

    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        dedup_image_dhash,
    )
    from pdf_to_text_extraction_service_spark.kernel import imgcodec

    flat = imgcodec.encode_jpeg(np.full((8, 8), 50, dtype=np.uint8),
                                quant=np.ones((8, 8), dtype=np.int32))
    df = spark.createDataFrame([(i, flat) for i in range(12)],
                               "media_id long, payload binary")
    pairs = sorted((r["a"], r["b"]) for r in
                   dedup_image_dhash(df, max_bucket=4).collect())
    ids = {a for a, _ in pairs} | {b for _, b in pairs}
    k = len(ids)
    assert k <= 9                       # flood sampled, not kept whole
    assert len(pairs) == k * (k - 1) // 2
    # deterministic across physical layouts
    again = sorted((r["a"], r["b"]) for r in
                   dedup_image_dhash(df.repartition(5),
                                     max_bucket=4).collect())
    assert again == pairs
    uncapped = dedup_image_dhash(df).collect()
    assert len(uncapped) == 66


def test_video_signature_dedup(spark):
    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        dedup_video_signature,
        video_signatures,
    )

    rows = [
        (1, make_fake_video(3, 8, 8, seed=5)),
        (2, make_fake_video(3, 8, 8, seed=5)),   # identical content
        (3, make_fake_video(3, 8, 8, seed=9)),   # different seed
        (4, make_fake_video(2, 8, 8, seed=5)),   # fewer frames
        (5, b"not a video"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    sigs = {r["media_id"]: r for r in video_signatures(df).collect()}
    assert sigs[1]["sig"] == sigs[2]["sig"]
    assert sigs[1]["sig"] != sigs[3]["sig"]
    assert sigs[1]["sig"] != sigs[4]["sig"]
    assert sigs[5]["error"] is not None and sigs[5]["sig"] is None
    groups = dedup_video_signature(df).collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == 1 and groups[0]["dup_count"] == 2


def test_audio_wav_features(spark):
    import numpy as np

    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        audio_features,
    )
    from pdf_to_text_extraction_service_spark.kernel import audiocodec

    t = np.arange(1000)
    square = np.where((t // 10) % 2 == 0, 2000, -2000).astype(np.int16)
    stereo = np.stack([square, square], axis=1)
    rows = [
        (1, audiocodec.encode_wav(square, 8000)),
        (2, audiocodec.encode_wav(stereo, 16000)),
        (3, audiocodec.encode_wav(np.zeros(100, np.int16), 8000)),
        (4, b"RIFFxxxxNOPE"),        # bad container
        (5, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    assert got[1]["duration_ms"] == 125      # 1000/8000 s
    assert got[1]["mean_abs"] == 2000
    assert got[1]["zero_cross"] == 99        # (1000-1)//10
    assert got[2]["channels"] == 2 and got[2]["duration_ms"] == 62
    assert got[3]["mean_abs"] == 0 and got[3]["zero_cross"] == 0
    assert got[4]["error"] is not None and got[5]["error"] is not None


def test_wav_roundtrip_and_guards(spark):
    import numpy as np
    import pytest

    from pdf_to_text_extraction_service_spark.kernel import audiocodec

    rng = np.random.RandomState(2)
    wave = rng.randint(-30000, 30000, (257, 2)).astype(np.int16)
    rate, ch, out = audiocodec.decode_wav(
        audiocodec.encode_wav(wave, 22050))
    assert (rate, ch) == (22050, 2) and (out == wave).all()
    # 8-bit widening
    import struct as st
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    raw = bytes([0, 128, 255])
    body = (b"WAVEfmt " + st.pack("<I", 16) + fmt
            + b"data" + st.pack("<I", 3) + raw)
    blob = b"RIFF" + st.pack("<I", len(body)) + body
    _, _, s8 = audiocodec.decode_wav(blob)
    assert s8[:, 0].tolist() == [-32768, 0, 32512]
    with pytest.raises(ValueError):
        audiocodec.decode_wav(b"RIFF\x00\x00\x00\x00WAVE")
    # mutation fuzz: ValueError or success, never anything else
    base = audiocodec.encode_wav(wave, 22050)
    import random
    rnd = random.Random(5)
    for _ in range(150):
        b2 = bytearray(base)
        for _ in range(rnd.randint(1, 6)):
            b2[rnd.randrange(len(b2))] = rnd.randrange(256)
        try:
            audiocodec.decode_wav(bytes(b2))
        except ValueError:
            pass


def test_mp3_frame_walk_closed_form():
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    st = ac.parse_mp3(ac.encode_mp3_frames([128] * 40))
    assert st == {"sample_rate": 44100, "channels": 2, "n_frames": 40,
                  "duration_ms": 40 * 1152 * 1000 // 44100,
                  "mean_bitrate_kbps": 128, "vbr": False}
    # VBR, mono, ID3 prefix, padding bits
    kbps = [96 if j % 2 == 0 else 160 for j in range(25)]
    st = ac.parse_mp3(ac.encode_mp3_frames(
        kbps, rate=32000, mono=True, pad_every=3, id3_bytes=57))
    assert st["channels"] == 1 and st["vbr"] is True
    assert st["mean_bitrate_kbps"] == (96 * 13 + 160 * 12) // 25
    assert st["sample_rate"] == 32000
    # truncated final frame still counts
    full = ac.encode_mp3_frames([192] * 8)
    st = ac.parse_mp3(full[:len(full) - 50])
    assert st["n_frames"] == 8


def test_mp3_parser_rejects_malformed():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    for bad in (b"", b"\x00" * 64, b"ID3\x04\x00\x00\x00\x00\x00\x00",
                b"\xff\xfb\x00\x00",       # bitrate idx 0 (free)
                b"\xff\xf3\x90\x00"):      # MPEG-2 version bits
        with pytest.raises(ValueError):
            ac.parse_mp3(bad)


def test_mp3_mutation_fuzz_never_raises_wrong_type():
    import random
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    rnd = random.Random(77)
    base = ac.encode_mp3_frames([128, 160, 96, 128] * 6, pad_every=2)
    for _ in range(200):
        blob = bytearray(base)
        for _ in range(rnd.randint(1, 6)):
            blob[rnd.randrange(len(blob))] = rnd.randrange(256)
        try:
            st = ac.parse_mp3(bytes(blob))
            assert st["n_frames"] >= 1
        except ValueError:
            pass  # error envelope; any other exception type fails


def test_mp4_box_walk_closed_form():
    from pdf_to_text_extraction_service_spark.kernel import mp4box as m

    st = m.parse_mp4(m.encode_mp4(
        "isom", 1000, 90500,
        [("vide", "avc1", 1280, 720), ("soun", "mp4a", 0, 0)]))
    assert st == {"brand": "isom", "duration_ms": 90500,
                  "n_tracks": 2, "has_video": True, "has_audio": True,
                  "width": 1280, "height": 720, "codecs": "avc1,mp4a"}
    # 64-bit mvhd v1, audio-only M4A
    st = m.parse_mp4(m.encode_mp4(
        "M4A", 44100, 44100 * 123, [("soun", "mp4a", 0, 0)],
        mvhd_v1=True))
    assert st["duration_ms"] == 123000 and st["has_video"] is False
    # two video tracks: the larger one wins the dims
    st = m.parse_mp4(m.encode_mp4(
        "mp42", 90000, 90000, [("vide", "hvc1", 640, 480),
                               ("vide", "avc1", 64, 48)]))
    assert (st["width"], st["height"]) == (640, 480)
    assert st["codecs"] == "avc1,hvc1"


def test_mp4_rejects_malformed():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import mp4box as m

    for bad in (b"", b"abc", b"\x00" * 24,
                b"\x00\x00\x00\x08ftyp",
                b"\xff\xff\xff\xffmoov" + b"\x00" * 8):
        with pytest.raises(ValueError):
            m.parse_mp4(bad)


def test_mp4_mutation_fuzz_never_raises_wrong_type():
    import random
    from pdf_to_text_extraction_service_spark.kernel import mp4box as m

    rnd = random.Random(55)
    base = m.encode_mp4("isom", 1000, 5000,
                        [("vide", "avc1", 320, 240),
                         ("soun", "mp4a", 0, 0)])
    for _ in range(200):
        blob = bytearray(base)
        for _ in range(rnd.randint(1, 6)):
            blob[rnd.randrange(len(blob))] = rnd.randrange(256)
        try:
            m.parse_mp4(bytes(blob))
        except ValueError:
            pass  # error envelope; other exception types fail


def test_flac_streaminfo_closed_form():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    st = ac.parse_flac(ac.encode_flac_header(48000, 2, 24,
                                             48000 * 61 + 17))
    assert st == {"sample_rate": 48000, "channels": 2,
                  "bits_per_sample": 24,
                  "total_samples": 48000 * 61 + 17,
                  "duration_ms": 61000}
    for bad in (b"", b"fLaC", b"fLaC\x81\x00\x00\x22" + b"\x00" * 34):
        with pytest.raises(ValueError):
            ac.parse_flac(bad)


def test_ogg_vorbis_opus_closed_form():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    v = ac.parse_ogg(ac.encode_ogg("vorbis", 44100, 2,
                                   granule=44100 * 30 + 7, pages=3))
    assert v == {"codec": "vorbis", "sample_rate": 44100,
                 "channels": 2,
                 "duration_ms": (44100 * 30 + 7) * 1000 // 44100}
    o = ac.parse_ogg(ac.encode_ogg("opus", 48000, 1,
                                   granule=48000 * 12 + 312 + 5,
                                   pre_skip=312, pages=4))
    assert o["codec"] == "opus"
    assert o["duration_ms"] == (48000 * 12 + 5) * 1000 // 48000
    for bad in (b"", b"OggS", b"OggS\x01" + b"\x00" * 30):
        with pytest.raises(ValueError):
            ac.parse_ogg(bad)


def test_flac_ogg_mutation_fuzz():
    import random
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    rnd = random.Random(31)
    bases = [ac.encode_flac_header(44100, 2, 16, 44100 * 5),
             ac.encode_ogg("vorbis", 44100, 2, granule=44100, pages=3),
             ac.encode_ogg("opus", 48000, 2, granule=48312, pages=3)]
    for base in bases:
        for _ in range(100):
            blob = bytearray(base)
            for _ in range(rnd.randint(1, 5)):
                blob[rnd.randrange(len(blob))] = rnd.randrange(256)
            try:
                if blob.startswith(b"fLaC"):
                    ac.parse_flac(bytes(blob))
                else:
                    ac.parse_ogg(bytes(blob))
            except ValueError:
                pass  # error envelope; other exception types fail


def test_matroska_avi_asf_closed_form():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import videobox as vb

    st = vb.parse_matroska(vb.encode_matroska(
        "matroska", 61234, [(1, "V_VP9", 1920, 1080),
                            (2, "A_OPUS", 0, 0)]))
    assert st == {"doctype": "matroska", "duration_ms": 61234,
                  "n_tracks": 2, "has_video": True, "has_audio": True,
                  "width": 1920, "height": 1080,
                  "codecs": "A_OPUS,V_VP9"}
    avi = vb.parse_avi(vb.encode_avi(33333, 900, streams=2,
                                     w=720, h=480))
    assert avi["duration_ms"] == 900 * 33333 // 1000
    assert (avi["width"], avi["height"], avi["n_streams"]) \
        == (720, 480, 2)
    asf = vb.parse_asf(vb.encode_asf(play_ms=123456, preroll_ms=3000,
                                     packets=42))
    assert asf == {"duration_ms": 123456, "n_packets": 42}
    for bad in (b"", b"\x1a\x45", b"RIFF\x00\x00\x00\x00AVI "):
        for fn in (vb.parse_matroska, vb.parse_avi, vb.parse_asf):
            with pytest.raises(ValueError):
                fn(bad)


def test_video_container_mutation_fuzz():
    import random
    from pdf_to_text_extraction_service_spark.kernel import videobox as vb

    rnd = random.Random(13)
    cases = [(vb.encode_matroska("webm", 1000, [(1, "V_VP8", 320, 240)]),
              vb.parse_matroska),
             (vb.encode_avi(40000, 100, 1, 320, 240), vb.parse_avi),
             (vb.encode_asf(9000, 1000, 5), vb.parse_asf)]
    for base, fn in cases:
        for _ in range(150):
            blob = bytearray(base)
            for _ in range(rnd.randint(1, 5)):
                blob[rnd.randrange(len(blob))] = rnd.randrange(256)
            try:
                fn(bytes(blob))
            except ValueError:
                pass  # error envelope; other exception types fail


def test_review_fix_contracts():
    """r5 self-review regressions: NULL-payload PDF stats row, mp3
    trailing-garbage strictness, ValueError-only codec wrappers,
    empty-mvhd mp4."""
    import pytest
    import struct
    from pdf_to_text_extraction_service_spark.kernel import (
        audiocodec as ac, imgcodec as ic, mp4box as m,
    )

    b = ac.encode_mp3_frames([128] * 3)
    with pytest.raises(ValueError):
        ac.parse_mp3(b + b"zz")            # non-sync trailing bytes
    assert ac.parse_mp3(b + b"\xff\xfb")["n_frames"] == 3  # sync prefix
    # r6: real-world trailing metadata blocks are accepted after a
    # valid frame (ID3v1 / enhanced TAG+ / APE / Lyrics3)...
    assert ac.parse_mp3(b + b"TAG" + b"\x00" * 125)["n_frames"] == 3
    assert ac.parse_mp3(
        b + b"TAG+" + b"\x00" * 223 + b"TAG" + b"\x00" * 125
    )["n_frames"] == 3
    assert ac.parse_mp3(
        b + b"APETAGEX" + b"\x00" * 24)["n_frames"] == 3
    assert ac.parse_mp3(b + b"LYRICSBEGIN...")["n_frames"] == 3
    # ...but a short/misdeclared ID3v1 is still garbage, and a tag
    # with NO preceding frame is not an MP3
    with pytest.raises(ValueError):
        ac.parse_mp3(b + b"TAG" + b"\x00" * 90)
    with pytest.raises(ValueError):
        ac.parse_mp3(b"TAG" + b"\x00" * 125)
    a = ac.encode_adts(3, 48000, 2)
    assert ac.parse_adts(a + b"TAG" + b"\x00" * 125)["n_frames"] == 3
    assert ac.parse_adts(a + b"APETAGEX" + b"\x00" * 24)["n_frames"] == 3
    with pytest.raises(ValueError):
        ac.parse_adts(a + b"XAG" + b"\x00" * 125)  # not a tag magic

    for fn, payload in (
            (ic.decode_gif, b"GIF89a" + b"\x00" * 7 + b"\x2c\x00\x00"),
            (ic.decode_tiff, b"II*\x00\x08\x00\x00\x00\x01\x00"),
            (ic.decode_bmp, b"BM" + b"\x00" * 60),
            (ic.webp_dims, b"RIFF" + b"\x00" * 30)):
        with pytest.raises(ValueError):
            fn(payload)

    empty_mvhd = struct.pack(">I4s", 8, b"mvhd")
    bad = (m._box(b"ftyp", b"isom" + b"\x00" * 8)
           + m._box(b"moov", empty_mvhd))
    with pytest.raises(ValueError):
        m.parse_mp4(bad)


def test_pdf_image_stats_null_payload_row(spark):
    from pdf_to_text_extraction_service_spark.operators.pagestats import (
        pdf_image_ocr_stats,
    )

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"not a pdf")],
        "url string, html binary")
    rows = {r["url"]: r for r in pdf_image_ocr_stats(df).collect()}
    assert rows["u1"]["total_pages"] == 0   # zeros row, no task crash
    assert rows["u2"]["n_images"] == 0


def test_flv_and_svg_closed_form():
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import (
        imgcodec as ic, videobox as vb,
    )

    st = vb.parse_flv(vb.encode_flv(95, 1280, 720, True, False))
    assert st == {"duration_ms": 95000, "width": 1280, "height": 720,
                  "has_video": True, "has_audio": False}
    assert ic.svg_dims(
        b'<svg width="120px" height="80" xmlns="x"/>') == (120, 80)
    assert ic.svg_dims(b'<svg viewBox="0 0 640 480"></svg>') \
        == (640, 480)
    for bad in (b"", b"FLV", b"<html>", b"<svg >no dims</svg>"):
        with pytest.raises(ValueError):
            (vb.parse_flv if bad[:3] == b"FLV" or not bad
             else ic.svg_dims)(bad)
    # fuzz the FLV AMF walker
    import random
    rnd = random.Random(19)
    base = vb.encode_flv(30, 320, 240)
    for _ in range(150):
        blob = bytearray(base)
        for _ in range(rnd.randint(1, 5)):
            blob[rnd.randrange(len(blob))] = rnd.randrange(256)
        try:
            vb.parse_flv(bytes(blob))
        except ValueError:
            pass  # error envelope only


def test_media_features_unified_dispatch(spark):
    import numpy as np
    from pdf_to_text_extraction_service_spark.functions.multimodal import (
        media_features,
    )
    from pdf_to_text_extraction_service_spark.kernel import (
        audiocodec as ac, imgcodec as ic, mp4box as m, videobox as vb,
    )

    rows = [
        (0, ic.encode_bmp(np.full((5, 6), 9, np.uint8))),
        (1, ac.encode_wav(np.full(800, 50, np.int16), 8000)),
        (2, ac.encode_flac_header(48000, 2, 16, 96000)),
        (3, vb.encode_matroska("webm", 4000, [(1, "V_VP8", 32, 16)])),
        (4, m.encode_mp4("M4A", 1000, 7000, [("soun", "mp4a", 0, 0)])),
        (5, m.encode_avif_header(30, 20)),
        (6, b"?? not media"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in media_features(df).collect()}
    assert (got[0]["kind"], got[0]["format"],
            got[0]["width"], got[0]["height"]) == ("image", "bmp", 6, 5)
    assert (got[1]["kind"], got[1]["duration_ms"],
            got[1]["sample_rate"]) == ("audio", 100, 8000)
    assert (got[2]["format"], got[2]["duration_ms"]) == ("flac", 2000)
    assert (got[3]["kind"], got[3]["format"],
            got[3]["duration_ms"]) == ("video", "webm", 4000)
    # audio-only mp4 classifies as audio
    assert (got[4]["kind"], got[4]["format"],
            got[4]["duration_ms"]) == ("audio", "mp4", 7000)
    assert (got[5]["kind"], got[5]["format"],
            got[5]["width"]) == ("image", "avif", 30)
    assert got[6]["kind"] is None and "unsupported" in got[6]["error"]


def test_ebml_vint_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_to_text_extraction_service_spark.kernel import videobox as vb

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=(1 << 49) - 2))
    def run(n):
        # encode a size vint the way _ebml_elem does, parse it back
        for ln in range(1, 9):
            if n < (1 << (7 * ln)) - 1:
                enc = ((1 << (7 * ln)) | n).to_bytes(ln, "big")
                break
        got, nxt = vb._read_vint(enc, 0, keep_marker=False)
        assert got == n and nxt == len(enc)

    run()


def test_ebml_unknown_size_element():
    from pdf_to_text_extraction_service_spark.kernel import videobox as vb

    # Segment with unknown size (0x01FFFFFFFFFFFFFF) containing Info
    info = vb._ebml_elem(vb._INFO, vb._ebml_elem(
        vb._TIMESCALE, (1_000_000).to_bytes(3, "big")))
    seg = (vb._SEGMENT.to_bytes(4, "big")
           + b"\x01" + b"\xff" * 7 + info)
    hdr = vb._ebml_elem(vb._EBML_HEADER, vb._ebml_elem(
        vb._DOCTYPE, b"webm"))
    st = vb.parse_matroska(hdr + seg)
    assert st["doctype"] == "webm" and st["duration_ms"] == 0


def test_adts_closed_form_and_mp3_disambiguation():
    import random
    import pytest
    from pdf_to_text_extraction_service_spark.kernel import audiocodec as ac

    st = ac.parse_adts(ac.encode_adts(40, 48000, 2))
    assert st == {"sample_rate": 48000, "channels": 2, "n_frames": 40,
                  "duration_ms": 40 * 1024 * 1000 // 48000,
                  "profile": 1}
    # multiple raw-data blocks per frame
    assert ac.parse_adts(ac.encode_adts(10, 22050, 1, rdbs=2)) \
        ["duration_ms"] == 10 * 2048 * 1000 // 22050
    # sync disambiguation: ADTS layer bits 00, MP3 layer bits 01
    mp3 = ac.encode_mp3_frames([128] * 3)
    assert (mp3[1] & 0xF6) != 0xF0      # mp3 header is NOT adts
    adts = ac.encode_adts(3)
    assert (adts[1] & 0xF6) == 0xF0
    with pytest.raises(ValueError):
        ac.parse_adts(mp3)              # layer mismatch rejected
    for bad in (b"", b"\xff\xf6" + b"\x00" * 10, b"zz"):
        with pytest.raises(ValueError):
            ac.parse_adts(bad)
    rnd = random.Random(23)
    base = ac.encode_adts(20, 44100, 2)
    for _ in range(150):
        blob = bytearray(base)
        for _ in range(rnd.randint(1, 5)):
            blob[rnd.randrange(len(blob))] = rnd.randrange(256)
        try:
            ac.parse_adts(bytes(blob))
        except ValueError:
            pass  # error envelope only


def test_container_walks_sanity_bound_wide_ints():
    """A crafted wide integer in any container header must raise
    ValueError (-> operator error row), never escape as an oversized
    Python int that crashes the whole Arrow batch cast (the ID3v2
    TLEN / EXIF int32 review class, applied to every walk)."""
    import struct

    import pytest

    from pdf_to_text_extraction_service_spark.kernel import (
        audiocodec,
        mp4box,
    )
    from pdf_to_text_extraction_service_spark.kernel import (
        videobox as vb,
    )

    # mp4: u64 mvhd duration at max over timescale 1
    ftyp = mp4box._box(b"ftyp", b"isom" + b"\x00" * 8)
    mvhd = mp4box._full(b"mvhd", 1, struct.pack(
        ">QQIQ", 0, 0, 1, (1 << 64) - 1) + b"\x00" * 80)
    with pytest.raises(ValueError, match="implausible"):
        mp4box.parse_mp4(ftyp + mp4box._box(b"moov", mvhd))

    # avi: u32 dims above int32
    avi = bytearray(vb.encode_avi(33333, 900, streams=1,
                                  w=640, h=480))
    idx = avi.index(b"avih") + 8 + 32
    avi[idx:idx + 8] = struct.pack("<II", 1 << 31, 1 << 31)
    with pytest.raises(ValueError, match="implausible"):
        vb.parse_avi(bytes(avi))

    # asf: u64 packet count at max
    asf = bytearray(vb.encode_asf(9000, 1000, 5))
    base = asf.index(vb._ASF_FILE_PROPS_GUID) + 24
    asf[base + 32:base + 40] = b"\xff" * 8
    with pytest.raises(ValueError, match="implausible"):
        vb.parse_asf(bytes(asf))

    # flv: inf width in the AMF metadata
    flv = bytearray(vb.encode_flv(95, 1280, 720, True, False))
    w_at = flv.index(struct.pack(">d", 1280.0))
    flv[w_at:w_at + 8] = struct.pack(">d", float("inf"))
    with pytest.raises(ValueError, match="implausible"):
        vb.parse_flv(bytes(flv))

    # ogg vorbis: 63-bit granule over a rate-1 id header
    ogg = bytearray(audiocodec.encode_ogg(
        "vorbis", rate=1, channels=1, granule=(1 << 62), pages=2))
    with pytest.raises(ValueError, match="implausible"):
        audiocodec.parse_ogg(bytes(ogg))

    # sane streams still parse after the bounds landed
    assert mp4box.parse_mp4(mp4box.encode_mp4(
        duration=5000))["duration_ms"] == 5000
    assert vb.parse_avi(vb.encode_avi(
        40000, 100, 1, 320, 240))["width"] == 320
