"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Prompt mandate: image/audio/video as ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample as Arrow
row passes (functions/textrows.map_rows). Image decode is REAL for
PNG and baseline JPEG via the from-spec pure-numpy codecs in
kernel/imgcodec.py (no image libraries exist in this container),
matching the reference's real-image ingestion path
(internal/extractors/image/image.go:39-82); the deterministic FAKE
container (``FAKEIMG``/``FAKEVID``, see make_fake_image) remains as
the closed-form oracle-able payload kind.
Unsupported/malformed formats surface as ``error`` rows — never a
task crash — exactly like the extraction router's failure envelopes.

Every one-row-per-payload operator here (and
operators/pagestats.pdf_image_ocr_stats) is a per-format kernel call
behind ONE Python-boundary pass, :func:`map_payloads`: it owns
NULL → ``b""``, the output columns and the error row, and passes the
key column through as it came.  The one-to-many
:func:`sample_frames` has its own body over the same
``textrows.map_rows`` boundary.
"""

from __future__ import annotations

import struct
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .textrows import map_rows

FAKE_IMG_MAGIC = b"FAKEIMG1"
FAKE_VID_MAGIC = b"FAKEVID1"


def map_payloads(df: DataFrame, key_col: str, payload_col: str,
                 schema: StructType,
                 row_fn: Callable[[bytes], dict]) -> DataFrame:
    """The per-payload row pass: ``select(key, payload)`` then one
    :func:`~..functions.textrows.map_rows` hop, one output row per
    input row.

    ``row_fn(payload)`` gets the payload as bytes (``b""`` for NULL)
    and returns a dict; the output row is the key (under ``schema``'s
    first field) plus ``row.get(f)`` for every other field.  If
    ``row_fn`` raises, the row is the key plus ``error = str(exc)``:
    an error row, never a task crash.  An operator that keeps fields
    on failure catches its own exception inside ``row_fn``."""
    key, fields = schema.names[0], schema.names[1:]

    def _payload_rows(batch: dict) -> dict:
        rows = []
        for p in batch[payload_col]:
            try:
                rows.append(row_fn(p if p is not None else b""))
            except Exception as exc:
                rows.append({"error": str(exc)})
        return {key: batch[key_col],
                **{f: [r.get(f) for r in rows] for f in fields}}

    return map_rows(df.select(key_col, payload_col), schema,
                    lambda batches: map(_payload_rows, batches))


def sniff_media(p: bytes) -> str | None:
    """THE media magic table: one family token per payload, shared by
    every dispatcher below (media_features and the per-family
    container_audio/image_breadth/video_container operators), so a
    format added here is detected identically everywhere.

    Order is load-bearing: strong magics first; ADTS before MP3
    (0xFFF sync with layer bits 00 vs MPEG-1 Layer III's 01); the
    ftyp brand splits AVIF (image) from MP4/MOV; the weak
    '<svg' containment sniff runs LAST so binary payloads whose
    early bytes happen to spell it (ID3 text, WAV samples) hit their
    strong magic first.  Returns None for unrecognized payloads.
    """
    from ..kernel.imgcodec import PNG_SIG
    from ..kernel.videobox import _ASF_HEADER_GUID

    if p.startswith(b"%PDF-"):
        return "pdf"
    if p.startswith(PNG_SIG):
        return "png"
    if p.startswith(b"\xff\xd8"):
        return "jpeg"
    if p.startswith(b"BM"):
        return "bmp"
    if p.startswith(b"GIF8"):
        return "gif"
    if p.startswith(b"II*\x00") or p.startswith(b"MM\x00*"):
        return "tiff"
    if p.startswith(FAKE_IMG_MAGIC):
        return "fakeimg"
    if p.startswith(FAKE_VID_MAGIC):
        return "fakevid"
    if p.startswith(b"RIFF"):
        sub = p[8:12]
        if sub == b"WEBP":
            return "webp"
        if sub == b"WAVE":
            return "wav"
        if sub == b"AVI ":
            return "avi"
        return None
    if p.startswith(b"fLaC"):
        return "flac"
    if p.startswith(b"OggS"):
        return "ogg"
    if len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xF6) == 0xF0:
        return "adts"
    if p.startswith(b"ID3") or (
            len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0):
        return "mp3"
    if p.startswith(b"\x1a\x45\xdf\xa3"):
        return "matroska"
    if p.startswith(_ASF_HEADER_GUID):
        return "asf"
    if p.startswith(b"FLV"):
        return "flv"
    if p[:12] == b"\x00\x00\x00\x0cjP  \r\n\x87\n" \
            or p[:4] == b"\xff\x4f\xff\x51":
        return "jp2"
    if p[4:8] == b"ftyp":
        return "avif" if p[8:12] in (b"avif", b"avis") else "mp4"
    if b"<svg" in p[:256].lower():
        return "svg"
    return None

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_bytes", LongType()),
    StructField("features", ArrayType(FloatType())),
    StructField("error", StringType()),
])

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_index", IntegerType()),
    StructField("frame", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("data_len", IntegerType()),
    ])),
])


def make_fake_image(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic fake image: magic + WH header + seeded bytes."""
    body = bytes(
        (i * 31 + seed * 7 + 13) % 256 for i in range(width * height)
    )
    return FAKE_IMG_MAGIC + struct.pack(">II", width, height) + body


def make_fake_video(frames: int, width: int, height: int,
                    seed: int = 0) -> bytes:
    body = b"".join(
        make_fake_image(width, height, seed + i)[len(FAKE_IMG_MAGIC):]
        for i in range(frames)
    )
    return FAKE_VID_MAGIC + struct.pack(">III", frames, width, height) + body


def _hist16(gray) -> list[float]:
    """16-bin histogram of a gray uint8 array, L1-normalized — the
    stand-in for a real embedding; deterministic, so testable
    end-to-end."""
    import numpy as np

    arr = np.asarray(gray).reshape(-1)
    hist = np.bincount(arr >> 4, minlength=16)[:16]
    total = max(int(arr.size), 1)
    return [float(v) / total for v in hist]


def image_features(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """Decode + feature-extract over Arrow batches; error rows keep
    ``n_bytes``."""

    def _row(p: bytes) -> dict:
        try:
            w, h, gray = _decode_gray(p)
        except Exception as exc:
            return {"n_bytes": len(p), "error": str(exc)}
        return {"width": w, "height": h, "n_bytes": len(p),
                "features": _hist16(gray)}

    return map_payloads(df, id_col, payload_col, IMAGE_FEATURES_SCHEMA,
                        _row)


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("thumb", ArrayType(IntegerType())),
    StructField("error", StringType()),
])

DHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("dhash", LongType()),
    StructField("error", StringType()),
])


def _decode_gray(payload: bytes):
    """payload → (orig_w, orig_h, gray uint8 array) for any supported
    image kind: PNG, baseline JPEG, BMP, GIF, TIFF and WebP through
    the from-spec codecs (kernel/imgcodec.py, kernel/vp8*.py), or the
    deterministic FAKEIMG container.  Anything else, or a FAKEIMG
    body shorter than w*h, raises, surfacing as an error row."""
    import numpy as np

    from ..kernel import imgcodec

    if payload.startswith(FAKE_IMG_MAGIC):
        w, h = struct.unpack(">II", payload[8:16])
        body = np.frombuffer(payload[16:16 + w * h], dtype=np.uint8)
        if body.size != w * h:
            raise ValueError("fake image truncated")
        return w, h, body.reshape(h, w)
    if payload.startswith(imgcodec.PNG_SIG):
        img = imgcodec.decode_png(payload)
    elif payload.startswith(b"\xff\xd8"):
        img = imgcodec.decode_jpeg(payload)
    elif payload.startswith(b"BM"):
        img = imgcodec.decode_bmp(payload)
    elif payload.startswith(b"GIF8"):
        img = imgcodec.decode_gif(payload)
    elif payload.startswith(b"II*\x00") or payload.startswith(b"MM\x00*"):
        img = imgcodec.decode_tiff(payload)
    elif payload.startswith(b"RIFF") and payload[8:16] == b"WEBPVP8 ":
        # r7: lossy WebP key frames within kernel/vp8's verified
        # subset decode for thumbnails/dHash too; luma IS the gray
        from ..kernel import vp8 as vp8_codec

        size = int.from_bytes(payload[16:20], "little")
        if 20 + size > len(payload):
            raise ValueError("webp: bad VP8 chunk")
        y, _u, _v = vp8_codec.decode_vp8(payload[20:20 + size])
        return int(y.shape[1]), int(y.shape[0]), y
    elif payload.startswith(b"RIFF") and payload[8:16] == b"WEBPVP8L":
        from ..kernel import vp8l as vp8l_codec

        img = vp8l_codec.decode_webp_lossless(payload)
    else:
        raise ValueError(
            "unsupported image format (PNG, JPEG, BMP, GIF, TIFF, "
            "WEBP, or FAKEIMG)")
    gray = imgcodec.to_gray(img)
    return int(gray.shape[1]), int(gray.shape[0]), gray


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8,
                  id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """Thumbnail operator: decode → deterministic area-average resize
    (imgcodec.resize_area, integer math) → grayscale pixel array.
    The row-pass shape a real thumbnailing stage would have; errors
    surface as rows, never task crashes."""
    from ..kernel import imgcodec

    def _row(p: bytes) -> dict:
        small = imgcodec.resize_area(_decode_gray(p)[2], out_w, out_h)
        return {"width": out_w, "height": out_h,
                "thumb": [int(v) for v in small.reshape(-1)]}

    return map_payloads(df, id_col, payload_col, RESIZE_SCHEMA, _row)


def image_dhash(df: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """Per-image 64-bit difference hash (imgcodec.dhash64)."""
    from ..kernel import imgcodec

    def _row(p: bytes) -> dict:
        h = imgcodec.dhash64(_decode_gray(p)[2])
        # store as signed 64-bit (Spark LongType)
        return {"dhash": h - (1 << 64) if h >= 1 << 63 else h}

    return map_payloads(df, id_col, payload_col, DHASH_SCHEMA, _row)


def dedup_image_dhash(df: DataFrame, max_hamming: int = 3,
                      id_col: str = "media_id",
                      payload_col: str = "payload",
                      max_bucket: int = 1024) -> DataFrame:
    """Image near-dup pairs ``(a, b, hamming)`` by dHash hamming
    distance, simhash-style 4×16-bit band blocking with EXACT recall
    at the default max_hamming=3: ≤3 differing bits can touch at most
    3 of the 4 bands, so every qualifying pair shares a clean band
    (pigeonhole — the same bound operators/neardup.simhash_pairs
    uses). Raising max_hamming past bands-1 trades recall for speed.
    Never all-pairs: each (band, value) bucket is verified by exact
    popcount in the pair engine (operators/floodcap.hamming_pairs),
    which emits every pair once.

    ``max_bucket`` caps each band bucket — at crawl scale,
    solid-color images (spacers, tracking pixels) ALL hash to 0 and
    would otherwise make one bucket quadratic. The cap is the
    partial-agg flood sampler (operators/floodcap.py): buckets at or
    under the cap are EXACT (the pigeonhole recall guarantee above
    holds untouched); a flooded bucket keeps a deterministic
    hash-prefix sample with expected size max_bucket, bounding the
    verify to ~max_bucket² pairs without ever funneling the flood
    through a rank window's single reducer. NOTE the cap qualifies
    the recall guarantee: a pair whose every shared band bucket is
    flooded survives only if both ends land in the sample (the exact
    popcount verify means sampling never fabricates pairs)."""
    from pyspark.sql import functions as F

    from ..operators.floodcap import hamming_pairs

    sigs = image_dhash(df, id_col, payload_col) \
        .filter(F.col("error").isNull()) \
        .select(F.col(id_col).alias("_id"), F.col("dhash").alias("_sig"))
    return hamming_pairs(sigs, max_hamming, max_bucket).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"),
        F.col("score").alias("hamming"))


VIDEO_SIG_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sig", LongType()),
    StructField("error", StringType()),
])


def video_signatures(df: DataFrame, every_n: int = 1,
                     id_col: str = "media_id",
                     payload_col: str = "payload") -> DataFrame:
    """Content signature per video: fold (dhash64, integer mean luma)
    of every ``every_n``-th frame into one 63-bit polyhash. Two videos
    share a signature iff their sampled frames agree on perceptual
    structure (dHash) and brightness (mean) — the encoding-robust
    exact-dup key a crawl video dedup groups on. FAKEVID container
    only (real containers need codecs this environment lacks); other
    payloads surface as error rows."""
    import numpy as np

    from ..kernel import imgcodec

    M = 1 << 61

    def _row(payload: bytes) -> dict:
        if not payload.startswith(FAKE_VID_MAGIC):
            raise ValueError("unsupported video container")
        frames, w, h = struct.unpack(">III", payload[8:20])
        if w * h == 0 or frames == 0:
            raise ValueError("video: bad dimensions")
        sig = 0
        # each FAKEVID frame record = 8-byte WH prefix
        # (the fake-image header sans magic) + w*h pixels
        rec = 8 + w * h
        for fi in range(0, frames, every_n):
            off = 20 + fi * rec + 8
            body = np.frombuffer(payload[off:off + w * h], dtype=np.uint8)
            if body.size != w * h:
                raise ValueError("video: truncated frame")
            dh = imgcodec.dhash64(body.reshape(h, w))
            mean = int(body.sum()) // body.size
            sig = (sig * 1099511628211 + (dh % M)) % M
            sig = (sig * 1099511628211 + mean) % M
        return {"n_frames": frames, "width": w, "height": h, "sig": sig}

    return map_payloads(df, id_col, payload_col, VIDEO_SIG_SCHEMA, _row)


def dedup_video_signature(df: DataFrame, every_n: int = 1,
                          id_col: str = "media_id",
                          payload_col: str = "payload") -> DataFrame:
    """Exact video dedup on the content signature: one row per
    duplicate GROUP — (sig, keeper=min id, dup_count). One scalar
    groupBy with map-side partial aggregation; payloads never leave
    the signature projection."""
    from pyspark.sql import functions as F

    sigs = video_signatures(df, every_n, id_col, payload_col) \
        .filter(F.col("error").isNull())
    return (
        sigs.groupBy("sig")
        .agg(F.min(id_col).alias("keeper"),
             F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
    )


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("mean_abs", LongType()),
    StructField("zero_cross", LongType()),
    StructField("error", StringType()),
])


def audio_features(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """Real WAV/PCM decode (kernel/audiocodec.py, from-spec) →
    curation signals: duration, mean absolute amplitude, zero
    crossings. The audio analog of image_features; unsupported or
    malformed payloads surface as error rows."""
    from ..kernel import audiocodec

    def _row(p: bytes) -> dict:
        rate, ch, samples = audiocodec.decode_wav(p)
        return audiocodec.audio_stats(samples, rate, ch)

    return map_payloads(df, id_col, payload_col, AUDIO_FEATURES_SCHEMA,
                        _row)


FLAC_DECODE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("bits", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("mean_abs", LongType()),
    StructField("zero_cross", LongType()),
    StructField("error", StringType()),
])


def flac_decode_features(df: DataFrame, id_col: str = "media_id",
                         payload_col: str = "payload") -> DataFrame:
    """REAL FLAC sample decode (kernel/flacdec.py, from-spec: Rice
    residuals, fixed + LPC predictors, stereo decorrelation, frame
    CRCs) → the same curation signals audio_features derives from
    WAV: duration, mean absolute amplitude, zero crossings.  The
    reference never decodes audio locally (it posts bytes to a
    transcription API, internal/extractors/audio/transcribe.go:40-126);
    sample-level decode is what gives the offline batch pipeline
    energy/silence gates for the biggest lossless container.
    Malformed or over-budget payloads surface as error rows."""
    from ..kernel import audiocodec, flacdec

    def _row(p: bytes) -> dict:
        info, samples = flacdec.decode_flac_full(p)
        st = audiocodec.audio_stats(samples, info["sample_rate"],
                                    info["channels"])
        return {**st, "bits": info["bits_per_sample"]}

    return map_payloads(df, id_col, payload_col, FLAC_DECODE_SCHEMA, _row)


MP3_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("duration_ms", LongType()),
    StructField("mean_bitrate_kbps", LongType()),
    StructField("vbr", BooleanType()),
    StructField("error", StringType()),
])


def mp3_features(df: DataFrame, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """MPEG-1 Layer III frame-header walk (kernel/audiocodec.parse_mp3)
    -> duration / bitrate / CBR-VBR curation signals.  Headers only —
    no audio decode — so the walk is O(frames) byte jumps per payload;
    malformed streams surface as error rows, never exceptions."""
    from ..kernel import audiocodec

    return map_payloads(df, id_col, payload_col, MP3_FEATURES_SCHEMA,
                        audiocodec.parse_mp3)


AUDIO_TAGS_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("container", StringType()),
    StructField("title", StringType()),
    StructField("artist", StringType()),
    StructField("album", StringType()),
    StructField("genre", StringType()),
    StructField("date", StringType()),
    StructField("track", StringType()),
    StructField("tlen_ms", LongType()),
    StructField("vendor", StringType()),
    StructField("error", StringType()),
])


def audio_tag_metadata(df: DataFrame, id_col: str = "media_id",
                       payload_col: str = "payload") -> DataFrame:
    """ID3v2 (MP3) / Vorbis-comment (FLAC, Ogg Vorbis, Ogg Opus) tag
    walk (kernel/audiotags.py) -> provenance metadata for audio
    curation: title/artist/album/genre/date/track rollup keys plus
    the ID3 TLEN declared duration.  The audio counterpart of
    image EXIF extraction (exif_features); the reference never reads
    tags (its audio leg posts bytes to an ASR service,
    internal/extractors/audio/transcribe.go:40-126) — this is
    engine-added breadth for training-data pipelines.  Tag walks are
    O(tag bytes) header reads, no audio decode; payloads with no
    recognized tag structure surface as error rows, never
    exceptions."""
    from ..kernel import audiotags

    return map_payloads(df, id_col, payload_col, AUDIO_TAGS_SCHEMA,
                        audiotags.parse_tags)


PNG_TEXT_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("title", StringType()),
    StructField("author", StringType()),
    StructField("description", StringType()),
    StructField("copyright", StringType()),
    StructField("software", StringType()),
    StructField("source", StringType()),
    StructField("comment", StringType()),
    StructField("n_text_chunks", IntegerType()),
    StructField("error", StringType()),
])


def png_text_metadata(df: DataFrame, id_col: str = "media_id",
                      payload_col: str = "payload") -> DataFrame:
    """PNG tEXt/zTXt/iTXt chunk walk (kernel/pngmeta.py) ->
    provenance metadata for image curation: title/author/copyright
    rollup keys plus the generator Software string (a strong
    synthetic-image signal).  The image counterpart of
    audio_tag_metadata; the reference never reads PNG metadata (its
    image leg posts bytes to vision APIs, image.go:38-263) — this is
    engine-added breadth.  Chunk walks are O(chunk bytes) header
    reads, no pixel decode; non-PNG payloads surface as error rows,
    never exceptions."""
    from ..kernel import pngmeta

    return map_payloads(df, id_col, payload_col, PNG_TEXT_SCHEMA,
                        pngmeta.parse_png_text)


MP4_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("brand", StringType()),
    StructField("duration_ms", LongType()),
    StructField("n_tracks", IntegerType()),
    StructField("has_video", IntegerType()),
    StructField("has_audio", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("codecs", StringType()),
    StructField("error", StringType()),
])


def mp4_features(df: DataFrame, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """ISO-BMFF (MP4/M4A/MOV) box walk (kernel/mp4box.parse_mp4) ->
    container curation signals: duration, track inventory, video
    dimensions, codec fourccs.  Headers only, no codec decode;
    malformed containers surface as error rows, never exceptions."""
    from ..kernel import mp4box

    def _row(p: bytes) -> dict:
        st = mp4box.parse_mp4(p)
        return {**st, "has_video": int(st["has_video"]),
                "has_audio": int(st["has_audio"])}

    return map_payloads(df, id_col, payload_col, MP4_FEATURES_SCHEMA, _row)


CONTAINER_AUDIO_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("codec", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("error", StringType()),
])


def container_audio_features(df: DataFrame, id_col: str = "media_id",
                             payload_col: str = "payload") -> DataFrame:
    """Magic-sniffed container-audio signals: FLAC STREAMINFO
    (kernel/audiocodec.parse_flac) and OGG Vorbis/Opus page walks
    (parse_ogg) -> codec / rate / channels / duration.  Together with
    the WAV decoder and MP3 frame walk this covers the reference's
    audio extension list header-first; malformed payloads surface as
    error rows."""
    from ..kernel import audiocodec

    def _row(p: bytes) -> dict:
        fam = sniff_media(p)
        if fam == "flac":
            return {"codec": "flac", **audiocodec.parse_flac(p)}
        if fam == "ogg":
            return audiocodec.parse_ogg(p)
        if fam == "adts":
            return {"codec": "aac", **audiocodec.parse_adts(p)}
        raise ValueError("unsupported audio container")

    return map_payloads(df, id_col, payload_col, CONTAINER_AUDIO_SCHEMA,
                        _row)


IMAGE_BREADTH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("codec", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_sample", LongType()),
    StructField("error", StringType()),
])


def image_breadth_features(df: DataFrame, id_col: str = "media_id",
                           payload_col: str = "payload") -> DataFrame:
    """Codec-breadth image signals covering the rest of the
    reference's image extension list: real pixel decode for BMP and
    GIF (kernel/imgcodec.decode_bmp/decode_gif), dimension sniff for
    WebP (VP8/VP8L/VP8X headers) and AVIF (ISO-BMFF ispe) whose pixel
    codecs are out of scope.  ``mean_sample`` is the integer mean
    over every decoded sample byte (NULL for dims-only formats)."""

    from ..kernel import imgcodec, mp4box

    def _vp8_chunk(data: bytes) -> bytes:
        """Simple-format WebP: the VP8 chunk payload at offset 20."""
        size = int.from_bytes(data[16:20], "little")
        if data[12:16] != b"VP8 " or 20 + size > len(data):
            raise ValueError("webp: bad VP8 chunk")
        return data[20:20 + size]

    def _row(payload: bytes) -> dict:
        mean = None
        fam = sniff_media(payload)
        if fam == "bmp":
            arr = imgcodec.decode_bmp(payload)
            codec = "bmp"
            w, h = arr.shape[1], arr.shape[0]
            mean = int(arr.astype("int64").sum()) // arr.size
        elif fam == "gif":
            arr = imgcodec.decode_gif(payload)
            codec = "gif"
            w, h = arr.shape[1], arr.shape[0]
            mean = int(arr.astype("int64").sum()) // arr.size
        elif fam == "tiff":
            arr = imgcodec.decode_tiff(payload)
            codec = "tiff"
            w, h = arr.shape[1], arr.shape[0]
            mean = int(arr.astype("int64").sum()) // arr.size
        elif fam == "webp":
            variant, w, h = imgcodec.webp_dims(payload)
            codec = "webp-" + variant
            if variant == "vp8l":
                # r6: real lossless decode (kernel/vp8l)
                from ..kernel import vp8l as vp8l_codec

                arr = vp8l_codec.decode_webp_lossless(payload)
                h, w = arr.shape[0], arr.shape[1]
                mean = int(arr.astype("int64").sum()) // arr.size
            elif variant == "vp8":
                # r7: real lossy key-frame decode within
                # kernel/vp8.py's verified subset; real-world streams
                # outside it (default coef probs / qi>3 / B_PRED /
                # loop filter) stay dims-only
                from ..kernel import vp8 as vp8_codec

                try:
                    yp, up, vpn = vp8_codec.decode_vp8(_vp8_chunk(payload))
                    h, w = yp.shape
                    # luma-only mean: no YUV->RGB rounding ambiguity
                    # in the oracle
                    mean = int(yp.astype("int64").sum()) // yp.size
                except ValueError:
                    pass    # outside subset: dims-only
        elif fam == "avif":
            brand, w, h = mp4box.parse_avif_dims(payload)
            codec = "avif"
        elif fam == "jp2":
            codec, w, h, _nc, _d = mp4box.parse_jp2_dims(payload)
            try:
                # r6: real lossless decode (kernel/jp2k)
                from ..kernel import jp2k as jp2k_codec

                arr = jp2k_codec.decode_jp2k(payload)
                h, w = arr.shape[0], arr.shape[1]
                mean = int(arr.astype("int64").sum()) // arr.size
            except ValueError:
                pass    # outside subset: dims-only row
        elif fam == "svg":
            w, h = imgcodec.svg_dims(payload)
            codec = "svg"
        else:
            raise ValueError("unsupported image container")
        return {"codec": codec, "width": int(w), "height": int(h),
                "mean_sample": mean}

    return map_payloads(df, id_col, payload_col, IMAGE_BREADTH_SCHEMA,
                        _row)


VIDEO_CONTAINER_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("container", StringType()),
    StructField("duration_ms", LongType()),
    StructField("n_tracks", IntegerType()),
    StructField("has_video", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("error", StringType()),
])


def video_container_features(df: DataFrame, id_col: str = "media_id",
                             payload_col: str = "payload") -> DataFrame:
    """Magic-sniffed video-container signals: Matroska/WebM EBML walk,
    AVI avih header, ASF file-properties, and ISO-BMFF (MP4/MOV via
    kernel/mp4box) — duration / track inventory / dimensions without
    codec decode, plus FLV AMF onMetaData — the reference's full
    video extension list.  Fields a container does not carry are
    NULL (AVI/ASF track kinds, ASF dims, FLV track counts).  All
    dispatchers share the one magic table (:func:`sniff_media`) —
    add a format there and every dispatcher sees it."""

    from ..kernel import mp4box, videobox

    def _row(payload: bytes) -> dict:
        fam = sniff_media(payload)
        if fam == "matroska":
            st = videobox.parse_matroska(payload)
            return dict(container=st["doctype"],
                        duration_ms=st["duration_ms"],
                        n_tracks=st["n_tracks"],
                        has_video=int(st["has_video"]),
                        width=st["width"], height=st["height"])
        if fam == "avi":
            st = videobox.parse_avi(payload)
            return dict(container="avi", duration_ms=st["duration_ms"],
                        n_tracks=st["n_streams"],
                        width=st["width"], height=st["height"])
        if fam == "asf":
            st = videobox.parse_asf(payload)
            return dict(container="asf", duration_ms=st["duration_ms"])
        if fam == "mp4":
            # NOTE: an AVIF/AVIS brand sniffs as an IMAGE family and
            # errors here (it previously fell into parse_mp4 — a
            # misclassification)
            st = mp4box.parse_mp4(payload)
            return dict(container="mp4", duration_ms=st["duration_ms"],
                        n_tracks=st["n_tracks"],
                        has_video=int(st["has_video"]),
                        width=st["width"], height=st["height"])
        if fam == "flv":
            st = videobox.parse_flv(payload)
            return dict(container="flv", duration_ms=st["duration_ms"],
                        has_video=int(st["has_video"]),
                        width=st["width"], height=st["height"])
        raise ValueError("unsupported video container")

    return map_payloads(df, id_col, payload_col, VIDEO_CONTAINER_SCHEMA,
                        _row)


MEDIA_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_pages", IntegerType()),
    StructField("error", StringType()),
])


def media_features(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """ONE dispatcher over an opaque media column: magic-sniffs any
    payload the engine understands — raster images (real decode),
    WebP/AVIF/SVG (dims), WAV (real decode), MP3/FLAC/OGG (header
    walks), MP4/Matroska/AVI/ASF/FLV (container walks), PDF (page
    count) — and emits one unified signal row.  Fields a format does
    not carry are NULL; unknown formats are error rows.  This is the
    entry point a curation pipeline points at a crawl's media column
    before fanning out to the per-format operators."""

    from ..kernel import audiocodec, imgcodec, mp4box, pdfk, videobox

    def _row(p: bytes) -> dict:
        fam = sniff_media(p)
        if fam == "pdf":
            doc = pdfk.PDFDoc(p)
            return dict(kind="document", format="pdf",
                        n_pages=doc.page_count)
        elif fam in ("png", "jpeg", "bmp", "gif", "tiff", "fakeimg"):
            fmt = "fake" if fam == "fakeimg" else fam
            w, h, _gray = _decode_gray(p)
            return dict(kind="image", format=fmt, width=w, height=h)
        elif fam == "webp":
            variant, w, h = imgcodec.webp_dims(p)
            return dict(kind="image", format="webp-" + variant,
                        width=w, height=h)
        elif fam == "wav":
            rate, ch, samples = audiocodec.decode_wav(p)
            return dict(kind="audio", format="wav",
                        sample_rate=rate, channels=ch,
                        duration_ms=samples.shape[0] * 1000 // rate)
        elif fam == "flac":
            st = audiocodec.parse_flac(p)
            return dict(kind="audio", format="flac",
                        sample_rate=st["sample_rate"],
                        channels=st["channels"],
                        duration_ms=st["duration_ms"])
        elif fam == "ogg":
            st = audiocodec.parse_ogg(p)
            return dict(kind="audio", format=st["codec"],
                        sample_rate=st["sample_rate"],
                        channels=st["channels"],
                        duration_ms=st["duration_ms"])
        elif fam == "adts":
            st = audiocodec.parse_adts(p)
            return dict(kind="audio", format="aac",
                        sample_rate=st["sample_rate"],
                        channels=st["channels"],
                        duration_ms=st["duration_ms"])
        elif fam == "mp3":
            st = audiocodec.parse_mp3(p)
            return dict(kind="audio", format="mp3",
                        sample_rate=st["sample_rate"],
                        channels=st["channels"],
                        duration_ms=st["duration_ms"])
        elif fam == "matroska":
            st = videobox.parse_matroska(p)
            return dict(kind="video", format=st["doctype"],
                        width=st["width"] or None,
                        height=st["height"] or None,
                        duration_ms=st["duration_ms"])
        elif fam == "avi":
            st = videobox.parse_avi(p)
            return dict(kind="video", format="avi",
                        width=st["width"], height=st["height"],
                        duration_ms=st["duration_ms"])
        elif fam == "asf":
            st = videobox.parse_asf(p)
            return dict(kind="video", format="asf",
                        duration_ms=st["duration_ms"])
        elif fam == "flv":
            st = videobox.parse_flv(p)
            return dict(kind="video", format="flv",
                        width=st["width"] or None,
                        height=st["height"] or None,
                        duration_ms=st["duration_ms"])
        elif fam == "avif":
            _b, w, h = mp4box.parse_avif_dims(p)
            return dict(kind="image", format="avif",
                        width=w, height=h)
        elif fam == "jp2":
            fmt, w, h, _nc, _d = mp4box.parse_jp2_dims(p)
            return dict(kind="image", format=fmt,
                        width=w, height=h)
        elif fam == "mp4":
            st = mp4box.parse_mp4(p)
            return dict(kind="video" if st["has_video"] else "audio",
                        format="mp4", width=st["width"] or None,
                        height=st["height"] or None,
                        duration_ms=st["duration_ms"])
        elif fam == "fakevid":
            frames, w, h = struct.unpack(">III", p[8:20])
            return dict(kind="video", format="fakevid",
                        width=w, height=h)
        elif fam == "svg":
            w, h = imgcodec.svg_dims(p)
            return dict(kind="image", format="svg",
                        width=w, height=h)
        else:
            raise ValueError("unsupported media payload")

    return map_payloads(df, id_col, payload_col, MEDIA_FEATURES_SCHEMA,
                        _row)


def sample_frames(df: DataFrame, every_n: int = 2,
                  id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """Frame-sample fake-video payloads: a 1-to-many row pass (the
    cardinality-changing shape a real ffmpeg sampler would have)."""

    def _frames(batch: dict) -> dict:
        rows = {"media_id": [], "frame_index": [], "frame": []}
        for mid, payload in zip(batch[id_col], batch[payload_col]):
            if payload is None or not payload.startswith(FAKE_VID_MAGIC):
                continue
            frames, w, h = struct.unpack(">III", payload[8:20])
            for fi in range(0, frames, every_n):
                rows["media_id"].append(mid)
                rows["frame_index"].append(fi)
                rows["frame"].append(
                    {"width": w, "height": h, "data_len": w * h})
        return rows

    return map_rows(df.select(id_col, payload_col), FRAME_SCHEMA,
                    lambda batches: map(_frames, batches))


EXIF_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("make", StringType()),
    StructField("model", StringType()),
    StructField("orientation", IntegerType()),
    StructField("datetime_original", StringType()),
    StructField("exposure_time", DoubleType()),
    StructField("f_number", DoubleType()),
    StructField("iso", IntegerType()),
    StructField("focal_length", DoubleType()),
    StructField("gps_present", BooleanType()),
    StructField("gps_lat", DoubleType()),
    StructField("gps_lon", DoubleType()),
    StructField("error", StringType()),
])


def exif_features(df: DataFrame, id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """EXIF curation signals over JPEG/TIFF payloads
    (kernel/exif.py): camera provenance, capture timestamp,
    orientation, and the GPS/PII flag with signed decimal
    coordinates.  Payloads without an EXIF block (or non-JPEG/TIFF
    bytes) yield an all-NULL row carrying the error string — the
    operator never raises (reference resilience posture,
    cmd/server/main.go:539-549)."""

    from ..kernel import exif as exif_mod

    def _row(p: bytes) -> dict:
        try:
            return exif_mod.parse_exif(p)
        except Exception as exc:  # malformed: NULL row + error
            return {"error": str(exc)[:200] or "exif: parse error"}

    return map_payloads(df, id_col, payload_col, EXIF_SCHEMA, _row)


GIF_ANIM_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("duration_cs", IntegerType()),
    StructField("loop_count", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_first", LongType()),
    StructField("mean_last", LongType()),
    StructField("error", StringType()),
])


def gif_animation_features(df: DataFrame, id_col: str = "media_id",
                           payload_col: str = "payload") -> DataFrame:
    """Animated-GIF curation signals (kernel/imgcodec.gif_animation):
    frame count, total loop duration in centiseconds, NETSCAPE loop
    count (-1 = absent), screen dims, and the integer sample means of
    the first and last COMPOSITED frames (disposal + transparency
    applied) — the signals an animation-vs-static gate and a frame-
    dedup stage key on.  Non-GIF or malformed payloads yield a NULL
    row with the error string; never raises."""

    from ..kernel import imgcodec

    def _row(payload: bytes) -> dict:
        row: dict = {}
        try:
            frames, delays, loop = imgcodec.gif_animation(payload)
            row["n_frames"] = len(frames)
            row["duration_cs"] = sum(delays)
            row["loop_count"] = loop
            row["height"] = frames[0].shape[0]
            row["width"] = frames[0].shape[1]
            row["mean_first"] = int(
                frames[0].astype("int64").sum()) // frames[0].size
            row["mean_last"] = int(
                frames[-1].astype("int64").sum()) // frames[-1].size
        except Exception as exc:
            row["error"] = str(exc)[:200] or "gif: decode error"
        return row

    return map_payloads(df, id_col, payload_col, GIF_ANIM_SCHEMA, _row)
