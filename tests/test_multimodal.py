"""Multimodal plumbing tests: schema, batch shape, determinism of the
stubbed codecs (decode/features/resize/frame-sample over mapInPandas)."""

import pytest
from pyspark.sql import functions as F

from meza_spark.llm.multimodal import (attach_media_meta, decode_image,
                                       frame_sample, image_features,
                                       resize_image)


@pytest.fixture()
def media(spark):
    return spark.range(6).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")),
                 "utf-8").alias("payload"))


def test_attach_media_meta_jvm_side(spark, media):
    out = attach_media_meta(media)
    rows = out.collect()
    assert {r["format"] for r in rows} == {"unknown"}
    assert all(r["n_bytes"] == len(r["payload"]) for r in rows)
    # sha over binary is JVM-side: no Python appears in the plan
    from meza_spark.util import explain_str

    plan = explain_str(out, "simple")
    assert "Python" not in plan


def test_decode_image_deterministic(spark, media):
    # unknown payloads: 'stub' keeps the legacy deterministic fake
    a = {r["media_id"]: r["crc"]
         for r in decode_image(media, unsupported="stub").collect()}
    b = {r["media_id"]: r["crc"]
         for r in decode_image(media, unsupported="stub").collect()}
    assert a == b and len(a) == 6


def test_decode_image_unsupported_modes(spark, media):
    import pytest as _pytest

    # default is the honest gate: unknown payloads raise
    with _pytest.raises(Exception):
        decode_image(media).collect()
    # 'skip' drops undecodable rows (curation-pipeline behavior)
    assert decode_image(media, unsupported="skip").count() == 0


def test_decode_image_real_bmp(spark):
    import numpy as np

    from meza_spark.llm.multimodal import _encode_bmp

    px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
    payload = _encode_bmp(px)
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "media_id long, payload binary")
    r = decode_image(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (5, 3, 3)
    assert abs(r["mean_pixel"] - px.mean()) < 1e-12


def test_decode_image_real_netpbm(spark):
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    pgm = b"P5 3 1 255 " + bytes([10, 20, 30])
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(pgm))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (2, 2, 3)
    assert abs(rows[1]["mean_pixel"] - sum(range(12)) / 12) < 1e-12
    assert (rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == (3, 1, 1)
    assert rows[2]["mean_pixel"] == 20.0


def test_decode_audio_real_wav(spark):
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import decode_audio

    samples = np.array([0, 16384, -16384, 32767], dtype="<i2")
    data = samples.tobytes()
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data)
    df = spark.createDataFrame([(7, bytearray(wav))],
                               "media_id long, payload binary")
    r = decode_audio(df).collect()[0]
    s = samples.astype(float) / 32768.0
    assert (r["sample_rate"], r["channels"], r["n_samples"]) == (8000, 1, 4)
    assert r["duration_ms"] == 4 * 1000 // 8000
    assert abs(r["rms"] - float(np.sqrt((s * s).mean()))) < 1e-12
    assert r["peak"] == float(np.abs(s).max())


def test_image_features_fixed_width(spark, media):
    rows = image_features(media, resize_to=16).collect()
    assert all(len(r["features"]) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])


def test_resize_image_schema_and_size(spark, media):
    rows = resize_image(media, 32, 24).collect()
    assert len(rows) == 6
    assert all((r["width"], r["height"]) == (32, 24) for r in rows)
    sizes = {len(r["payload"]) for r in rows}
    assert len(sizes) == 1  # nominal resized size is uniform


def test_resize_image_real_bmp_roundtrip(spark):
    import numpy as np

    from meza_spark.llm.multimodal import _decode_bmp, _encode_bmp

    # 4x4 image with distinct quadrant colors; NN-downsample to 2x2
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = 10
    px[:2, 2:] = 20
    px[2:, :2] = 30
    px[2:, 2:] = 40
    df = spark.createDataFrame([(1, bytearray(_encode_bmp(px)))],
                               "media_id long, payload binary")
    r = resize_image(df, 2, 2).collect()[0]
    small = _decode_bmp(bytes(r["payload"]))
    assert small.shape == (2, 2, 3)
    assert small[0, 0, 0] == 10 and small[0, 1, 0] == 20
    assert small[1, 0, 0] == 30 and small[1, 1, 0] == 40


def test_resize_image_rgba_inputs(spark):
    """r8 regression: 4-channel decodes (RGBA PNG / alpha WebP) used
    to crash the re-encode reshape inside the UDF — alpha must drop
    into the 24-bit BMP container instead."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_bmp, _encode_png
    from meza_spark.llm.webp import encode_webp_lossless

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, (6, 9, 4), dtype=np.uint8)
    rows = [(1, bytearray(_encode_png(px))),
            (2, bytearray(encode_webp_lossless(px)))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in resize_image(df, 3, 3).collect()}
    for mid in (1, 2):
        small = _decode_bmp(bytes(out[mid]["payload"]))
        assert small.shape == (3, 3, 3)
        # NN sample of the RGB planes, alpha dropped
        ys = (np.arange(3) * 6) // 3
        xs = (np.arange(3) * 9) // 3
        assert np.array_equal(small, px[ys][:, xs][:, :, :3])


def test_image_features_real_gray_gradient(spark):
    import numpy as np

    from meza_spark.llm.multimodal import _encode_bmp

    # constant-value image -> every feature equals value/255
    px = np.full((8, 8, 3), 51, dtype=np.uint8)
    df = spark.createDataFrame([(1, bytearray(_encode_bmp(px)))],
                               "media_id long, payload binary")
    r = image_features(df, resize_to=16).collect()[0]
    assert len(r["features"]) == 16
    assert all(abs(v - 0.2) < 1e-6 for v in r["features"])


def test_frame_sample_one_row_per_frame(spark, media):
    out = frame_sample(media, every_ms=1000)
    rows = out.collect()
    assert len(rows) == 6 * 5
    per = [r for r in rows if r["media_id"] == 0]
    assert sorted(r["frame_idx"] for r in per) == [0, 1, 2, 3, 4]
    assert sorted(r["ts_ms"] for r in per) == [0, 1000, 2000, 3000, 4000]


def _mini_png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))


def _mini_gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _mini_jpeg(w, h):
    import struct
    # SOI + APP0 stub + SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 2)
    return b"\xff\xd8" + app0 + sof0


def _real_wav(rate=8000, seconds=2):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(b"\x00\x00" * rate * seconds)
    return buf.getvalue()


def test_parse_headers_pure():
    from meza_spark.llm.multimodal import _parse_headers

    assert _parse_headers(_mini_png(640, 480)) == {
        "format": "png", "width": 640, "height": 480, "channels": None,
        "sample_rate": None, "duration_ms": None, "orientation": None}
    assert _parse_headers(_mini_gif(12, 34))["width"] == 12
    j = _parse_headers(_mini_jpeg(1920, 1080))
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 1920, 1080)
    wv = _parse_headers(_real_wav(8000, 2))
    assert wv["format"] == "wav" and wv["sample_rate"] == 8000
    assert wv["channels"] == 1 and wv["duration_ms"] == 2000
    assert _parse_headers(b"garbage bytes here")["format"] == "unknown"
    # dispatch by the shared sniff: netpbm decodes; a PNG too short for
    # IHDR and an ICO (not header-parsed) stay 'unknown'
    from meza_spark.llm.multimodal import decode_pixels
    assert decode_pixels(b"P5 3 1 255 " + bytes([10, 20, 30])).shape \
        == (1, 3, 1)
    assert _parse_headers(_mini_png(640, 480)[:20])["format"] == "unknown"
    ico = b"\x00\x00\x01\x00\x01\x00" + b"\x00" * 16
    assert _parse_headers(ico)["format"] == "unknown"


def test_parse_media_headers_df(spark):
    from meza_spark.llm.multimodal import parse_media_headers

    rows = [(1, _mini_png(64, 32)), (2, _real_wav(16000, 1)),
            (3, _mini_gif(5, 6)), (4, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in parse_media_headers(df).collect()}
    assert set(out) == {1, 2, 3}  # null payload skipped
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) \
        == ("png", 64, 32)
    assert (out[2]["sample_rate"], out[2]["duration_ms"]) == (16000, 1000)
    assert (out[3]["width"], out[3]["height"]) == (5, 6)


def test_png_codec_roundtrip_all_filters_and_channels():
    """_encode_png/_decode_png: every scanline filter × every channel
    count must reconstruct the pixel array bit-exactly (the decoder is
    the stdlib zlib + RFC 2083 filter walk, no Pillow)."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_png, _encode_png

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, (11, 17, c), dtype=np.uint8)
        for ft in (None, 0, 1, 2, 3, 4):
            back = _decode_png(_encode_png(px, filter_type=ft))
            assert back.shape == (11, 17, c)
            assert np.array_equal(back, px), (c, ft)


def test_png_palette_and_honest_gates():
    import struct
    import zlib

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import _decode_png, decode_pixels

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d))

    sig = b"\x89PNG\r\n\x1a\n"
    # color type 3: palette lookup expands to RGB
    plte = bytes(range(30))
    body = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([9, 4, 5])
    png = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)) \
        + chunk(b"PLTE", plte) + chunk(b"IDAT", zlib.compress(body)) \
        + chunk(b"IEND", b"")
    out = _decode_png(png)
    assert out.shape == (2, 3, 3) and out[1, 0].tolist() == [27, 28, 29]
    # illegal (depth, color-type) pairs per PNG 11.2.2 are corrupt
    # files, not capability gaps (every legal pair decodes now)
    for depth, ct in ((16, 3), (2, 2), (4, 6)):
        bad = sig + chunk(b"IHDR", struct.pack(
            ">IIBBBBB", 3, 2, depth, ct, 0, 0, 0))
        with pytest.raises(ValueError):
            _decode_png(bad)
    # baseline JPEG decodes for real now; a truncated marker stream
    # is a skippable ValueError, not a capability gate
    with pytest.raises(ValueError):
        decode_pixels(b"\xff\xd8\xff\xe0rest")


def test_png_adam7_interlaced_roundtrip():
    """Adam7 PNGs (the progressive web export) decode for real: the
    seven passes scatter back bit-exactly, including sizes where late
    passes are empty (1x1 keeps only pass 1)."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_png, _encode_png

    rng = np.random.default_rng(11)
    for c in (1, 3, 4):
        for (h, w) in [(1, 1), (2, 3), (8, 8), (9, 13), (7, 1)]:
            px = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
            back = _decode_png(_encode_png(px, interlace=True))
            assert np.array_equal(back, px), (c, h, w)


def test_decode_image_png_path(spark):
    """decode_image over real PNG payloads: stats come from the
    decoded array, matching the same image encoded as BMP."""
    import numpy as np

    from meza_spark.llm.multimodal import (_encode_bmp, _encode_png,
                                           decode_image)

    px = (np.arange(5 * 7 * 3, dtype=np.int64) * 11 % 256) \
        .astype(np.uint8).reshape(5, 7, 3)
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(px))), (2, bytearray(_encode_bmp(px)))],
        "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_image(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) \
        == (7, 5, 3)
    assert out[1]["mean_pixel"] == out[2]["mean_pixel"]


def test_corrupt_png_is_value_error_and_skippable(spark):
    """Malformed PNG payloads (truncated IDAT, short IHDR, palette
    index out of range) must raise ValueError — not zlib/struct/Index
    errors — so unsupported='skip' pipelines drop them instead of
    crashing (round-5 review finding)."""
    import struct
    import zlib

    import pytest

    from meza_spark.llm.multimodal import (_decode_png, _encode_png,
                                           decode_image)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
    bad = [
        sig + ihdr + chunk(b"IDAT", b"\x01\x02not-zlib"),   # zlib.error
        sig + chunk(b"IHDR", b"\x00\x00"),                  # struct.error
        sig + ihdr + chunk(b"PLTE", bytes(6))
        + chunk(b"IDAT", zlib.compress(b"\x00\x09\x09\x09"
                                       b"\x00\x09\x09\x09")),
    ]
    # the third needs color type 3 to hit the palette lookup
    bad[2] = sig + chunk(b"IHDR", struct.pack(
        ">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)) + chunk(b"PLTE", bytes(6)) \
        + chunk(b"IDAT", zlib.compress(b"\x00\x09\x09\x09"
                                       b"\x00\x09\x09\x09"))
    for payload in bad:
        with pytest.raises(ValueError):
            _decode_png(payload)
    import numpy as np
    good = _encode_png(np.zeros((2, 3, 3), dtype=np.uint8))
    rows = [(1, bytearray(bad[0])), (2, bytearray(bad[2])),
            (3, bytearray(good))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = decode_image(df, unsupported="skip").collect()
    assert [r["media_id"] for r in out] == [3]


def test_png_16bit_decode():
    """16-bit PNGs decode via the same byte-level filter walk (bpp =
    2c) and fold to uint8 by the high byte — the standard 16->8
    downconversion. Covers plain + Adam7 and a Sub-filtered row
    (where the left reference is 2c bytes away)."""
    import struct
    import zlib

    import numpy as np

    from meza_spark.llm.multimodal import _ADAM7, _decode_png

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d))

    sig = b"\x89PNG\r\n\x1a\n"
    ctype_of = {1: 0, 3: 2, 4: 6}

    def enc16(px16, interlace=0, sub_filter=False):
        h, w, c = px16.shape
        be = px16.astype(">u2")

        def fimg(img):
            body = bytearray()
            for y in range(img.shape[0]):
                rb = np.frombuffer(img[y].tobytes(), np.uint8)
                if sub_filter:
                    bpp = 2 * c
                    left = np.concatenate(
                        [np.zeros(bpp, np.int16),
                         rb[:-bpp].astype(np.int16)]) \
                        if len(rb) > bpp else np.zeros(len(rb), np.int16)
                    body.append(1)
                    body += ((rb.astype(np.int16) - left) & 0xFF) \
                        .astype(np.uint8).tobytes()
                else:
                    body.append(0)
                    body += rb.tobytes()
            return body

        if interlace:
            body = bytearray()
            for x0, y0, dx, dy in _ADAM7:
                s = be[y0::dy, x0::dx]
                if s.shape[0] and s.shape[1]:
                    body += fimg(s)
        else:
            body = fimg(be)
        ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype_of[c], 0, 0,
                           1 if interlace else 0)
        return sig + chunk(b"IHDR", ihdr) + \
            chunk(b"IDAT", zlib.compress(bytes(body))) + \
            chunk(b"IEND", b"")

    rng = np.random.default_rng(5)
    for c in (1, 3, 4):
        px16 = rng.integers(0, 65536, (5, 7, c), dtype=np.uint16)
        want = (px16 >> 8).astype(np.uint8)
        for inter in (0, 1):
            assert np.array_equal(_decode_png(enc16(px16, inter)), want)
        assert np.array_equal(
            _decode_png(enc16(px16, sub_filter=True)), want)


def test_parse_headers_real_mp4_box_walk():
    """MP4 metadata is a real ISO-BMFF box walk now, not just a
    format sniff: mvhd timescale/duration -> duration_ms, the first
    video tkhd's 16.16 fixed-point dims -> width/height. Covers both
    box versions and a 64-bit largesize box."""
    import struct

    from meza_spark.llm.multimodal import _parse_headers

    def box(typ, body, large=False):
        if large:
            return struct.pack(">I", 1) + typ + \
                struct.pack(">Q", 16 + len(body)) + body
        return struct.pack(">I", 8 + len(body)) + typ + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    # v0 mvhd: ver/flags, ctime, mtime, timescale=600, duration=9000
    mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, 600, 9000)
               + b"\x00" * 80)
    # v0 tkhd: 76 bytes to width; 640.0 x 360.0 in 16.16
    tk_body = struct.pack(">B3x", 0) + b"\x00" * 72 \
        + struct.pack(">II", 640 << 16, 360 << 16)
    trak = box(b"trak", box(b"tkhd", tk_body))
    moov = box(b"moov", mvhd + trak, large=True)
    out = _parse_headers(ftyp + moov)
    assert out["format"] == "mp4"
    assert out["duration_ms"] == 9000 * 1000 // 600
    assert (out["width"], out["height"]) == (640, 360)
    # v1 (64-bit) mvhd/tkhd
    mvhd1 = box(b"mvhd", struct.pack(">B3xQQIQ", 1, 0, 0, 1000, 2500)
                + b"\x00" * 80)
    tk1_body = struct.pack(">B3x", 1) + b"\x00" * 84 \
        + struct.pack(">II", 1920 << 16, 1080 << 16)
    moov1 = box(b"moov", mvhd1 + box(b"trak", box(b"tkhd", tk1_body)))
    out1 = _parse_headers(ftyp + moov1)
    assert out1["duration_ms"] == 2500
    assert (out1["width"], out1["height"]) == (1920, 1080)


def test_gif_codec_roundtrip():
    """_encode_gif/_decode_gif: pure-stdlib LZW + palette decode.
    Plain and 4-pass interlaced frames, grayscale expansion, a
    single-color frame (degenerate palette), and a large random frame
    that overflows the 4096-code table (mid-stream clear + restart).
    Reference: meza has no image codec; this serves the charter's
    multimodal-column decode with GIF added to BMP/PPM/PGM/PNG."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_gif, _encode_gif

    rng = np.random.default_rng(11)
    # <=256 unique colors by construction: indices into a palette
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    for shape in ((1, 1), (5, 7), (16, 24), (64, 64)):
        idx = rng.integers(0, 256, shape)
        px = pal[idx]
        for inter in (False, True):
            assert np.array_equal(_decode_gif(_encode_gif(px, interlace=inter)), px)
    # grayscale input expands to RGB
    g = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    out = _decode_gif(_encode_gif(g))
    assert out.shape == (4, 6, 3)
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
    # single color: 1-entry palette, mcs floor of 2
    solid = np.full((3, 9, 3), 77, dtype=np.uint8)
    assert np.array_equal(_decode_gif(_encode_gif(solid)), solid)
    # runs of one color drive the KwKwK (code == len(table)) branch
    runs = pal[np.zeros((2, 200), dtype=int)].copy()
    runs[1, 100:] = pal[3]
    assert np.array_equal(_decode_gif(_encode_gif(runs)), runs)


def test_gif_extensions_local_table_and_errors():
    """Spec corners: extension blocks (animated GIFs' GCE) are
    skipped, a local color table overrides the global one, and the
    corrupt/unsupported paths raise ValueError (skippable rows) while
    JPEG stays honestly gated."""
    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import (_decode_gif, _encode_gif,
                                           decode_pixels)

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    enc = _encode_gif(px)
    assert np.array_equal(decode_pixels(bytearray(enc)), px)

    # splice a graphic-control extension (what animated GIFs carry)
    # between the header+GCT and the image descriptor
    lsd_flags = enc[10]
    n_gct = 3 * (2 << (lsd_flags & 0x07))
    head_end = 13 + n_gct
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    assert np.array_equal(
        _decode_gif(enc[:head_end] + gce + enc[head_end:]), px)

    # rewrite the same frame to use a LOCAL color table instead
    desc = bytearray(enc[head_end:head_end + 10])
    assert desc[0] == 0x2C
    desc[9] = 0x80 | (lsd_flags & 0x07)   # LCT present, same size
    no_gct = enc[:10] + bytes([lsd_flags & 0x7F]) + enc[11:13]
    lct_form = no_gct + bytes(desc) + enc[13:head_end] \
        + enc[head_end + 10:]
    assert np.array_equal(_decode_gif(lct_form), px)

    with pytest.raises(ValueError):
        _decode_gif(b"NOTAGIF" + b"\x00" * 20)
    with pytest.raises(ValueError):      # truncated pixel data
        _decode_gif(enc[:head_end + 14])
    with pytest.raises(ValueError):      # no frame before trailer
        _decode_gif(enc[:head_end] + b"\x3B")
    # 17x17 gradient: every pixel a distinct color -> 289 > 256
    yy, xx = np.mgrid[0:17, 0:17].astype(np.uint8)
    grad = np.stack([xx, yy, np.zeros_like(xx)], axis=2)
    with pytest.raises(ValueError):      # >256 colors can't palettize
        _encode_gif(grad)


def test_jpeg_codec_roundtrip():
    """Baseline JPEG decodes for real: pure stdlib+numpy Huffman +
    dequant + orthonormal-basis IDCT + YCbCr->RGB. Encoder and
    decoder share only the Annex K constants, so a round-trip within
    quantization tolerance exercises both directions of the canonical
    Huffman assignment, zig-zag, and the color transforms. Uniform
    images (DC-only blocks) round-trip exactly."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_jpeg, _encode_jpeg

    yy, xx = np.mgrid[0:32, 0:48]
    smooth = np.stack([(xx * 3) % 256, (yy * 5) % 256,
                       ((xx + yy) * 2) % 256], axis=2).astype(np.uint8)
    for q, tol in ((95, 8), (75, 16)):
        dec = _decode_jpeg(_encode_jpeg(smooth, quality=q))
        assert dec.shape == smooth.shape
        assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= tol
    # uniform color: DC-only, quantization exact
    solid = np.full((16, 16, 3), 130, np.uint8)
    assert np.array_equal(_decode_jpeg(_encode_jpeg(solid, quality=90)),
                          solid)
    # grayscale single-component scan
    g = (np.arange(24 * 24).reshape(24, 24) % 256).astype(np.uint8)
    dec = _decode_jpeg(_encode_jpeg(g, quality=92))
    assert dec.shape == (24, 24, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 8
    # 4:2:0 subsampling: 16x16 MCUs, chroma box-average + upsample
    dec = _decode_jpeg(_encode_jpeg(smooth, quality=90, subsample=True))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 12
    # restart markers: DC predictors reset per interval
    dec = _decode_jpeg(_encode_jpeg(smooth, quality=90,
                                    restart_interval=2))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 8
    # non-multiple-of-8 dims with high-frequency noise at q100
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    dec = _decode_jpeg(_encode_jpeg(noise, quality=100))
    assert dec.shape == noise.shape
    assert np.abs(dec.astype(int) - noise.astype(int)).max() <= 4


def test_jpeg_gates_and_errors():
    """decode_pixels routes JPEG to the real decoder; progressive
    (SOF2) decodes for real since round 6, so a baseline stream
    merely RELABELED as SOF2 is now a corrupt file (its scan header
    violates the progressive spectral-selection rules); only
    hierarchical/arithmetic stay gated. Corrupt streams raise
    ValueError (skippable rows)."""
    import struct

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import (_decode_jpeg, _encode_jpeg,
                                           decode_pixels)

    px = np.full((8, 8, 3), 200, np.uint8)
    enc = _encode_jpeg(px, quality=85)
    assert np.array_equal(decode_pixels(bytearray(enc)), px)

    # SOF0 relabeled SOF2: the baseline Se=63 interleaved scan is
    # illegal in a progressive frame — corrupt, not a gate
    sof_at = enc.index(b"\xff\xc0")
    prog = enc[:sof_at + 1] + b"\xc2" + enc[sof_at + 2:]
    with pytest.raises(ValueError):
        _decode_jpeg(prog)
    # arithmetic-coded (SOF9/10) stays an honest capability gate
    arith = enc[:sof_at + 1] + b"\xc9" + enc[sof_at + 2:]
    with pytest.raises(NotImplementedError):
        _decode_jpeg(arith)

    with pytest.raises(ValueError):
        _decode_jpeg(b"\xff\xd8NOPE" + b"\x00" * 16)
    with pytest.raises(ValueError):      # SOS that names a missing comp
        _decode_jpeg(enc[:2] + b"\xff\xda" + struct.pack(">H", 8)
                     + bytes([1, 9, 0x00, 0, 63, 0]))
    with pytest.raises(ValueError):      # no scan at all
        _decode_jpeg(enc[:sof_at] + b"\xff\xd9")


def test_codec_review_fixes():
    """Round-5 review findings: corrupt GIF/JPEG payloads surface as
    ValueError (skippable) instead of struct.error/IndexError; JPEG
    fill bytes and standalone markers parse; zero-dim frames raise
    and truncated multi-scan streams surface as corrupt; an offset GIF
    frame composites onto the logical screen over the background
    color so decoded dims agree with parse_media_headers; a
    truncated v1 mvhd is skipped rather than misread."""
    import struct

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import (_decode_gif, _decode_jpeg,
                                           _encode_gif, _encode_jpeg,
                                           _parse_headers)

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 8, (4, 6))]
    gif = _encode_gif(px)
    # truncated header / descriptor / LZW garbage: all ValueError now
    for bad in (gif[:10], gif[:15], gif[:20]):
        with pytest.raises(ValueError):
            _decode_gif(bad)

    # offset frame: widen the screen, shift the frame by (2, 1)
    lsd_flags = gif[10]
    n_gct = 3 * (2 << (lsd_flags & 0x07))
    head_end = 13 + n_gct
    sw, sh = 6 + 3, 4 + 2
    moved = (gif[:6] + struct.pack("<HH", sw, sh) + gif[10:head_end]
             + b"\x2C" + struct.pack("<HHHHB", 2, 1, 6, 4, 0)
             + gif[head_end + 10:])
    out = _decode_gif(moved)
    assert out.shape == (sh, sw, 3)
    assert np.array_equal(out[1:5, 2:8], px)
    # background fill is uniform (palette entry 0 of the color table)
    assert (out[0, :] == out[0, 0]).all() and (out[5, :] == out[0, 0]).all()
    # a frame past the screen bounds is corrupt
    overflow = (gif[:6] + struct.pack("<HH", 5, 3) + gif[10:head_end]
                + b"\x2C" + struct.pack("<HHHHB", 2, 1, 6, 4, 0)
                + gif[head_end + 10:])
    with pytest.raises(ValueError):
        _decode_gif(overflow)

    jp = _encode_jpeg(np.full((8, 8, 3), 99, np.uint8))
    # fill byte before a marker is legal padding
    padded = jp[:2] + b"\xff" + jp[2:]
    assert np.array_equal(_decode_jpeg(padded), _decode_jpeg(jp))
    # truncated SOF: ValueError, not struct.error
    sof_at = jp.index(b"\xff\xc0")
    with pytest.raises(ValueError):
        _decode_jpeg(jp[:sof_at + 6])
    # zero-dimension SOF
    zero = (jp[:sof_at + 5] + struct.pack(">HH", 0, 0)
            + jp[sof_at + 9:])
    with pytest.raises(ValueError):
        _decode_jpeg(zero)
    # non-interleaved multi-scan decodes through the round-6 scan
    # framework now; THIS fixture truncates mid-scan, so the padded
    # 1-bits hit an invalid Huffman code — corrupt, skippable
    sos_at = jp.index(b"\xff\xda")
    multi = (jp[:sos_at] + b"\xff\xda" + struct.pack(">H", 8)
             + bytes([1, 1, 0x00, 0, 63, 0]))
    with pytest.raises(ValueError):
        _decode_jpeg(multi)

    # truncated v1 mvhd: duration skipped, not misread
    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isom")
    short_mvhd = box(b"mvhd", struct.pack(">B3x", 1) + b"\x00" * 24)
    meta = _parse_headers(ftyp + box(b"moov", short_mvhd))
    assert meta["format"] == "mp4" and meta["duration_ms"] is None


def test_wav_g711_and_float_decode():
    """G.711 telephony WAVs (format codes 6/7) decode through the
    real ITU-T expansion tables — previously 8-bit companded data
    would have misdecoded as offset-linear PCM — and IEEE-float WAVs
    (code 3) decode natively. Spot values pin the CCITT reference
    arithmetic; unknown codecs still gate as ValueError."""
    import struct

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import (_decode_wav, _g711_tables)

    tabs = _g711_tables()
    # CCITT reference points: u-law 0xFF -> 0, 0x7F -> 0 (negative
    # zero), 0x80 -> -32124 (max negative), 0x00 -> +32124? sign
    # convention: byte 0x00 complements to 0xFF (sign bit set) -> -max
    assert tabs["ulaw"][0xFF] == 0
    assert tabs["ulaw"][0x7F] == 0
    assert tabs["ulaw"][0x00] == -32124
    assert tabs["ulaw"][0x80] == 32124
    # u-law symmetry: flipping the sign bit of the CODE negates
    assert all(int(tabs["ulaw"][v]) == -int(tabs["ulaw"][v ^ 0x80])
               for v in range(256))
    # A-law: 0x55 decodes to -8 (smallest magnitude, negative),
    # 0xD5 to +8, 0x2A to -688? spot the max: 0xAA codes +...
    assert tabs["alaw"][0x55] == -8
    assert tabs["alaw"][0xD5] == 8
    assert int(tabs["alaw"][0xAA]) == -int(tabs["alaw"][0x2A])
    assert all(int(tabs["alaw"][v]) == -int(tabs["alaw"][v ^ 0x80])
               for v in range(256))
    assert int(np.abs(tabs["alaw"]).max()) == 32256
    assert int(np.abs(tabs["ulaw"]).max()) == 32124

    def wav(code, bits, data, rate=8000):
        blk = max(1, bits // 8)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, code, 1, rate,
                                        rate * blk, blk, bits)
                + b"data" + struct.pack("<I", len(data)) + data)

    raw = bytes(range(256))
    for code, key in ((7, "ulaw"), (6, "alaw")):
        out = _decode_wav(wav(code, 8, raw))
        want = tabs[key][np.frombuffer(raw, np.uint8)].astype(float) / 32768
        assert out["n_samples"] == 256
        assert abs(out["mean"] - want.mean()) < 1e-15
        assert out["peak"] == float(np.abs(want).max())
    # IEEE float32
    fs = np.array([0.0, 0.5, -0.25, 1.0], dtype="<f4")
    out = _decode_wav(wav(3, 32, fs.tobytes()))
    assert out["n_samples"] == 4 and out["peak"] == 1.0
    assert abs(out["mean"] - 0.3125) < 1e-15
    # unknown codec stays a skippable gate (MS ADPCM graduated to a
    # real decode path — see test_wav_ms_adpcm; 0x55 = MP3-in-WAV)
    with pytest.raises(ValueError):
        _decode_wav(wav(0x55, 0, b"\x00\x01\x02\x03"))
    # a format-2 header whose block align can't hold the per-channel
    # preambles is skippable, not a crash
    with pytest.raises(ValueError):
        _decode_wav(wav(2, 4, b"\x00\x01\x02\x03"))


def test_png_subbyte_depths():
    """1/2/4-bit PNGs (icons, scans, small palettes) decode through
    the shared byte-level filter walk + MSB-first bit unpack (PNG
    §7.2): gray scales by the exact 255/(2^d-1) integer, palette
    looks up PLTE. Covers plain and Adam7, None and Up filters, and
    widths that leave padding bits in the last byte."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import _ADAM7, _decode_png

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(typ, data):
        body = typ + data
        return struct.pack(">I", len(data)) + body \
            + struct.pack(">I", zlib.crc32(body))

    def pack_rows(samples, depth, up_filter=False):
        hp, wp = samples.shape
        body = bytearray()
        prev = None
        for y in range(hp):
            bits = np.unpackbits(
                samples[y].astype(np.uint8)[:, None], axis=1,
                count=8)[:, 8 - depth:]
            rb = (wp * depth + 7) // 8
            packed = np.packbits(bits.flatten())
            packed = np.pad(packed, (0, rb - len(packed)))[:rb]
            if up_filter and prev is not None:
                body += b"\x02" + ((packed - prev) & 0xFF).tobytes()
            else:
                body += b"\x00" + packed.tobytes()
            prev = packed
        return bytes(body)

    def enc(samples, depth, ctype, plte=None, interlace=0,
            up_filter=False):
        hh, ww = samples.shape
        if interlace:
            body = b""
            for x0, y0, dx, dy in _ADAM7:
                s = samples[y0::dy, x0::dx]
                if s.shape[0] and s.shape[1]:
                    body += pack_rows(s, depth, up_filter)
        else:
            body = pack_rows(samples, depth, up_filter)
        out = sig + chunk(b"IHDR", struct.pack(
            ">IIBBBBB", ww, hh, depth, ctype, 0, 0, interlace))
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(body)) \
            + chunk(b"IEND", b"")

    rng = np.random.default_rng(13)
    for depth in (1, 2, 4):
        # width 9 with depth 1/2/4 leaves padding bits in each row
        s = rng.integers(0, 1 << depth, (6, 9), dtype=np.uint8)
        want = (s * (255 // ((1 << depth) - 1)))[:, :, None]
        for inter in (0, 1):
            got = _decode_png(enc(s, depth, 0, interlace=inter))
            assert np.array_equal(got, want), (depth, inter)
        assert np.array_equal(
            _decode_png(enc(s, depth, 0, up_filter=True)), want)
    # 4-bit palette
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    s = rng.integers(0, 16, (5, 7), dtype=np.uint8)
    for inter in (0, 1):
        got = _decode_png(enc(s, 4, 3, plte=pal, interlace=inter))
        assert np.array_equal(got, pal[s]), inter
    # out-of-range palette index is corrupt, not an IndexError crash
    tiny_pal = pal[:4]
    with pytest.raises(ValueError):
        _decode_png(enc(np.full((2, 2), 9, np.uint8), 4, 3,
                        plte=tiny_pal))
    # 16-bit palette is an illegal pair per PNG 11.2.2: corrupt file
    with pytest.raises(ValueError):
        _decode_png(sig + chunk(b"IHDR", struct.pack(
            ">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)))


def test_wav_ima_adpcm_decode():
    """Mono IMA/DVI ADPCM (WAV format 0x11) decodes through the
    reference step-table walk. The in-test compressor reconstructs
    its predictor exactly the way the decoder does, so the decoded
    samples must EQUAL the encoder's reconstruction bit-for-bit —
    across block boundaries, predictor clamps, and index walks."""
    import struct

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import (_IMA_INDEX, _IMA_STEPS,
                                           _decode_wav)

    def compress(samples, spb):
        # returns (data, block_align, expected_decode)
        index = 0
        blobs, expect = [], []
        for b0 in range(0, len(samples), spb):
            chunk = samples[b0:b0 + spb]
            pred = int(chunk[0])
            expect.append(pred)
            head = struct.pack("<hBB", pred, index, 0)
            nibs = []
            for s in chunk[1:]:
                step = _IMA_STEPS[index]
                diff = int(s) - pred
                nib = 0
                if diff < 0:
                    nib, diff = 8, -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = min(32767, max(-32768, pred))
                index = min(88, max(0, index + _IMA_INDEX[nib & 7]))
                nibs.append(nib)
                expect.append(pred)
            data = bytes(a | (b << 4)
                         for a, b in zip(nibs[0::2], nibs[1::2]))
            blobs.append(head + data)
        return b"".join(blobs), 4 + (spb - 1) // 2, expect

    def wav(code, bits, data, block_align, rate=8000):
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, code, 1, rate,
                                        rate, block_align, bits)
                + b"data" + struct.pack("<I", len(data)) + data)

    # 8 kHz-ish sweep with a hard clip excursion to hit the clamps
    t = np.arange(99, dtype=np.float64)
    sig = (20000 * np.sin(t / 3) + 12000 * np.sin(t / 17)) \
        .clip(-32768, 32767).astype(np.int64)
    data, ba, expect = compress(sig, 9)          # 11 full blocks
    out = _decode_wav(wav(0x11, 4, data, ba))
    want = np.array(expect, dtype=np.float64) / 32768.0
    assert out["n_samples"] == len(expect) == 99
    got = np.array([out["mean"], out["rms"], out["peak"]])
    ref = np.array([want.mean(),
                    float(np.sqrt((want * want).mean())),
                    float(np.abs(want).max())])
    assert np.allclose(got, ref, rtol=0, atol=1e-15)
    # ADPCM tracks the source within adaptive-step error once the
    # step index has adapted (the first ~10 samples slope-overload
    # from index 0 — genuine codec behavior, not a decode bug)
    assert np.abs(np.array(expect) - sig)[10:].max() < 2000
    # a block_align too small for the channel headers gates as
    # skippable (stereo itself decodes for real now — see
    # test_wav_ima_adpcm_stereo)
    with pytest.raises(ValueError):
        bad = bytearray(wav(0x11, 4, data, ba))
        bad[22] = 3                                   # 3ch needs 12 B
        _decode_wav(bytes(bad))
    with pytest.raises(ValueError):
        _decode_wav(wav(0x11, 4, data, 0))


def test_wav_ima_adpcm_stereo():
    """Stereo IMA ADPCM (WAV format 0x11): per-channel 4-byte block
    headers then the code stream interleaved in 4-byte / 8-nibble
    sub-blocks per channel (the Microsoft WAVE layout). The in-test
    compressor mirrors the decoder state, so decoded samples equal
    its reconstruction exactly; channels carry distinct signals to
    pin the de-interleave."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import (_IMA_INDEX, _IMA_STEPS,
                                           _decode_wav)

    def press(chan_samples, index):
        # one channel's worth of one block: header + nibbles, plus
        # the exact reconstruction the decoder must produce
        pred = int(chan_samples[0])
        expect = [pred]
        head = struct.pack("<hBB", pred, index, 0)
        nibs = []
        for s in chan_samples[1:]:
            step = _IMA_STEPS[index]
            diff = int(s) - pred
            nib = 0
            if diff < 0:
                nib, diff = 8, -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            d = step >> 3
            if nib & 1:
                d += step >> 2
            if nib & 2:
                d += step >> 1
            if nib & 4:
                d += step
            pred = pred - d if nib & 8 else pred + d
            pred = min(32767, max(-32768, pred))
            index = min(88, max(0, index + _IMA_INDEX[nib & 7]))
            nibs.append(nib)
            expect.append(pred)
        return head, nibs, expect, index

    # 1 header sample + 16 coded samples per channel per block
    # (two 8-nibble sub-blocks), 3 blocks
    spb, blocks = 17, 3
    t = np.arange(spb * blocks, dtype=np.float64)
    left = (9000 * np.sin(t / 4)).astype(np.int64)
    right = (-6000 * np.cos(t / 9)).astype(np.int64)
    data, exp_l, exp_r = b"", [], []
    ixl = ixr = 0
    for b0 in range(0, len(t), spb):
        hl, nl, el, ixl = press(left[b0:b0 + spb], ixl)
        hr, nr, er, ixr = press(right[b0:b0 + spb], ixr)
        body = b""
        for g in range(0, len(nl), 8):
            for nibs in (nl[g:g + 8], nr[g:g + 8]):
                body += bytes(a | (b << 4)
                              for a, b in zip(nibs[0::2], nibs[1::2]))
        data += hl + hr + body
        exp_l += el
        exp_r += er
    block_align = 8 + 2 * ((spb - 1) // 2)           # 24 B
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 0x11, 2, 8000,
                                   8000, block_align, 4)
           + b"data" + struct.pack("<I", len(data)) + data)
    out = _decode_wav(wav)
    inter = np.empty(2 * len(exp_l), dtype=np.float64)
    inter[0::2] = exp_l
    inter[1::2] = exp_r
    want = inter / 32768.0
    assert out["channels"] == 2
    assert out["n_samples"] == len(exp_l) == spb * blocks
    assert abs(out["mean"] - want.mean()) < 1e-15
    assert abs(out["rms"] - float(np.sqrt((want * want).mean()))) < 1e-15
    assert abs(out["peak"] - float(np.abs(want).max())) < 1e-15


def test_wav_ms_adpcm():
    """Microsoft ADPCM (WAV format 2): per-channel coefficient/delta/
    two-sample block headers, alternating-channel nibbles, the
    adaptation table walk — decoded samples EQUAL a decoder-mirroring
    compressor's reconstruction bit-for-bit, mono and stereo."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_MS_ADAPT, _MS_COEF1,
                                           _MS_COEF2, _decode_wav,
                                           _ms_adpcm_decode)

    def encode(samples, channels, spb, ci=0):
        s = np.asarray(samples).reshape(-1, channels)
        blocks, expect = [], [[] for _ in range(channels)]
        for b0 in range(0, s.shape[0], spb):
            chunk = s[b0:b0 + spb]
            if chunk.shape[0] < 2:
                break
            delta = [16] * channels
            s2 = [int(chunk[0, ch]) for ch in range(channels)]
            s1 = [int(chunk[1, ch]) for ch in range(channels)]
            head = bytes([ci] * channels)
            for arr in (delta, s1, s2):
                for ch in range(channels):
                    head += struct.pack("<h", arr[ch])
            for ch in range(channels):
                expect[ch] += [s2[ch], s1[ch]]
            nibs = []
            for i in range(2, chunk.shape[0]):
                for ch in range(channels):
                    t = s1[ch] * _MS_COEF1[ci] + s2[ch] * _MS_COEF2[ci]
                    # spec: truncate toward zero, not floor-shift
                    pred = -((-t) >> 8) if t < 0 else t >> 8
                    diff = int(chunk[i, ch]) - pred
                    nib = max(-8, min(7, int(round(diff / delta[ch]))))
                    dec = min(32767, max(-32768, pred + nib * delta[ch]))
                    un = nib & 0x0F
                    s2[ch], s1[ch] = s1[ch], dec
                    delta[ch] = max(16, (_MS_ADAPT[un] * delta[ch]) >> 8)
                    expect[ch].append(dec)
                    nibs.append(un)
            blocks.append(head + bytes((a << 4) | b for a, b in
                                       zip(nibs[0::2], nibs[1::2])))
        ba = max(len(b) for b in blocks)
        return b"".join(b.ljust(ba, b"\x00") for b in blocks), ba, expect

    def wav(data, ba, channels):
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 2, channels,
                                        8000, 8000, ba, 4)
                + b"data" + struct.pack("<I", len(data)) + data)

    # mono: spb=10 → 8 nibbles → 4 bytes exactly
    sig = (2000 * np.sin(np.arange(40) / 3.0)).astype(np.int64)
    data, ba, exp = encode(sig, 1, 10)
    dec = _ms_adpcm_decode(data, ba, 1)
    assert np.array_equal(dec, np.array(exp[0], np.int16))
    st = _decode_wav(wav(data, ba, 1))
    want = np.array(exp[0], np.float64) / 32768.0
    assert st["n_samples"] == 40
    assert abs(st["rms"] - float(np.sqrt((want * want).mean()))) < 1e-15
    # stereo with distinct channels pins the nibble interleave
    inter = np.empty(80, dtype=np.int64)
    inter[0::2] = (1500 * np.sin(np.arange(40) / 4.0)).astype(np.int64)
    inter[1::2] = (-800 * np.cos(np.arange(40) / 5.0)).astype(np.int64)
    data, ba, exp = encode(inter, 2, 10)
    dec = _ms_adpcm_decode(data, ba, 2)
    assert np.array_equal(dec[0::2], np.array(exp[0], np.int16))
    assert np.array_equal(dec[1::2], np.array(exp[1], np.int16))
    # hostile: bad coefficient index and undersized block align
    bad = bytearray(data)
    bad[0] = 9
    with _pytest.raises(ValueError, match="coefficient"):
        _ms_adpcm_decode(bytes(bad), ba, 2)
    with _pytest.raises(ValueError, match="block align"):
        _decode_wav(wav(data, 6, 2))

    # spec truncation semantics, independent of the mirror encoder:
    # coeff index 4 → (240, 0); with s1 = -999 the product is
    # negative, where floor-shift (>> 8) and the spec's
    # truncate-toward-zero differ by one — replay the walk by hand
    blk = (bytes([4]) + struct.pack("<h", 16)
           + struct.pack("<h", -999) + struct.pack("<h", -500)
           + bytes([0x00, 0x70]))               # nibbles 0,0,7,0
    dec = _ms_adpcm_decode(blk, len(blk), 1)
    p, d, a, b2 = [], 16, -999, -500             # a=s1, b2=s2
    for nib in (0, 0, 7, 0):
        t = a * 240 + b2 * 0
        pr = -((-t) >> 8) if t < 0 else t >> 8   # == int(t / 256)
        signed = nib - 16 if nib >= 8 else nib
        val = min(32767, max(-32768, pr + signed * d))
        b2, a = a, val
        d = max(16, (_MS_ADAPT[nib] * d) >> 8)
        p.append(val)
    assert dec.tolist() == [-500, -999] + p
    assert all(int(t * 240 / 256) == (-((-t * 240) >> 8)
                                      if t < 0 else (t * 240) >> 8)
               for t in (-999, -937, -500))      # truncation identity

    # fact-chunk trim: a zero-padded final block's pad nibbles are
    # not real samples when dwSampleLength says so — the 12-byte
    # block (12 real frames) padded to block_align 16 would decode
    # 8 extra samples without the fact chunk
    sig3 = (900 * np.sin(np.arange(12) / 2.0)).astype(np.int64)
    data3, ba3, exp3 = encode(sig3, 1, 12)       # one 12-byte block
    assert len(data3) == ba3 == 12
    padded = data3.ljust(16, b"\x00")
    wav_fact = (b"RIFF" + struct.pack("<I", 48 + len(padded)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 2, 1, 8000,
                                        8000, 16, 4)
                + b"fact" + struct.pack("<II", 4, 12)
                + b"data" + struct.pack("<I", len(padded)) + padded)
    st3 = _decode_wav(wav_fact)
    assert st3["n_samples"] == 12
    # without the fact chunk the pad nibbles do decode (structural)
    wav_nofact = (b"RIFF" + struct.pack("<I", 36 + len(padded)) + b"WAVE"
                  + b"fmt " + struct.pack("<IHHIIHH", 16, 2, 1, 8000,
                                          8000, 16, 4)
                  + b"data" + struct.pack("<I", len(padded)) + padded)
    assert _decode_wav(wav_nofact)["n_samples"] == 20


def test_pcm_deep_bits():
    """24-bit (3-byte packed) and 32-bit integer PCM across all three
    containers: WAV little-endian, AIFF and .au big-endian — exact
    stats from known samples, including full-scale negatives."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import (_decode_aiff, _decode_au,
                                           _decode_wav)

    vals = np.array([0, 1, -1, (1 << 23) - 1, -(1 << 23), 4096, -77],
                    np.int64)
    exp = vals.astype(np.float64) / 8388608.0
    rms = float(np.sqrt((exp * exp).mean()))

    le = b"".join(int(v).to_bytes(3, "little", signed=True) for v in vals)
    be = b"".join(int(v).to_bytes(3, "big", signed=True) for v in vals)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(le)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                   24000, 3, 24)
           + b"data" + struct.pack("<I", len(le)) + le)
    st = _decode_wav(wav)
    assert st["n_samples"] == 7 and abs(st["rms"] - rms) < 1e-15

    comm = struct.pack(">HIH", 1, 7, 24) + _f80(8000)
    aiff = (b"FORM" + struct.pack(
        ">I", 4 + 8 + len(comm) + 8 + 8 + len(be)) + b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", 8 + len(be))
        + struct.pack(">II", 0, 0) + be)
    st = _decode_aiff(aiff)
    assert st["n_samples"] == 7 and abs(st["rms"] - rms) < 1e-15

    au = b".snd" + struct.pack(">IIIII", 24, len(be), 4, 8000, 1) + be
    st = _decode_au(au)
    assert st["n_samples"] == 7 and abs(st["rms"] - rms) < 1e-15

    # 32-bit int PCM
    v32 = np.array([1 << 30, -(1 << 31), 3, -3], np.int64)
    e32 = v32.astype(np.float64) / 2147483648.0
    r32 = float(np.sqrt((e32 * e32).mean()))
    le32 = v32.astype("<i4").tobytes()
    be32 = v32.astype(">i4").tobytes()
    wav32 = (b"RIFF" + struct.pack("<I", 36 + len(le32)) + b"WAVE"
             + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                     32000, 4, 32)
             + b"data" + struct.pack("<I", len(le32)) + le32)
    assert abs(_decode_wav(wav32)["rms"] - r32) < 1e-15
    au32 = b".snd" + struct.pack(">IIIII", 24, len(be32), 5, 8000, 1) + be32
    assert abs(_decode_au(au32)["rms"] - r32) < 1e-15
    comm32 = struct.pack(">HIH", 1, 4, 32) + _f80(8000)
    aiff32 = (b"FORM" + struct.pack(
        ">I", 4 + 8 + len(comm32) + 8 + 8 + len(be32)) + b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm32)) + comm32
        + b"SSND" + struct.pack(">I", 8 + len(be32))
        + struct.pack(">II", 0, 0) + be32)
    assert abs(_decode_aiff(aiff32)["rms"] - r32) < 1e-15


def test_aifc_g711_and_float():
    """AIFF-C 'ulaw'/'ALAW' route through the same (JDK-validated)
    G.711 tables as the WAV/.au paths — cross-container stats are
    identical for identical companded bytes — and 'fl32'/'fl64'
    decode big-endian IEEE floats; .au encoding 7 is float64."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import (_decode_aiff, _decode_au,
                                           _decode_wav)

    def aifc(comp, data, channels=1, bits=16):
        comm_body = (struct.pack(">HIH", channels, 0, bits)
                     + _f80(8000) + comp + b"\x00\x00")
        comm = b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
        ssnd_body = struct.pack(">II", 0, 0) + data
        ssnd = b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
        form = b"AIFC" + comm + ssnd
        return b"FORM" + struct.pack(">I", len(form)) + form

    comp_bytes = bytes(range(256))
    wav = (b"RIFF" + struct.pack("<I", 36 + 256) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 7, 1, 8000,
                                   8000, 1, 8)
           + b"data" + struct.pack("<I", 256) + comp_bytes)
    ref = _decode_wav(wav)                       # µ-law via WAV
    for comp in (b"ulaw", b"ULAW"):
        got = _decode_aiff(aifc(comp, comp_bytes))
        assert got["rms"] == ref["rms"] and got["mean"] == ref["mean"]
    au = (b".snd" + struct.pack(">IIIII", 24, 256, 27, 8000, 1)
          + comp_bytes)                          # A-law via .au
    ref_a = _decode_au(au)
    for comp in (b"alaw", b"ALAW"):
        got = _decode_aiff(aifc(comp, comp_bytes))
        assert got["rms"] == ref_a["rms"] and got["mean"] == ref_a["mean"]
    # floats: exact stats from known values
    v = np.array([0.5, -0.25, 0.125, -1.0], dtype=np.float64)
    got32 = _decode_aiff(aifc(b"fl32", v.astype(">f4").tobytes(), bits=32))
    got64 = _decode_aiff(aifc(b"FL64", v.astype(">f8").tobytes(), bits=64))
    for got in (got32, got64):
        assert got["n_samples"] == 4
        assert abs(got["peak"] - 1.0) < 1e-15
        assert abs(got["mean"] - v.mean()) < 1e-15
    au7 = (b".snd" + struct.pack(">IIIII", 24, 32, 7, 8000, 1)
           + v.astype(">f8").tobytes())
    got = _decode_au(au7)
    assert got["n_samples"] == 4 and abs(got["peak"] - 1.0) < 1e-15


def test_tiff_codec_roundtrip_matrix():
    """Baseline TIFF decodes for real: IFD walk (both byte orders),
    strip organization, None / TIFF-LZW (early-change widths) /
    PackBits compression, horizontal-differencing predictor, gray /
    RGB / white-is-zero / palette photometrics. The fixture encoder
    round-trips bit-exactly through the decoder across the whole
    matrix."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_tiff, _encode_tiff,
                                           _parse_headers,
                                           decode_pixels)

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (6, 11), dtype=np.uint8)
    for comp in (1, 5, 32773):
        for pred in (1, 2):
            for be in (False, True):
                enc = _encode_tiff(rgb, compression=comp,
                                   predictor=pred, big_endian=be)
                assert np.array_equal(_decode_tiff(enc), rgb), \
                    (comp, pred, be)
    # multi-strip with a ragged last strip
    enc = _encode_tiff(rgb, compression=5, rows_per_strip=4)
    assert np.array_equal(_decode_tiff(enc), rgb)
    # gray -> (h, w, 1)
    out = _decode_tiff(_encode_tiff(gray, compression=32773))
    assert out.shape == (6, 11, 1)
    assert np.array_equal(out[:, :, 0], gray)
    # LZW over repetitive data exercises KwKwK + table growth; a big
    # random frame crosses the early-change width boundaries
    rep = np.tile(np.arange(7, dtype=np.uint8), (40, 60, 1))[:, :, 0]
    assert np.array_equal(
        _decode_tiff(_encode_tiff(rep, compression=5))[:, :, 0], rep)
    big = rng.integers(0, 256, (70, 80, 3), dtype=np.uint8)
    assert np.array_equal(_decode_tiff(_encode_tiff(big, compression=5)),
                          big)
    # palette: ColorMap is 16-bit x 3 planes; decode looks up >> 8
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (5, 8), dtype=np.uint8)
    enc = _encode_tiff(idx, palette=pal)
    assert np.array_equal(_decode_tiff(enc), pal[idx])
    # dispatch + header parse
    enc = _encode_tiff(rgb)
    assert np.array_equal(decode_pixels(bytearray(enc)), rgb)
    meta = _parse_headers(enc)
    assert (meta["format"], meta["width"], meta["height"]) \
        == ("tiff", 9, 13)


def test_tiff_gates_and_errors():
    """Unsupported layouts gate honestly; corrupt files are
    skippable ValueErrors."""
    import struct

    import numpy as np
    import pytest

    from meza_spark.llm.multimodal import _decode_tiff, _encode_tiff

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    enc = _encode_tiff(px)

    def patch_tag(buf, tag, value):
        en = "<"
        off = struct.unpack(en + "I", buf[4:8])[0]
        n = struct.unpack(en + "H", buf[off:off + 2])[0]
        out = bytearray(buf)
        for i in range(n):
            e0 = off + 2 + i * 12
            t = struct.unpack(en + "H", buf[e0:e0 + 2])[0]
            if t == tag:
                out[e0 + 8:e0 + 12] = struct.pack(en + "HH", value, 0)
        return bytes(out)

    # photometric 0 (white-is-zero): same bytes decode inverted
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    genc = _encode_tiff(g)
    inv = _decode_tiff(patch_tag(genc, 262, 0))
    assert np.array_equal(inv[:, :, 0], 255 - g)

    with pytest.raises(NotImplementedError):   # JPEG-in-TIFF
        _decode_tiff(patch_tag(enc, 259, 7))
    with pytest.raises(NotImplementedError):   # 2 samples per pixel
        _decode_tiff(patch_tag(enc, 277, 2))
    with pytest.raises(NotImplementedError):   # unknown predictor
        _decode_tiff(patch_tag(
            _encode_tiff(px, predictor=2), 317, 3))
    with pytest.raises(ValueError):            # zero dims
        _decode_tiff(patch_tag(enc, 256, 0))
    with pytest.raises(ValueError):
        _decode_tiff(b"II*\x00" + b"\xff" * 20)
    with pytest.raises(ValueError):            # not a TIFF at all
        _decode_tiff(b"NOPE")
    # truncated strip data
    with pytest.raises(ValueError):
        _decode_tiff(enc[:-8])


def test_image_features_all_containers(spark):
    """image_features and resize_image ride decode_pixels, so every
    real codec feeds the feature path: the same pixels packaged as
    BMP, PNG, GIF, and TIFF must produce IDENTICAL features, and the
    (lossy) JPEG of a uniform image matches exactly too."""
    import numpy as np

    from meza_spark.llm.multimodal import (_encode_bmp, _encode_gif,
                                           _encode_jpeg, _encode_png,
                                           _encode_tiff,
                                           image_features,
                                           resize_image)

    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 64, (12, 10))]
    rows = [(1, bytearray(_encode_bmp(px))),
            (2, bytearray(_encode_png(px))),
            (3, bytearray(_encode_gif(px))),
            (4, bytearray(_encode_tiff(px, compression=5))),
            (5, bytearray(_encode_jpeg(
                np.full((12, 10, 3), 90, np.uint8), quality=90)))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {r["media_id"]: r["features"]
             for r in image_features(df, resize_to=8).collect()}
    assert feats[1] == feats[2] == feats[3] == feats[4]
    assert all(abs(v - 90 / 255) < 1e-6 for v in feats[5])
    sizes = {r["media_id"]: (r["width"], r["height"])
             for r in resize_image(df, 4, 5).collect()}
    assert set(sizes.values()) == {(4, 5)}


def test_decode_budgets_hostile_headers():
    """r5 verdict #1: header-declared dims are untrusted — a tiny
    payload declaring 65535x65535 must raise ValueError BEFORE any
    allocation (never MemoryError, which 'skip' can't catch)."""
    import struct
    import zlib

    import pytest as _pytest

    from meza_spark.llm import multimodal as mm

    # PNG: IHDR declares 65535x65535, IDAT is 4 bytes
    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 2, 0, 0, 0)
    png = (mm._PNG_SIG
           + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
           + struct.pack(">I", 4) + b"IDAT" + b"\0\0\0\0" + b"\0\0\0\0"
           + struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0")
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(png)

    # GIF: logical screen 65535x65535
    gif_lsd = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(gif_lsd + b"\x3B")
    # GIF: small screen, huge frame descriptor
    gif_frame = (b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0)
                 + b"\x2C" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
                 + b"\x02\x00\x3B")
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(gif_frame)

    # BMP: declares 100000x100000
    bmp = (b"BM" + struct.pack("<IHHI", 60, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 100000, 100000, 1, 24, 0,
                         0, 0, 0, 0, 0) + b"\0" * 8)
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(bmp)

    # netpbm: declares huge dims
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(b"P6 100000 100000 255 ")

    # TIFF: IFD declares 65535x65535 (shared helper now)
    tif = mm._encode_tiff(
        __import__("numpy").zeros((2, 2, 3), "uint8"))
    # patch ImageWidth/ImageLength values in the little-endian IFD
    import numpy as np
    arr = bytearray(tif)
    n_ent = struct.unpack("<H", arr[8:10])[0]
    for i in range(n_ent):
        e0 = 10 + i * 12
        tag = struct.unpack("<H", arr[e0:e0 + 2])[0]
        if tag in (256, 257):
            arr[e0 + 8:e0 + 12] = struct.pack("<I", 65535)
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(bytes(arr))

    # JPEG: SOF0 declares 65535x65535
    jpg = bytearray(mm._encode_jpeg(np.zeros((8, 8, 3), "uint8")))
    i = jpg.find(b"\xff\xc0")
    jpg[i + 5:i + 9] = struct.pack(">HH", 65535, 65535)
    with _pytest.raises(ValueError, match="decode budget"):
        mm.decode_pixels(bytes(jpg))


def test_decode_budget_zlib_bomb_png():
    """A PNG whose IDAT inflates far past the image's true size must
    decode its declared pixels and never materialize the bomb."""
    import struct
    import zlib

    import numpy as np

    from meza_spark.llm import multimodal as mm

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    good = mm._encode_png(px, filter_type=0)
    # rebuild with an IDAT = real scanlines + 64 MB of trailing zeros
    scan = bytearray()
    for y in range(4):
        scan.append(0)
        scan += px[y].tobytes()
    bomb = zlib.compress(bytes(scan) + b"\0" * (64 << 20), 9)
    assert len(bomb) < 100_000          # the whole point: tiny on disk
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    payload = (mm._PNG_SIG
               + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
               + b"\0\0\0\0"
               + struct.pack(">I", len(bomb)) + b"IDAT" + bomb
               + b"\0\0\0\0"
               + struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0")
    out = mm.decode_pixels(payload)
    assert (out == mm.decode_pixels(good)).all()


def test_decode_budget_wav_and_skip_semantics(spark):
    """Hostile WAV data-chunk size raises ValueError; every budget
    violation is skippable through decode_image/audio('skip')."""
    import struct

    import pytest as _pytest

    from meza_spark.llm import multimodal as mm

    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
           + b"data" + struct.pack("<I", mm.MAX_AUDIO_BYTES + 1)
           + b"\0\0")
    with _pytest.raises(ValueError, match="decode budget"):
        mm._decode_wav(wav)

    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 2, 0, 0, 0)
    png = (mm._PNG_SIG
           + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
           + struct.pack(">I", 4) + b"IDAT" + b"\0\0\0\0" + b"\0\0\0\0"
           + struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0")
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav))],
        "media_id long, payload binary")
    assert mm.decode_image(df, unsupported="skip").count() == 0
    assert mm.decode_audio(df, unsupported="skip").count() == 0


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) decode: the progressive fixture encoder
    transmits the SAME quantized coefficients as the baseline encoder
    (identical forward path), so decoding either stream must produce
    bit-identical pixels. Exercises DC first (Al=1), DC refinement,
    AC first scans with spectral bands + EOB runs, and AC refinement
    with correction bits, across color/gray/4:2:0/odd sizes."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_jpeg, _encode_jpeg,
                                           _encode_jpeg_progressive)

    rng = np.random.default_rng(42)
    cases = [
        (rng.integers(0, 256, (16, 24, 3), dtype=np.uint8), 90, False),
        (rng.integers(0, 256, (13, 19, 3), dtype=np.uint8), 75, True),
        (rng.integers(0, 256, (8, 8), dtype=np.uint8), 95, False),
        (np.full((21, 10, 3), 130, np.uint8), 85, True),
        # smooth gradient: long zero runs -> deep EOB runs across blocks
        ((np.mgrid[0:32, 0:40].sum(axis=0) * 2 % 256)
         .astype(np.uint8), 90, False),
    ]
    for px, q, sub in cases:
        base = _decode_jpeg(_encode_jpeg(px, quality=q, subsample=sub))
        prog = _decode_jpeg(
            _encode_jpeg_progressive(px, quality=q, subsample=sub))
        assert prog.shape == base.shape
        assert np.array_equal(prog, base), (px.shape, q, sub)


def test_jpeg_progressive_restart_markers():
    """Restart intervals inside progressive scans: DC predictors and
    the EOB run reset at each RSTn on both sides."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_jpeg, _encode_jpeg,
                                           _encode_jpeg_progressive)

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    base = _decode_jpeg(_encode_jpeg(px, quality=80))
    prog = _decode_jpeg(
        _encode_jpeg_progressive(px, quality=80, restart_interval=3))
    assert np.array_equal(prog, base)


def test_jpeg_progressive_header_parse_and_dispatch(spark):
    """parse_media_headers reads SOF2 dims; decode_image routes
    progressive payloads through the real decoder."""
    import numpy as np

    from meza_spark.llm.multimodal import (_encode_jpeg_progressive,
                                           _parse_headers, decode_image)

    px = np.full((10, 14, 3), 77, np.uint8)
    enc = _encode_jpeg_progressive(px, quality=90)
    meta = _parse_headers(enc)
    assert (meta["format"], meta["width"], meta["height"]) \
        == ("jpeg", 14, 10)
    df = spark.createDataFrame([(1, bytearray(enc))],
                               "media_id long, payload binary")
    r = decode_image(df).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (14, 10, 3)


def test_tiff_planar_and_16bit():
    """Round-6 TIFF extensions: PlanarConfiguration=2 (plane-ordered
    strip sequences) and 16-bit samples (decoded via the high-byte
    downconversion, matching PNG's convention) — across compression,
    predictor, endianness, and multi-strip layouts."""
    import itertools

    import numpy as np

    from meza_spark.llm.multimodal import _decode_tiff, _encode_tiff

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    for comp, pred, be, rps in itertools.product(
            (1, 5, 32773), (1, 2), (False, True), (None, 3)):
        # planar chunk order
        enc = _encode_tiff(px, compression=comp, predictor=pred,
                           big_endian=be, rows_per_strip=rps, planar=2)
        assert np.array_equal(_decode_tiff(enc), px), \
            ("planar", comp, pred, be, rps)
        # 16-bit: v*257 has v as its high byte, so decode returns px
        enc16 = _encode_tiff((px.astype(np.uint16) * 257),
                             compression=comp, predictor=pred,
                             big_endian=be, rows_per_strip=rps)
        assert np.array_equal(_decode_tiff(enc16), px), \
            ("16bit", comp, pred, be, rps)
        # both at once, on a gray image
        g16 = (px[:, :, :1].astype(np.uint16) * 257)
        enc_both = _encode_tiff(g16, compression=comp, predictor=pred,
                                big_endian=be, rows_per_strip=rps,
                                planar=2)
        assert np.array_equal(_decode_tiff(enc_both), px[:, :, :1]), \
            ("both", comp, pred, be, rps)
    # arbitrary 16-bit values: high-byte semantics exactly
    v16 = rng.integers(0, 65536, (4, 6, 3), dtype=np.uint16)
    dec = _decode_tiff(_encode_tiff(v16, predictor=2))
    assert np.array_equal(dec, (v16 >> 8).astype(np.uint8))
    # 16-bit white-is-zero gray inverts after downconversion
    g = rng.integers(0, 65536, (3, 4, 1), dtype=np.uint16)
    raw = _encode_tiff(g)
    arr = bytearray(raw)
    import struct
    n_ent = struct.unpack("<H", arr[8:10])[0]
    for i in range(n_ent):
        e0 = 10 + i * 12
        if struct.unpack("<H", arr[e0:e0 + 2])[0] == 262:
            arr[e0 + 8] = 0                      # photometric 0
    dec0 = _decode_tiff(bytes(arr))
    assert np.array_equal(dec0, 255 - (g >> 8).astype(np.uint8))


def test_bmp_variant_matrix():
    """Round-7 BMP widening beyond 24-bit BI_RGB: 8/4/1-bit palette,
    32-bit BI_RGB (reserved byte dropped), 16-bit 5-5-5, BI_BITFIELDS
    5-6-5 (bit-replication scaling), and BI_RLE8 (runs, EOL, absolute
    runs with word padding) — hand-built headers so every field is
    exercised. RLE4 (round 7) and OS/2 core headers (round 8,
    test_bmp_os2_core_header) closed the last matrix gates."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import _decode_bmp, decode_pixels

    rng = np.random.default_rng(9)

    def bmp(bpp, comp, data, w, h, palette=b"", masks=b""):
        off = 54 + len(masks) + len(palette)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                           len(data), 2835, 2835, len(palette) // 4, 0)
        return (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
                + info + masks + palette + data)

    # 8-bit palette (bottom-up, padded rows)
    pal = rng.integers(0, 256, (256, 4), dtype=np.uint8)
    pal[:, 3] = 0
    idx = rng.integers(0, 256, (7, 10), dtype=np.uint8)
    row_sz = (10 + 3) & ~3
    body = np.zeros((7, row_sz), np.uint8)
    body[:, :10] = idx[::-1]
    out = decode_pixels(bmp(8, 0, body.tobytes(), 10, 7,
                            palette=pal.tobytes()))
    assert np.array_equal(out, pal[:, 2::-1][idx])

    # 1-bit palette
    bits = rng.integers(0, 2, (5, 20), dtype=np.uint8)
    packed = np.packbits(bits, axis=1)
    row_sz = ((20 + 31) // 32) * 4
    body = np.zeros((5, row_sz), np.uint8)
    body[:, :packed.shape[1]] = packed[::-1]
    pal2 = np.array([[0, 0, 0, 0], [255, 255, 255, 0]], np.uint8)
    out = _decode_bmp(bmp(1, 0, body.tobytes(), 20, 5,
                          palette=pal2.tobytes()))
    assert np.array_equal(out, np.stack([bits * 255] * 3, axis=2))

    # 4-bit palette
    nidx = rng.integers(0, 16, (3, 7), dtype=np.uint8)
    nib = np.zeros((3, 4), np.uint8)
    for r in range(3):
        for c in range(7):
            nib[r, c // 2] |= nidx[r, c] << (4 if c % 2 == 0 else 0)
    body = np.zeros((3, 4), np.uint8)
    body[:] = nib[::-1]
    pal16 = rng.integers(0, 256, (16, 4), dtype=np.uint8)
    out = _decode_bmp(bmp(4, 0, body.tobytes(), 7, 3,
                          palette=pal16.tobytes()))
    assert np.array_equal(out, pal16[:, 2::-1][nidx])

    # 32-bit BI_RGB
    img32 = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    quads = np.zeros((6, 5, 4), np.uint8)
    quads[..., 0], quads[..., 1], quads[..., 2] = \
        img32[..., 2], img32[..., 1], img32[..., 0]
    assert np.array_equal(
        _decode_bmp(bmp(32, 0, quads[::-1].tobytes(), 5, 6)), img32)

    # 16-bit 5-5-5 and BI_BITFIELDS 5-6-5
    v = rng.integers(0, 32, (4, 6, 3), dtype=np.uint32)
    rep5 = lambda x: ((x << 3) | (x >> 2)).astype(np.uint8)  # noqa: E731
    word = (v[..., 0] << 10) | (v[..., 1] << 5) | v[..., 2]
    wb = word.astype("<u2").view(np.uint8).reshape(4, 12)
    row_sz = (12 + 3) & ~3
    body = np.zeros((4, row_sz), np.uint8)
    body[:, :12] = wb[::-1]
    out = _decode_bmp(bmp(16, 0, body.tobytes(), 6, 4))
    assert np.array_equal(
        out, np.stack([rep5(v[..., 0]), rep5(v[..., 1]),
                       rep5(v[..., 2])], axis=2))
    g6 = (v[..., 1] * 2).astype(np.uint32)
    word = (v[..., 0] << 11) | (g6 << 5) | v[..., 2]
    wb = word.astype("<u2").view(np.uint8).reshape(4, 12)
    body = np.zeros((4, row_sz), np.uint8)
    body[:, :12] = wb[::-1]
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    out = _decode_bmp(bmp(16, 3, body.tobytes(), 6, 4, masks=masks))
    rep6 = ((g6 << 2) | (g6 >> 4)).astype(np.uint8)
    assert np.array_equal(
        out, np.stack([rep5(v[..., 0]), rep6, rep5(v[..., 2])], axis=2))

    # BI_RLE8: encoded runs, EOL, absolute run (word-padded), EOB
    rle = bytes([8, 5, 0, 0, 8, 6, 0, 0, 4, 1, 4, 2, 0, 0,
                 0, 4, 9, 8, 7, 6, 4, 3, 0, 1])
    out = _decode_bmp(bmp(8, 1, rle, 8, 4, palette=pal.tobytes()))
    idx = np.zeros((4, 8), np.uint8)
    idx[0, :] = 5
    idx[1, :] = 6
    idx[2, :4], idx[2, 4:] = 1, 2
    idx[3, :4], idx[3, 4:] = [9, 8, 7, 6], 3
    assert np.array_equal(out, pal[:, 2::-1][idx[::-1]])

    # sub-4-bit BI_BITFIELDS masks reach full scale (review find:
    # one replication round leaves a 2-bit channel maxing at 240)
    from meza_spark.llm.multimodal import _mask_channel
    two_bit = np.array([[0, 1, 2, 3]], np.uint32)
    assert _mask_channel(two_bit, 0x3).tolist() == [[0, 85, 170, 255]]
    one_bit = np.array([[0, 1]], np.uint32)
    assert _mask_channel(one_bit, 0x1).tolist() == [[0, 255]]

    # BI_RLE4: encoded runs alternate nibbles; absolute run packs
    # nibbles word-padded; EOL/EOB escapes
    rle4 = bytes([6, 0x12, 0, 0,              # row0: 1,2,1,2,1,2
                  0, 4, 0x34, 0x56, 0, 0,     # row1: 3,4,5,6 absolute
                  2, 0x70, 4, 0x89, 0, 1])    # row2: 7,0,8,9,8,9 EOB
    out4 = _decode_bmp(bmp(4, 2, rle4, 6, 3, palette=pal16.tobytes()))
    idx4 = np.array([[1, 2, 1, 2, 1, 2],
                     [3, 4, 5, 6, 0, 0],
                     [7, 0, 8, 9, 8, 9]], np.uint8)
    assert np.array_equal(out4, pal16[:, 2::-1][idx4[::-1]])

    # honest gates / hostile payloads
    with _pytest.raises(ValueError, match="RLE4"):
        _decode_bmp(bmp(8, 2, b"\x00\x01", 4, 4,   # RLE4 needs bpp=4
                        palette=pal.tobytes()))
    with _pytest.raises(ValueError, match="truncated"):
        _decode_bmp(bmp(8, 0, b"\x00" * 8, 10, 7,
                        palette=pal.tobytes()))
    # clr_used=0 means a full 2^bpp palette must be present; patching
    # the field to 0 with only 8 palette bytes on disk must fail loudly
    # (a SHORT declared palette like 2 entries is legal — indices past
    # it are defined-zero, not an error)
    short = bytearray(bmp(8, 0, body.tobytes(), 6, 4,
                          palette=b"\x00" * 8))
    short[46:50] = b"\x00\x00\x00\x00"
    with _pytest.raises(ValueError, match="palette"):
        _decode_bmp(bytes(short))
    with _pytest.raises(ValueError):
        _decode_bmp(bmp(8, 1, bytes([0, 2, 0, 200] * 30), 8, 4,
                        palette=pal.tobytes()))    # delta past height


def test_tiff_hostile_tile_grid_budget():
    """r8 review fix: a tiny declared image with enormous declared
    TILES (8x8 image, 16384x16384 tiles) must trip the pixel budget
    BEFORE any tile decompression buffer is sized — the bomb shape
    the strip path was already immune to."""
    import struct

    import pytest as _pytest

    from meza_spark.llm.multimodal import _decode_tiff

    entries = [(256, 4, 1, 8), (257, 4, 1, 8), (258, 3, 1, 8),
               (259, 3, 1, 8), (262, 3, 1, 1), (277, 3, 1, 1),
               (322, 4, 1, 16384), (323, 4, 1, 16384),
               (324, 4, 1, 200), (325, 4, 1, 4)]
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        fmt = "<HHIHxx" if typ == 3 else "<HHII"
        out += struct.pack(fmt, tag, typ, cnt, val)
    out += struct.pack("<I", 0)
    out += b"\x00" * 120                   # "tile data"
    with _pytest.raises(ValueError, match="budget"):
        _decode_tiff(bytes(out))


def test_resize_image_gray_alpha_inputs(spark):
    """r8 review fix: 2-channel gray+alpha PNGs (color type 4) used
    to crash the re-encode reshape — gray repeats into RGB instead."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_bmp, _encode_png,
                                           resize_image)

    rng = np.random.default_rng(7)
    la = rng.integers(0, 256, (8, 9, 2), dtype=np.uint8)
    df = spark.createDataFrame([(1, bytearray(_encode_png(la)))],
                               "media_id long, payload binary")
    r = resize_image(df, 4, 4).collect()[0]
    small = _decode_bmp(bytes(r["payload"]))
    ys, xs = (np.arange(4) * 8) // 4, (np.arange(4) * 9) // 4
    want = np.repeat(la[ys][:, xs][:, :, :1], 3, axis=2)
    assert np.array_equal(small, want)


def test_exif_orientation():
    """r8: EXIF Orientation (0x0112) from the APP1 IFD0 — both byte
    orders, invalid values rejected, hostile payloads lenient, and a
    REAL camera-chain file (flower-of-life.jpg carries an actual EXIF
    block with orientation 1)."""
    import struct

    from meza_spark.llm.multimodal import _exif_orientation, _parse_headers

    def jpeg_with_exif(tiff):
        app1 = b"Exif\x00\x00" + tiff
        sof = struct.pack(">BHHB", 8, 5, 7, 3) \
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        return (b"\xff\xd8\xff\xe1" + struct.pack(">H", 2 + len(app1))
                + app1 + b"\xff\xc0" + struct.pack(">H", 2 + len(sof))
                + sof)

    le = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
          + struct.pack("<HHIHH", 0x0112, 3, 1, 6, 0)
          + struct.pack("<I", 0))
    be = (b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", 1)
          + struct.pack(">HHIHH", 0x0112, 3, 1, 8, 0)
          + struct.pack(">I", 0))
    assert _parse_headers(jpeg_with_exif(le))["orientation"] == 6
    assert _parse_headers(jpeg_with_exif(be))["orientation"] == 8
    # out-of-range orientation value -> None, not garbage
    bad = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
           + struct.pack("<HHIHH", 0x0112, 3, 1, 9, 0)
           + struct.pack("<I", 0))
    assert _parse_headers(jpeg_with_exif(bad))["orientation"] is None
    # hostile: truncated TIFF block stays lenient (dims still parse)
    hd = _parse_headers(jpeg_with_exif(b"II*\x00\x08"))
    assert hd["orientation"] is None and hd["width"] == 7
    with _pytest_raises_value_error():
        _exif_orientation(b"XX*\x00" + b"\x00" * 8)
    # the real vendored camera file
    real = open("tests/fixtures/external/jpeg_sof0_flower.jpg",
                "rb").read()
    assert _parse_headers(real)["orientation"] == 1


def _pytest_raises_value_error():
    import pytest as _pytest
    return _pytest.raises(ValueError)


def test_tiff_tiled_predictor_resets_per_tile():
    """r8 tile organization: hand-build a 2x2-tile TIFF with
    horizontal-differencing Predictor 2 — the cumsum must reset at
    EACH tile's left edge, not run across the canvas row (the bug a
    strip-style global cumsum would produce), and edge tiles crop."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import _decode_tiff

    rng = np.random.default_rng(33)
    w, h, tw, tl = 10, 6, 8, 4            # edge tiles on both axes
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)

    tiles = []
    for ty in range(2):
        for tx in range(2):
            tile = np.zeros((tl, tw, 3), np.int64)
            part = px[ty * tl:ty * tl + tl, tx * tw:tx * tw + tw]
            tile[:part.shape[0], :part.shape[1]] = part
            diff = tile.copy()
            diff[:, 1:] -= tile[:, :-1]   # per-tile differencing
            tiles.append((diff & 0xFF).astype(np.uint8).tobytes())

    entries = [(256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, 3, [8] * 3),
               (259, 3, 1, [1]), (262, 3, 1, [2]), (277, 3, 1, [3]),
               (317, 3, 1, [2]), (322, 4, 1, [tw]), (323, 4, 1, [tl])]
    # layout: header(8) + IFD + value areas + tile data
    n_ent = len(entries) + 2              # + TileOffsets/ByteCounts
    ifd = 8
    data0 = ifd + 2 + n_ent * 12 + 4 + 2 * 16 + 8  # after arrays
    offs = []
    pos = data0
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    arr_off = ifd + 2 + n_ent * 12 + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd))
    body = struct.pack("<H", n_ent)
    fmtc = {3: "H", 4: "I"}

    def entry(tag, typ, cnt, vals, voff=None):
        raw = b"".join(struct.pack("<" + fmtc[typ], v) for v in vals) \
            if vals else b""
        if voff is not None:
            return struct.pack("<HHII", tag, typ, cnt, voff)
        raw = raw + b"\x00" * (4 - len(raw))
        return struct.pack("<HHI", tag, typ, cnt) + raw[:4]

    all_entries = entries + [(324, 4, 4, None), (325, 4, 4, None)]
    all_entries.sort(key=lambda e: e[0])
    for tag, typ, cnt, vals in all_entries:
        if tag == 324:
            body += entry(tag, typ, cnt, None, voff=arr_off)
        elif tag == 325:
            body += entry(tag, typ, cnt, None, voff=arr_off + 16)
        elif typ == 3 and cnt > 1:
            body += entry(tag, typ, cnt, None, voff=arr_off + 32)
        else:
            body += entry(tag, typ, cnt, vals)
    body += struct.pack("<I", 0)          # next-IFD pointer
    body += b"".join(struct.pack("<I", o) for o in offs)
    body += b"".join(struct.pack("<I", len(t)) for t in tiles)
    body += struct.pack("<HHH", 8, 8, 8) + b"\x00\x00"  # BitsPerSample
    out += body
    out += b"".join(tiles)
    got = _decode_tiff(bytes(out))
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, px)


def test_bmp_os2_core_header():
    """OS/2 BITMAPCOREHEADER (round 8 — the last DIB-matrix gate):
    12-byte header with unsigned WORD dims, 3-byte BGR palette
    triples, always bottom-up; 24-bit via the encoder flag (JDK
    parity in test_java_crossimpl_parity), 8/4/1-bit hand-built."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_bmp, _encode_bmp,
                                           _parse_headers, decode_pixels)

    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    enc = _encode_bmp(px, os2=True)
    assert struct.unpack("<I", enc[14:18])[0] == 12
    assert np.array_equal(decode_pixels(enc), px)
    hd = _parse_headers(enc)
    assert (hd["width"], hd["height"]) == (13, 9)

    def core(bpp, w, h, pal_rgb, idx):
        body_rows = []
        row_sz = ((w * bpp + 31) // 32) * 4
        for y in range(h - 1, -1, -1):              # bottom-up
            row = bytearray(row_sz)
            for x in range(w):
                v = int(idx[y, x])
                if bpp == 8:
                    row[x] = v
                elif bpp == 4:
                    row[x // 2] |= v << (4 if x % 2 == 0 else 0)
                else:
                    row[x // 8] |= v << (7 - x % 8)
            body_rows.append(bytes(row))
        body = b"".join(body_rows)
        pal = pal_rgb[:, ::-1].tobytes()            # RGB → BGR triples
        off = 14 + 12 + len(pal)
        return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
                + struct.pack("<IHHHH", 12, w, h, 1, bpp) + pal + body)

    for bpp in (8, 4, 1):
        n = 1 << bpp
        pal_rgb = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (6, 11))
        out = _decode_bmp(core(bpp, 11, 6, pal_rgb, idx))
        assert np.array_equal(out, pal_rgb[idx]), f"core {bpp}-bit"

    # hostile: truncated triple palette must raise, not mis-slice
    pal_rgb = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (4, 4))
    f = core(8, 4, 4, pal_rgb, idx)
    with _pytest.raises(ValueError, match="palette"):
        _decode_bmp(f[:14 + 12 + 100])
    # hostile: 16-bit depth is not legal in a core header
    bad = (b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
           + struct.pack("<IHHHH", 12, 2, 2, 1, 16))
    with _pytest.raises(ValueError, match="OS/2"):
        _decode_bmp(bad + b"\x00" * 16)


def test_ico_decode():
    """ICO/CUR (round 7): largest-entry selection, headerless-DIB
    re-wrap (doubled biHeight, palette-aware data offset) through the
    BMP matrix, PNG-in-ICO, and three REAL icons (CPython's idle.ico,
    pyasn1 and Jetty favicons) with pinned shapes and stats."""
    import os
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_ico, _encode_bmp,
                                           _encode_png, decode_pixels)

    rng = np.random.default_rng(17)

    def dib_of(px):
        bmp = _encode_bmp(px)
        dib = bytearray(bmp[14:])
        h = struct.unpack("<i", dib[8:12])[0]
        dib[8:12] = struct.pack("<i", h * 2)      # XOR+AND doubled
        return bytes(dib)

    def ico(entries):
        head = b"\x00\x00\x01\x00" + struct.pack("<H", len(entries))
        dir_bytes = b""
        off = 6 + 16 * len(entries)
        blobs = b""
        for (w, h, bpp, payload) in entries:
            dir_bytes += struct.pack("<BBBBHHII", w % 256, h % 256, 0, 0,
                                     1, bpp, len(payload), off)
            blobs += payload
            off += len(payload)
        return head + dir_bytes + blobs

    px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    assert np.array_equal(_decode_ico(ico([(24, 24, 24, dib_of(px))])), px)
    # multi-entry: the larger PNG entry wins over the small DIB
    big = rng.integers(0, 256, (48, 48, 3), dtype=np.uint8)
    multi = ico([(24, 24, 24, dib_of(px)), (48, 48, 32, _encode_png(big))])
    assert np.array_equal(_decode_ico(multi), big)
    # dispatch: ICO wins over the WBMP zero-byte catch-all
    assert np.array_equal(decode_pixels(multi), big)

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures", "external")
    real = {
        "ico_png256_idle.ico": (256, 256, 4),
        "ico_dib32_pyasn1.ico": (32, 30, 3),
        "ico_dib32_jetty.ico": (16, 16, 3),
    }
    for name, shape in real.items():
        p = os.path.join(fixdir, name)
        if not os.path.exists(p):
            continue
        arr = decode_pixels(open(p, "rb").read())
        assert arr.shape == shape, name
        assert 0 < float(arr.mean()) < 255, name

    # BI_BITFIELDS DIB inside an ICO: the 12 mask bytes after the
    # header shift the data offset (review find — pixels previously
    # read from the mask words)
    v5 = rng.integers(0, 32, (6, 8, 3), dtype=np.uint32)
    word = (v5[..., 0] << 11) | ((v5[..., 1] * 2) << 5) | v5[..., 2]
    row_sz = (8 * 2 + 3) & ~3
    body = np.zeros((6, row_sz), np.uint8)
    body[:, :16] = word.astype("<u2").view(np.uint8).reshape(6, 16)[::-1]
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    info = struct.pack("<IiiHHIIiiII", 40, 8, 12, 1, 16, 3,
                       len(body.tobytes()), 2835, 2835, 0, 0)
    dib565 = info + masks + body.tobytes()       # biHeight doubled=12
    ico565 = ico([(8, 6, 16, dib565)])
    bmp565 = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54 + 12)
              + struct.pack("<IiiHHIIiiII", 40, 8, 6, 1, 16, 3,
                            len(body.tobytes()), 2835, 2835, 0, 0)
              + masks + body.tobytes())
    assert np.array_equal(_decode_ico(ico565), decode_pixels(bmp565))

    # the DIB's biHeight (halved) is authoritative over the 1-byte
    # directory height (Windows semantics; buggy muxers disagree)
    mis = ico([(24, 0, 24, dib_of(px))])         # dir says 256
    assert _decode_ico(mis).shape == px.shape

    # hostile payloads
    with _pytest.raises(ValueError):
        _decode_ico(b"\x00\x00\x01\x00\x02\x00" + b"\x00" * 8)  # short dir
    with _pytest.raises(ValueError):
        # entry points past the end: no decodable entries
        bad = bytearray(ico([(24, 24, 24, dib_of(px))]))
        bad[6 + 12:6 + 16] = struct.pack("<I", 1 << 30)
        _decode_ico(bytes(bad))
    with _pytest.raises(ValueError):
        _decode_ico(ico([(4, 4, 24, b"\x0c\x00\x00\x00" + b"\x00" * 8)]))


def test_tiff_deflate_and_wbmp():
    """Round-7 additions: Adobe Deflate TIFF (Compression 8 + legacy
    32946, bounded per-strip inflate) across predictor/endian/strip
    variants, and WBMP decode/encode with multi-byte dimensions and
    hostile payloads."""
    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_tiff, _decode_wbmp,
                                           _encode_tiff, _encode_wbmp,
                                           decode_pixels)

    rng = np.random.default_rng(31)
    px = rng.integers(0, 256, (9, 6, 3), dtype=np.uint8)
    for comp in (8, 32946):
        for pred in (1, 2):
            for be in (False, True):
                enc = _encode_tiff(px, compression=comp, predictor=pred,
                                   big_endian=be, rows_per_strip=4)
                assert np.array_equal(_decode_tiff(enc), px), \
                    (comp, pred, be)
    # truncated / corrupt deflate strips fail as skippable ValueError
    # (the bounded decompressobj also caps any bomb at the strip's
    # true byte size — same posture as the PNG inflate)
    whole = _encode_tiff(px, compression=8)
    with _pytest.raises(ValueError):
        _decode_tiff(whole[:-4])                  # truncated stream
    broken = bytearray(whole)
    broken[-8] ^= 0xFF                            # corrupt the stream
    try:
        _decode_tiff(bytes(broken))
    except ValueError:
        pass                                      # loud is fine
    # (a lucky bitflip may still inflate; silence is fine too — the
    # invariant is 'never a MemoryError, never past the size bound',
    # which the bounded inflate enforces structurally)
    # WBMP: 1-bit rows, byte padding, 2-byte VLQ width
    bw = (rng.integers(0, 2, (13, 200)) * 255).astype(np.uint8)
    enc = _encode_wbmp(bw)
    assert enc[:2] == b"\x00\x00" and enc[2] & 0x80   # VLQ continuation
    dec = _decode_wbmp(enc)
    assert dec.shape == (13, 200, 1)
    assert np.array_equal(dec[:, :, 0], bw)
    assert np.array_equal(decode_pixels(enc), dec)    # dispatch tail
    with _pytest.raises(ValueError):
        _decode_wbmp(enc[:6])                         # truncated rows
    with _pytest.raises(ValueError):
        _decode_wbmp(b"\x00\x00\x00\x05")             # zero width
    with _pytest.raises(ValueError):
        _decode_wbmp(b"\x00\x00" + b"\xff" * 8)       # runaway VLQ


def test_tiff_palette16():
    """16-bit palette TIFF (TIFF 6.0 §23: ColorMap indexed by the
    full sample value, 3·2^16 entries) decodes via raw-index lookup
    BEFORE the 16→8 downconversion — the round-6 permanent gate is
    now a real path. 8-bit palette keeps working through the same
    code."""
    import numpy as np

    from meza_spark.llm.multimodal import _decode_tiff, _encode_tiff

    rng = np.random.default_rng(23)
    pal16 = rng.integers(0, 256, (65536, 3), dtype=np.uint8)
    idx16 = rng.integers(0, 65536, (5, 7, 1), dtype=np.uint16)
    enc = _encode_tiff(idx16, palette=pal16)
    assert np.array_equal(_decode_tiff(enc), pal16[idx16[:, :, 0]])
    # big-endian + multi-strip variant
    enc_be = _encode_tiff(idx16, palette=pal16, big_endian=True,
                          rows_per_strip=2)
    assert np.array_equal(_decode_tiff(enc_be), pal16[idx16[:, :, 0]])
    # 8-bit palette still routes through the same generalized lookup
    pal8 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx8 = rng.integers(0, 256, (4, 6, 1), dtype=np.uint8)
    assert np.array_equal(_decode_tiff(_encode_tiff(idx8, palette=pal8)),
                          pal8[idx8[:, :, 0]])
    # short ColorMap stays a loud, skippable error
    import pytest as _pytest
    trunc = _encode_tiff(idx8, palette=pal8[:100])
    with _pytest.raises(ValueError, match="ColorMap"):
        _decode_tiff(trunc)


def test_gif_animation_full_walk():
    """Animated GIF: all frames decode with GCE semantics — delays,
    transparency (transparent pixels keep the prior canvas), disposal
    2 (restore region to background) and 3 (restore to previous)."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_gif,
                                           _decode_gif_frames,
                                           _encode_gif_anim)

    # palette colors: bg=10, a=40, b=70, c=100 (gray triples)
    bg = np.full((6, 8, 3), 10, np.uint8)
    f1 = np.full((6, 8, 3), 40, np.uint8)
    patch = np.full((2, 3, 3), 70, np.uint8)
    patch2 = np.full((2, 3, 3), 100, np.uint8)
    enc = _encode_gif_anim(
        [f1, patch, patch2],
        delays_ms=[100, 50, 200],
        disposals=[1, 3, 2],
        offsets=[(0, 0), (2, 1), (4, 3)],
        transparent=[None, None, None])
    frames, delays = _decode_gif_frames(enc)
    assert len(frames) == 3 and delays == [100, 50, 200]
    # frame 1: full screen of 40
    assert (frames[0] == 40).all()
    # frame 2: 40 everywhere except the patch at cols 2-4, rows 1-2
    assert (frames[1][1:3, 2:5] == 70).all()
    assert (frames[1][0, :] == 40).all()
    # frame 3: disposal 3 on frame 2 restored the 40-canvas first
    assert (frames[2][1:3, 2:5] == 40).all()
    assert (frames[2][3:5, 4:7] == 100).all()
    # first-frame contract of the single-image decoder is intact
    assert (_decode_gif(enc) == 40).all()

    # transparency: a hole in frame 2 keeps frame 1's pixels
    hole = patch.copy()
    hole[0, 0] = 10                      # palette color 10 = transparent
    enc_t = _encode_gif_anim(
        [f1, hole], delays_ms=[0, 0], disposals=[1, 0],
        offsets=[(0, 0), (2, 1)],
        transparent=[None, 0])           # index of color 10 in palette
    frames_t, _ = _decode_gif_frames(enc_t)
    assert frames_t[1][1, 2, 0] == 40    # transparent pixel unchanged
    assert frames_t[1][1, 3, 0] == 70

    # disposal 2: region goes back to background color before frame 3
    enc_d2 = _encode_gif_anim(
        [f1, patch, patch2],
        disposals=[1, 2, 0],
        offsets=[(0, 0), (2, 1), (2, 1)], bg_index=0)
    fr = _decode_gif_frames(enc_d2)[0]
    assert (fr[2][1:3, 2:5] == 100).all()


def test_avi_mjpeg_frame_decode():
    """MJPEG-in-AVI: the RIFF walk finds avih + movi and every 00dc
    chunk decodes through the real JPEG codec — frame stats match
    decoding the same JPEGs standalone."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_avi_frames,
                                           _decode_jpeg, _encode_avi_mjpeg,
                                           _encode_jpeg, _parse_headers)

    rng = np.random.default_rng(3)
    fr = [rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
          for _ in range(4)]
    avi = _encode_avi_mjpeg(fr, us_per_frame=40000, quality=85)
    frames, ts = _decode_avi_frames(avi)
    assert len(frames) == 4
    assert ts == [0, 40, 80, 120]
    for got, src in zip(frames, fr):
        want = _decode_jpeg(_encode_jpeg(src, quality=85))
        assert np.array_equal(got, want)
    meta = _parse_headers(avi)
    assert meta["format"] == "avi"
    assert (meta["width"], meta["height"]) == (24, 16)
    assert meta["duration_ms"] == 160
    # interleaved layout: frame chunks wrapped in LIST 'rec ' decode
    # identically (r6 review #6)
    avi_rec = _encode_avi_mjpeg(fr, us_per_frame=40000, quality=85,
                                rec_groups=True)
    frames_r, ts_r = _decode_avi_frames(avi_rec)
    assert ts_r == ts and len(frames_r) == 4
    import numpy as _np
    assert all(_np.array_equal(a, b) for a, b in zip(frames_r, frames))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _decode_avi_frames(avi[:40])
    with _pytest.raises(ValueError):
        _decode_avi_frames(b"RIFF\x04\x00\x00\x00AVI ")


def test_decode_video_df(spark):
    """decode_video: one row per frame for GIF + AVI payloads; other
    containers skip/raise per `unsupported`."""
    import numpy as np

    from meza_spark.llm.multimodal import (_encode_avi_mjpeg,
                                           _encode_bmp, _encode_gif_anim,
                                           decode_video)

    f1 = np.full((4, 6, 3), 20, np.uint8)
    f2 = np.full((4, 6, 3), 60, np.uint8)
    gif = _encode_gif_anim([f1, f2], delays_ms=[30, 40])
    avi = _encode_avi_mjpeg([f1, f2, f1], us_per_frame=50000)
    bmp = _encode_bmp(f1)
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(avi)), (3, bytearray(bmp))],
        "media_id long, payload binary")
    rows = decode_video(df, unsupported="skip").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert 3 not in by_id                   # still image skipped
    assert len(by_id[1]) == 2 and len(by_id[2]) == 3
    g = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in g] == [0, 30]
    assert g[0]["mean_pixel"] == 20.0 and g[1]["mean_pixel"] == 60.0
    a = sorted(by_id[2], key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in a] == [0, 50, 100]
    import pytest as _pytest
    with _pytest.raises(Exception):
        decode_video(df).collect()          # default errors on the BMP


def _f80(x):
    """Encode a positive integer as an 80-bit IEEE extended float."""
    import math
    if x == 0:
        return b"\x00" * 10
    exp = int(math.floor(math.log2(x)))
    mant = int(x / 2.0 ** (exp - 63))
    return bytes([((exp + 16383) >> 8) & 0x7F, (exp + 16383) & 0xFF]) \
        + mant.to_bytes(8, "big")


def _aiff(samples16, rate=8000, channels=1, aifc=False, sowt=False):
    import struct

    import numpy as np

    dt = "<i2" if sowt else ">i2"
    data = np.asarray(samples16, dtype=dt).tobytes()
    comm_body = struct.pack(">HIH", channels,
                            len(samples16) // channels, 16) + _f80(rate)
    if aifc:
        comm_body += (b"sowt" if sowt else b"NONE") + b"\x0epcm\x00"
    comm = b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
    if len(comm_body) & 1:
        comm += b"\x00"
    ssnd_body = struct.pack(">II", 0, 0) + data
    ssnd = b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
    form = (b"AIFC" if aifc else b"AIFF") + comm + ssnd
    return b"FORM" + struct.pack(">I", len(form)) + form


def test_aiff_decode():
    """AIFF/AIFF-C: big-endian IFF walk, COMM 80-bit-float sample
    rate, SSND offset header; 16-bit BE PCM, AIFF-C 'sowt'
    little-endian pass-through; compressed AIFF-C gates."""
    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_aiff,
                                           _decode_audio_bytes,
                                           _parse_headers)

    samples = [0, 16384, -16384, 32767, -32768, 100]
    d = _decode_aiff(_aiff(samples, rate=44100))
    s = np.array(samples) / 32768.0
    assert (d["sample_rate"], d["channels"], d["n_samples"]) \
        == (44100, 1, 6)
    assert abs(d["rms"] - float(np.sqrt((s * s).mean()))) < 1e-12
    assert d["peak"] == 1.0
    # AIFF-C sowt stores little-endian samples; stats identical
    d2 = _decode_aiff(_aiff(samples, aifc=True, sowt=True))
    assert d2["rms"] == d["rms"] and d2["mean"] == d["mean"]
    # stereo frame accounting
    d3 = _decode_aiff(_aiff(samples, channels=2))
    assert d3["n_samples"] == 3
    # compressed AIFF-C we don't decode (GSM 6.10) stays a skippable
    # gate ('ima4', G.711 and float all graduated to real paths)
    bad = bytearray(_aiff(samples, aifc=True))
    bad[bad.find(b"NONE"):bad.find(b"NONE") + 4] = b"GSM "
    with _pytest.raises(ValueError, match="compression"):
        _decode_aiff(bytes(bad))
    # header parse + dispatcher
    meta = _parse_headers(_aiff(samples, rate=8000))
    assert meta["format"] == "aiff" and meta["sample_rate"] == 8000
    assert meta["duration_ms"] == 6 * 1000 // 8000
    assert _decode_audio_bytes(_aiff(samples))["n_samples"] == 6


def _aifc_ima4(packets, rate=8000, channels=1, nframes=0):
    """Minimal AIFF-C container around pre-encoded ima4 packets."""
    import struct

    comm_body = (struct.pack(">HIH", channels, nframes, 16)
                 + _f80(rate) + b"ima4" + b"\x0bIMA 4:1\x00\x00\x00\x00")
    comm = b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
    if len(comm_body) & 1:
        comm += b"\x00"
    ssnd_body = struct.pack(">II", 0, 0) + packets
    ssnd = b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
    form = b"AIFC" + comm + ssnd
    return b"FORM" + struct.pack(">I", len(form)) + form


def test_aiff_ima4_decode():
    """AIFF-C 'ima4' (Apple QuickTime IMA, 34-byte packets, state
    preamble not emitted as a sample) decodes for real: container
    frame accounting, bounded tracking error on a smooth signal, and
    per-packet state independence."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_aiff, _decode_audio_bytes,
                                           _encode_ima4, _ima4_decode)

    t = np.arange(640)
    sig = (3000 * np.sin(t / 10.0)).astype(np.int16)
    payload = _encode_ima4(sig, 1)
    assert len(payload) == (640 // 64) * 34          # 10 packets
    dec = _ima4_decode(payload, 1)
    assert dec.shape == (640,)
    # ADPCM tracks a smooth sine closely once past the slope-overload
    # attack of the first packet: steady-state error rms < 2%
    err = (dec[64:].astype(np.float64) - sig[64:].astype(np.float64))
    assert np.sqrt((err ** 2).mean()) < 0.02 * np.sqrt(
        (sig[64:].astype(np.float64) ** 2).mean())
    # packets carry their own state: decoding a packet slice alone
    # reproduces exactly that packet's 64 samples
    third = _ima4_decode(payload[2 * 34:3 * 34], 1)
    assert np.array_equal(third, dec[128:192])
    # container walk + stats
    d = _decode_aiff(_aifc_ima4(payload, rate=22050, nframes=640))
    assert d["sample_rate"] == 22050 and d["channels"] == 1
    assert d["n_samples"] == 640
    assert abs(d["rms"] - np.sqrt(
        ((dec / 32768.0) ** 2).mean())) < 1e-12
    assert _decode_audio_bytes(
        _aifc_ima4(payload, nframes=640))["n_samples"] == 640


def test_aiff_ima4_stereo_and_padding():
    """Stereo ima4 interleaves one packet per channel per 64-frame
    block; frame counts pad up to the 64 boundary like real
    QuickTime muxers."""
    import numpy as np

    from meza_spark.llm.multimodal import _encode_ima4, _ima4_decode

    n = 200                                          # pads to 256
    left = (1500 * np.sin(np.arange(n) / 7.0)).astype(np.int16)
    right = (-900 * np.cos(np.arange(n) / 5.0)).astype(np.int16)
    inter = np.empty(2 * n, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    payload = _encode_ima4(inter, 2)
    assert len(payload) == 4 * 2 * 34                # 4 blocks x 2 ch
    dec = _ima4_decode(payload, 2)
    assert dec.shape == (256 * 2,)
    dl, dr = dec[0::2].astype(np.float64), dec[1::2].astype(np.float64)
    # per-channel steady-state tracking over the un-padded span
    for got, want in ((dl[:n], left), (dr[:n], right)):
        err = got[64:] - want[64:].astype(np.float64)
        assert np.sqrt((err ** 2).mean()) < 0.03 * (
            np.sqrt((want[64:].astype(np.float64) ** 2).mean()) + 1.0)


def test_aiff_ima4_nframes_trim():
    """COMM numSampleFrames is authoritative: the encoder pads up to
    64-frame packets, but a 200-frame file must report 200 samples
    with stats over the real frames only (QuickTime semantics)."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_aiff, _encode_ima4,
                                           _ima4_decode)

    n = 200
    sig = (2500 * np.sin(np.arange(n) / 8.0)).astype(np.int16)
    payload = _encode_ima4(sig, 1)               # pads to 256 frames
    full = _ima4_decode(payload, 1)
    assert full.shape == (256,)
    st = _decode_aiff(_aifc_ima4(payload, rate=8000, nframes=n))
    assert st["n_samples"] == n
    want = full[:n].astype(np.float64) / 32768.0
    assert abs(st["rms"] - float(np.sqrt((want * want).mean()))) < 1e-12
    # nframes=0 (degenerate header) keeps the structural count
    st0 = _decode_aiff(_aifc_ima4(payload, rate=8000, nframes=0))
    assert st0["n_samples"] == 256


def test_aiff_ima4_hostile():
    """Hostile ima4 payloads fail as skippable ValueError, never an
    allocation bomb: short payloads, zero channels, and the 4 MB
    nibble-loop cap."""
    import pytest as _pytest

    from meza_spark.llm.multimodal import _decode_aiff, _ima4_decode

    with _pytest.raises(ValueError, match="shorter"):
        _ima4_decode(b"\x00" * 20, 1)
    with _pytest.raises(ValueError, match="channel"):
        _ima4_decode(b"\x00" * 68, 0)
    with _pytest.raises(ValueError, match="cap"):
        _ima4_decode(b"\x00" * 4_000_001, 1)
    # a container whose SSND is one byte short of a packet
    aifc = _aifc_ima4(b"\x00" * 33, rate=8000, nframes=64)
    with _pytest.raises(ValueError, match="shorter"):
        _decode_aiff(aifc)


def test_au_decode():
    """Sun .au: 24-byte BE header; µ-law/A-law through the shared
    G.711 tables, 8/16-bit linear, float32; bad encodings gate."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_au,
                                           _decode_audio_bytes,
                                           _g711_tables, _parse_headers)

    def au(data, enc, rate=8000, ch=1):
        return (b".snd" + struct.pack(">IIIII", 24, len(data), enc,
                                      rate, ch) + data)

    raw = bytes(range(0, 250, 7))
    d = _decode_au(au(raw, 1))
    tab = _g711_tables()["ulaw"]
    want = tab[np.frombuffer(raw, np.uint8)].astype(float) / 32768.0
    assert abs(d["rms"] - float(np.sqrt((want * want).mean()))) < 1e-12
    da = _decode_au(au(raw, 27))
    taba = _g711_tables()["alaw"]
    wanta = taba[np.frombuffer(raw, np.uint8)].astype(float) / 32768.0
    assert abs(da["mean"] - float(wanta.mean())) < 1e-12
    # 16-bit linear big-endian
    s16 = np.array([1000, -2000, 32767], dtype=">i2")
    d16 = _decode_au(au(s16.tobytes(), 3, rate=16000))
    assert d16["n_samples"] == 3 and d16["sample_rate"] == 16000
    assert d16["peak"] == 32767 / 32768.0
    # float32 BE
    f32 = np.array([0.5, -0.25], dtype=">f4")
    df_ = _decode_au(au(f32.tobytes(), 6))
    assert df_["peak"] == 0.5
    # 8-bit signed linear
    d8 = _decode_au(au(np.array([64, -128], np.int8).tobytes(), 2))
    assert d8["peak"] == 1.0
    with _pytest.raises(ValueError, match="encoding"):
        _decode_au(au(raw, 23))          # ADPCM .au not supported
    meta = _parse_headers(au(s16.tobytes(), 3, rate=16000))
    assert meta["format"] == "au" and meta["sample_rate"] == 16000
    assert meta["duration_ms"] == 3 * 1000 // 16000
    assert _decode_audio_bytes(au(raw, 1))["n_samples"] == len(raw)


def test_decode_audio_df_dispatch(spark):
    """decode_audio routes WAV + AIFF + .au through one dispatcher."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import decode_audio

    sm = np.array([0, 8192, -8192], dtype="<i2")
    wav = (b"RIFF" + struct.pack("<I", 36 + 6) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
           + b"data" + struct.pack("<I", 6) + sm.tobytes())
    aiff = _aiff([0, 8192, -8192])
    au = (b".snd" + struct.pack(">IIIII", 24, 6, 3, 8000, 1)
          + np.array([0, 8192, -8192], dtype=">i2").tobytes())
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(aiff)), (3, bytearray(au)),
         (4, bytearray(b"not audio at all, really"))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r
            for r in decode_audio(df, unsupported="skip").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["rms"] == rows[2]["rms"] == rows[3]["rms"]



def test_decode_audio_skip_drops_perceptual_codecs(spark):
    """MP3 and Ogg raise NotImplementedError (no perceptual decoder):
    ``skip`` drops them like any undecodable payload, ``error`` still
    fails the job."""
    import struct

    import numpy as np

    from meza_spark.llm.multimodal import decode_audio

    sm = np.array([0, 8192, -8192], dtype="<i2")
    wav = (b"RIFF" + struct.pack("<I", 36 + 6) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
           + b"data" + struct.pack("<I", 6) + sm.tobytes())
    mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\xff\xfb\x90\x00" * 8
    ogg = b"OggS\x00\x02" + b"\x00" * 40
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(mp3)), (3, bytearray(ogg))],
        "media_id long, payload binary")
    rows = decode_audio(df, unsupported="skip").collect()
    assert [(r["media_id"], r["sample_rate"]) for r in rows] == [(1, 8000)]
    with pytest.raises(Exception, match="perceptual codecs"):
        decode_audio(df).collect()


@pytest.mark.parametrize("op,value", [
    ("decode_image", "skp"), ("decode_audio", "skp"),
    ("decode_audio", "stub"), ("decode_video", "skp"),
    ("decode_video", "stub")])
def test_unknown_unsupported_value_rejected(spark, media, op, value):
    """An ``unsupported`` value the operator does not offer raises
    while the frame is built, instead of behaving as ``'error'``."""
    from meza_spark.llm import multimodal as mm

    with pytest.raises(ValueError, match=f"unsupported='{value}'"):
        getattr(mm, op)(media, unsupported=value)

def test_apng_full_walk():
    """APNG: acTL/fcTL/fdAT walk with blend_op source/over and all
    three dispose_ops, checked against hand-computed canvases."""
    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_apng_frames,
                                           _encode_apng, _encode_png,
                                           decode_pixels)

    def rgba(val, a=255, shape=(4, 6)):
        f = np.zeros((*shape, 4), np.uint8)
        f[:, :, :3] = val
        f[:, :, 3] = a
        return f

    # frame 1 full canvas; frame 2 opaque patch (source); frame 3
    # half-transparent patch (over) then dispose background
    f1 = rgba(40)
    p2 = rgba(200, shape=(2, 3))
    p3 = rgba(100, a=128, shape=(2, 3))
    enc = _encode_apng(
        [f1, p2, p3],
        delays_ms=[100, 50, 25],
        disposes=[0, 2, 1],             # frame2 dispose=previous
        blends=[0, 0, 1],
        offsets=[(0, 0), (1, 1), (2, 2)])
    frames, delays = _decode_apng_frames(enc)
    assert delays == [100, 50, 25]
    assert frames[0].shape == (4, 6, 4)
    assert (frames[0][:, :, :3] == 40).all()
    assert (frames[0][:, :, 3] == 255).all()
    # frame 2: patch at x=1..3, y=1..2 (offsets are (x, y))
    assert (frames[1][1:3, 1:4, 0] == 200).all()
    assert frames[1][0, 0, 0] == 40
    # frame 3: dispose=previous reverted the patch, then OVER blend of
    # 100@128 over 40@255: out = round((100*128/255 + 40*(1-128/255)))
    fa = 128 / 255
    want = round(100 * fa + 40 * (1 - fa))
    # reverted: the part of patch 2's region NOT under patch 3
    assert (frames[2][1, 1:4, 0] == 40).all()
    assert frames[2][2, 1, 0] == 40
    got = frames[2][2:4, 2:5, 0]
    assert (got == want).all(), (got[0, 0], want)
    assert (frames[2][2:4, 2:5, 3] == 255).all()      # over opaque
    # a still PNG is not a video container
    still = _encode_png(np.full((3, 3, 3), 7, np.uint8))
    with _pytest.raises(ValueError, match="acTL"):
        _decode_apng_frames(still)
    # decode_pixels still treats the APNG as its default (first) image
    px = decode_pixels(enc)
    assert px.shape == (4, 6, 4) and (px[:, :, :3] == 40).all()


def test_decode_video_apng(spark):
    """decode_video routes APNG payloads: one row per frame with
    cumulative timestamps over the RGBA canvas stats."""
    import numpy as np

    from meza_spark.llm.multimodal import _encode_apng, decode_video

    f = np.zeros((3, 5, 4), np.uint8)
    f[:, :, 3] = 255
    f2 = f.copy()
    f2[:, :, 0] = 80
    enc = _encode_apng([f, f2], delays_ms=[70, 30])
    df = spark.createDataFrame([(9, bytearray(enc))],
                               "media_id long, payload binary")
    rows = sorted(decode_video(df).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 70]
    assert rows[0]["width"] == 5 and rows[0]["height"] == 3
    assert rows[1]["mean_pixel"] == (80 + 255) / 4.0


def test_mp4_mjpeg_frame_decode():
    """MJPEG-in-MP4: the stbl walk (stsd codec, stsz sizes, stsc
    two-samples-per-chunk runs, stco offsets, stts/mdhd timestamps)
    extracts every sample and decodes it through the real JPEG codec;
    compressed codecs stay honest ValueError gates."""
    import numpy as np
    import pytest as _pytest

    from meza_spark.llm.multimodal import (_decode_jpeg,
                                           _decode_mp4_frames,
                                           _encode_jpeg,
                                           _encode_mp4_mjpeg)

    rng = np.random.default_rng(13)
    fr = [rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
          for _ in range(5)]
    mp4 = _encode_mp4_mjpeg(fr, timescale=1000, frame_dur=40,
                            quality=85)
    frames, ts = _decode_mp4_frames(mp4)
    assert len(frames) == 5
    assert ts == [0, 40, 80, 120, 160]
    for got, src in zip(frames, fr):
        assert np.array_equal(got,
                              _decode_jpeg(_encode_jpeg(src,
                                                        quality=85)))
    # an avc1 (H.264) track is not frame-decodable: honest gate
    bad = bytearray(mp4)
    at = bad.find(b"jpeg", bad.find(b"stsd"))
    bad[at:at + 4] = b"avc1"
    with _pytest.raises(ValueError, match="avc1"):
        _decode_mp4_frames(bytes(bad))
    with _pytest.raises(ValueError):
        _decode_mp4_frames(mp4[:64])


def test_decode_video_mp4(spark):
    """decode_video routes MJPEG MP4s; metadata-only MP4s skip."""
    import numpy as np

    from meza_spark.llm.multimodal import (_encode_mp4_mjpeg,
                                           decode_video)

    f = np.full((8, 8, 3), 120, np.uint8)
    mp4 = _encode_mp4_mjpeg([f, f, f], timescale=600, frame_dur=30)
    df = spark.createDataFrame([(4, bytearray(mp4))],
                               "media_id long, payload binary")
    rows = sorted(decode_video(df).collect(),
                  key=lambda r: r["frame_idx"])
    assert len(rows) == 3
    assert [r["ts_ms"] for r in rows] == [0, 50, 100]
    assert rows[0]["width"] == 8


def test_frame_sample_real_containers(spark):
    """frame_sample emits REAL frames (BMP-encoded canvas snapshots)
    for decodable video containers, keeping the deterministic stub
    for everything else."""
    import numpy as np

    from meza_spark.llm.multimodal import (_decode_bmp,
                                           _encode_gif_anim,
                                           frame_sample)

    f1 = np.full((4, 6, 3), 30, np.uint8)
    f2 = np.full((4, 6, 3), 90, np.uint8)
    gif = _encode_gif_anim([f1, f2], delays_ms=[100, 100])
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(b"not a video"))],
        "media_id long, payload binary")
    rows = frame_sample(df, every_ms=50).collect()
    gif_rows = sorted([r for r in rows if r["media_id"] == 1],
                      key=lambda r: r["ts_ms"])
    # ticks 0..100 step 50: frame 0 on screen until ts 100
    assert [(r["ts_ms"], r["frame_idx"]) for r in gif_rows] \
        == [(0, 0), (50, 0), (100, 1)]
    px0 = _decode_bmp(bytes(gif_rows[0]["frame"]))
    px2 = _decode_bmp(bytes(gif_rows[2]["frame"]))
    assert (px0 == 30).all() and (px2 == 90).all()
    # undecodable payload keeps the legacy stub (5000 ms pretend
    # duration sampled every tick)
    stub_rows = [r for r in rows if r["media_id"] == 2]
    assert len(stub_rows) == 5000 // 50


def test_mp4_and_aiff_hostile_headers():
    """r6 review #1/#2: declared sample-table counts and 80-bit float
    exponents are untrusted — a few-hundred-byte bomb must raise
    ValueError (skippable), never OverflowError/MemoryError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm import multimodal as mm

    f = np.full((8, 8, 3), 50, np.uint8)
    mp4 = bytearray(mm._encode_mp4_mjpeg([f, f]))
    # stsz declares 2^31 samples
    at = mp4.find(b"stsz")
    mp4_bomb = bytearray(mp4)
    mp4_bomb[at + 12:at + 16] = struct.pack(">I", 1 << 31)
    with _pytest.raises(ValueError, match="decode budget"):
        mm._decode_mp4_frames(bytes(mp4_bomb))
    # stts declares 2^32-1 entries: clamped to the table extent, the
    # decode then proceeds on the real two frames
    at = mp4.find(b"stts")
    mp4_tts = bytearray(mp4)
    mp4_tts[at + 8:at + 12] = struct.pack(">I", 0xFFFFFFFF)
    frames, _ts = mm._decode_mp4_frames(bytes(mp4_tts))
    assert len(frames) == 2

    # AIFF COMM with an implausible 80-bit exponent: ValueError, and
    # the lenient header parse survives
    aiff = bytearray(
        b"FORM" + struct.pack(">I", 30) + b"AIFF"
        + b"COMM" + struct.pack(">I", 18)
        + struct.pack(">HIH", 1, 4, 16)
        + b"\x7f\xff" + b"\x80" + b"\x00" * 7)
    with _pytest.raises(ValueError):
        mm._decode_aiff(bytes(aiff))
    assert mm._parse_headers(bytes(aiff))["format"] == "aiff"


def test_aiff_negative_rate_and_stsc_validation():
    """ADVICE r7: (a) a COMM whose 80-bit sample rate has the sign bit
    set must raise (skippable), not flow a negative rate into the
    duration math; (b) an stsc table whose first run doesn't start at
    chunk 1 (or whose first_chunk values don't strictly increase) is
    corrupt per ISO 14496-12 §8.7.4 and must raise, not silently
    mis-assign samples to chunks."""
    import struct

    import numpy as np
    import pytest as _pytest

    from meza_spark.llm import multimodal as mm

    # sign-bit-set 44100: exponent in the plausible band, value < 0
    f80 = bytearray(_f80(44100))
    f80[0] |= 0x80
    with _pytest.raises(ValueError, match="non-positive"):
        mm._parse_f80(bytes(f80))
    aiff = bytearray(_aiff([0, 100, -100, 50]))
    at = aiff.find(b"COMM") + 8 + struct.pack(">HIH", 1, 4, 16).__len__()
    aiff[at] |= 0x80  # sign bit of the COMM rate field
    with _pytest.raises(ValueError):
        mm._decode_aiff(bytes(aiff))

    f = np.full((8, 8, 3), 50, np.uint8)
    mp4 = bytearray(mm._encode_mp4_mjpeg([f, f]))
    at = mp4.find(b"stsc")
    # entry 0's first_chunk := 2 (must be 1)
    mp4_bad = bytearray(mp4)
    mp4_bad[at + 12:at + 16] = struct.pack(">I", 2)
    with _pytest.raises(ValueError, match="stsc"):
        mm._decode_mp4_frames(bytes(mp4_bad))


def test_decode_video_external_decoder_hook(spark):
    """Verdict r6 #5: the `decoder=` plugin point. A fake external
    decoder (standing in for PyAV/ffmpeg) receives exactly the
    payloads the stdlib tier gates on, its frames flow through the
    row-per-frame contract, the pixel budget still applies to its
    output, and with no decoder the honest gate is unchanged."""
    import numpy as np
    import pytest as _pytest

    from meza_spark.llm import multimodal as mm

    f1 = np.full((4, 6, 3), 20, np.uint8)
    gif = mm._encode_gif_anim([f1, f1], delays_ms=[30, 40])
    fake_h264 = b"\x00\x00\x00\x18ftypisom" + b"\x5a" * 64

    def fake_decoder(payload):
        # derive pixels from the payload so the assertion below proves
        # the hook received the actual bytes (the decoder runs in the
        # executor worker — a driver-side `seen` list can't observe it)
        v = payload[-1]  # 0x5a = 90
        return [np.full((2, 3, 3), v, np.uint8),
                np.full((2, 3, 3), 10, np.uint8)], [0, 40]

    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(fake_h264))],
        "media_id long, payload binary")
    rows = mm.decode_video(df, decoder=fake_decoder).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    # GIF went through the stdlib walk (decoder never saw it)
    assert len(by_id[1]) == 2 and len(by_id[2]) == 2
    ext = sorted(by_id[2], key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in ext] == [0, 40]
    assert ext[0]["mean_pixel"] == 90.0 and ext[0]["width"] == 3

    # budget: an external decoder returning > MAX_DECODE_PIXELS raises
    def bomb_decoder(payload):
        return [np.zeros((8000, 9000, 3), np.uint8)], [0]

    with _pytest.raises(ValueError, match="decode budget"):
        mm._frames_with_decoder(fake_h264, bomb_decoder)
    # shape check: non-HxWxC output rejected
    with _pytest.raises(ValueError, match="non-HxWxC"):
        mm._frames_with_decoder(
            fake_h264, lambda b: ([np.zeros((4, 4))], [0]))
    # length mismatch rejected
    with _pytest.raises(ValueError, match="length mismatch"):
        mm._frames_with_decoder(
            fake_h264, lambda b: ([np.zeros((2, 2, 3), np.uint8)], []))
    # no decoder → honest gate unchanged
    with _pytest.raises(ValueError):
        mm._frames_with_decoder(fake_h264, None)
    # frame_sample shares the hook: ticks come from external frames
    fs = mm.frame_sample(
        spark.createDataFrame([(2, bytearray(fake_h264))],
                              "media_id long, payload binary"),
        every_ms=40, decoder=fake_decoder).collect()
    assert [r["ts_ms"] for r in fs] == [0, 40]
    assert [r["frame_idx"] for r in fs] == [0, 1]


def test_sniffer_lockstep_over_every_container(spark):
    """Both sniffers read _MAGICS; this pins that they agree, and that
    no row shadows another: one payload per alternative of every
    table row (each sniffs to its own row's format), plus the real
    fuzz-corpus containers and the hand-written edge cases of the two
    predicate rows — including the honest 'unknown's (wbmp, near-miss
    magics, sub-3-byte MPEG sync)."""
    from meza_spark.llm.multimodal import (
        _MAGICS, _sniff_format, attach_media_meta,
    )
    from tests.test_properties import _media_fixtures

    payloads, want = {}, {}
    for fmt, clauses in _MAGICS:
        if clauses is None:
            continue
        for k in range(max(len(alts) for _, alts in clauses)):
            p = bytearray(24)
            for off, alts in clauses:
                a = alts[k % len(alts)]
                p[off:off + len(a)] = a
            payloads[f"{fmt}_{k}"] = bytes(p)
            want[f"{fmt}_{k}"] = fmt
    for name, (payload, _) in _media_fixtures().items():
        payloads[name] = payload
    payloads["mp3_sync"] = b"\xff\xfb\x90\x00" + b"\x00" * 16
    payloads["svg_xml"] = b"<?xml version=\"1.0\"?>\n<svg/>" + b" " * 8
    payloads["svg_comment"] = b"<!--\n * license\n-->\n<svg  />" + b" " * 4
    payloads["svg_doctype"] = b"<!DOCTYPE svg PUBLIC x>\n<svg/>  "
    payloads["comment_not_svg"] = b"<!-- a plain xml comment -->    "
    payloads["xml_not_svg"] = b"<?xml version=\"1.0\"?><note/>    "
    payloads["pk_text"] = b"PK archive (not zip magic)"
    payloads["rtf_text"] = b"{ \\rtf needs no space }"
    payloads["short"] = b"\xff\xfb"        # sub-3-byte: both unknown
    want.update(mp3_sync="mp3", svg_xml="svg", svg_comment="svg",
                svg_doctype="svg", comment_not_svg="unknown",
                xml_not_svg="unknown", pk_text="unknown",
                rtf_text="unknown", short="unknown", wbmp="unknown")
    rows = [(i, bytearray(p))
            for i, p in enumerate(payloads.values())]
    df = spark.createDataFrame(rows, "id long, payload binary")
    jvm = {r["id"]: r["format"] for r in attach_media_meta(df).collect()}
    for i, (name, p) in enumerate(payloads.items()):
        assert _sniff_format(p) == jvm[i], name
        assert want.get(name, jvm[i]) == jvm[i], name
    # every container the table names is reachable from some payload
    assert {f for f, _ in _MAGICS} <= set(jvm.values())


def test_media_sniff_twin_parity_on_adversarial_prefixes(spark, tmp_path):
    """The multimodal_meta DuckDB twin replays attach_media_meta's
    text-expressible magic prefixes; the shipped corpus never starts
    a document with 'BM'/'P5'/'GIF87a'/…, so this unit feeds texts
    that DO and asserts Spark sniff == twin CASE, row for row (the
    parity trap a review flagged in the hardcoded-'unknown' twin)."""
    import duckdb

    import __spark_entry__ as entry
    from meza_spark.llm.multimodal import attach_media_meta
    from pyspark.sql import functions as F

    texts = ["BMW motors", "P5 paper", "P6\n#ftyp maybe", "GIF87a art",
             "GIF89a art", "RIFF not wave", "RIFFxxxxWAVE!", "FORMxxxxAIFF",
             ".snd record", "ordinary text", "MM *tiffish", "xxxxftyp.mp4",
             "RIFFxxxxWEBP too", "fLaC stream", "ID3 tagged", "ID2 not",
             "OggS page here", "%PDF-1.7 fake doc", "%PDF no dash",
             "<svg width='1'/>", "<?xml version='1.0'?><svg/>",
             "<?xml version='1.0'?><rss/>", "PK text is not zip magic",
             "{\\rtf1\\ansi fake rtf doc}", "{ \\rtf not at offset 1",
             "xxxxftypavifxxxx",
             "xxxxftypheicxxxx", "xxxxftypmif1xxxx", "xxxxftypheixwrong"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["format"] for r in attach_media_meta(
        df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    ).collect()}

    p = str(tmp_path / "documents.parquet")
    df.write.parquet(p)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'")
    sql = entry.oracle_sql()["multimodal_meta"]
    want = {r[0]: r[1] for r in con.sql(sql).fetchall()}
    assert got == want
    # sanity: the adversarial prefixes really fire (not all-unknown)
    assert got[0] == "bmp" and got[3] == "gif" and got[6] == "wav"
    assert got[9] == "unknown" and got[11] == "mp4"
    assert got[12] == "webp" and got[13] == "flac" and got[14] == "mp3"
    assert got[15] == "unknown" and got[16] == "ogg"
