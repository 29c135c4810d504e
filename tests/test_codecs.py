"""Native media codec kernels: real PNG/BMP/PPM/GIF/JPEG/WAV decode with
stdlib+numpy only, and the Spark decode stages built on them."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from mapreduce_google_spark.operators import codecs


def _rng(seed: int = 7) -> np.random.Generator:
    return np.random.default_rng(seed)


# --- pure-kernel tests -------------------------------------------------


def test_png_roundtrip_rgb():
    arr = _rng().integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    data = codecs.encode_png(arr)
    assert codecs.sniff_format(data) == "png"
    assert codecs.parse_image_dims(data) == (9, 13, 3, "png")
    out = codecs.decode_pixels(data)
    np.testing.assert_array_equal(out, arr)


def test_png_roundtrip_gray_and_rgba():
    for ch in (1, 4):
        arr = _rng(ch).integers(0, 256, size=(5, 7, ch), dtype=np.uint8)
        out = codecs.decode_pixels(codecs.encode_png(arr))
        np.testing.assert_array_equal(out, arr)


def test_png_all_filter_types():
    """Hand-build a PNG whose scanlines use filters 1-4; decode must undo
    each (verified against an independent per-pixel reference)."""
    h, w, ch = 5, 4, 3
    arr = _rng(42).integers(0, 256, size=(h, w, ch), dtype=np.int32)
    stride = w * ch
    flat = arr.reshape(h, stride)
    raw = bytearray()
    filters = [0, 1, 2, 3, 4]
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y]
        raw.append(f)
        recon = flat[y]
        for x in range(stride):
            a = recon[x - ch] if x >= ch else 0
            b = prior[x]
            c = prior[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((recon[x] - pred) & 0xFF)
        prior = recon
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._png_chunk(b"IHDR", ihdr)
        + codecs._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + codecs._png_chunk(b"IEND", b"")
    )
    out = codecs.decode_pixels(png)
    np.testing.assert_array_equal(out, arr.astype(np.uint8))


def test_png_palette():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._png_chunk(b"IHDR", ihdr)
        + codecs._png_chunk(b"PLTE", pal.tobytes())
        + codecs._png_chunk(b"IDAT", zlib.compress(raw))
        + codecs._png_chunk(b"IEND", b"")
    )
    out = codecs.decode_pixels(png)
    np.testing.assert_array_equal(out, pal[idx])


def _make_bmp24(arr: np.ndarray, bottom_up: bool = True) -> bytes:
    """Minimal uncompressed 24-bit BMP writer (test-local reference)."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    rows = arr[::-1] if bottom_up else arr
    for row in rows:
        line = row[:, ::-1].tobytes()  # RGB → BGR
        body += line + b"\x00" * (stride - len(line))
    data_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h if bottom_up else -h, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
    )
    return bytes(header) + bytes(body)


def test_bmp_decode_both_orientations():
    arr = _rng(3).integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    for bottom_up in (True, False):
        data = _make_bmp24(arr, bottom_up)
        assert codecs.parse_image_dims(data) == (5, 3, 3, "bmp")
        np.testing.assert_array_equal(codecs.decode_pixels(data), arr)


def test_ppm_roundtrip_with_comment():
    arr = _rng(5).integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    data = codecs.encode_ppm(arr)
    np.testing.assert_array_equal(codecs.decode_pixels(data), arr)
    # header comments are legal netpbm
    commented = b"P6\n# a comment\n6 4\n255\n" + arr.tobytes()
    np.testing.assert_array_equal(codecs.decode_pixels(commented), arr)
    assert codecs.parse_image_dims(data) == (6, 4, 3, "pnm")


def test_gif_and_jpeg_header_dims():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert codecs.parse_image_dims(gif) == (320, 200, 3, "gif")
    # SOI + APP0 stub + SOF0 (h=480, w=640, 3 components)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    jpeg = b"\xff\xd8" + app0 + sof0
    assert codecs.parse_image_dims(jpeg) == (640, 480, 3, "jpeg")


def test_resize_nearest():
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = codecs.resize_nearest(arr, 2, 2)
    np.testing.assert_array_equal(out, arr[::2, ::2])
    up = codecs.resize_nearest(arr, 8, 8)
    assert up.shape == (8, 8, 3)


def _make_wav(samples: np.ndarray, nch: int = 2, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        interleaved = np.repeat(samples.astype("<i2"), nch)
        wf.writeframes(interleaved.tobytes())
    return buf.getvalue()


def test_wav_parse_and_samples():
    samples = np.array([0, 1000, -1000, 32767, -32768, 5], dtype=np.int16)
    data = _make_wav(samples)
    assert codecs.sniff_format(data) == "wav"
    assert codecs.parse_wav(data) == (2, 2, 8000, len(samples))
    np.testing.assert_array_equal(codecs.wav_samples(data), samples.astype(np.int32))


# --- Spark decode stages ----------------------------------------------


def _media_df(spark, blobs: list[bytes]):
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)], "doc_id long, blob binary"
    )


def test_spark_real_decode_native(spark):
    from mapreduce_google_spark.operators.multimodal import decode_images

    arrs = {
        0: _rng(11).integers(0, 256, size=(12, 8, 3), dtype=np.uint8),
        1: _rng(12).integers(0, 256, size=(6, 20, 3), dtype=np.uint8),
    }
    df = _media_df(
        spark, [codecs.encode_png(arrs[0]), _make_bmp24(arrs[1])]
    )
    got = {r.doc_id: r for r in decode_images(df).collect()}
    assert (got[0].width, got[0].height, got[0].channels) == (8, 12, 3)
    assert (got[1].width, got[1].height, got[1].channels) == (20, 6, 3)
    assert got[0].decoder in ("native-png", "pil")
    assert got[1].decoder in ("native-bmp", "pil")


def test_spark_real_resize_native(spark):
    from mapreduce_google_spark.operators.multimodal import resize_images

    arr = _rng(13).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    df = _media_df(spark, [codecs.encode_ppm(arr)])
    row = resize_images(df, 4, 4).first()
    assert (row.width, row.height) == (4, 4)
    out = codecs.decode_pixels(bytes(row.blob))
    assert out is not None and out.shape == (4, 4, 3)
    np.testing.assert_array_equal(out, codecs.resize_nearest(arr, 4, 4))


def test_spark_real_wav_frames(spark):
    from mapreduce_google_spark.operators.multimodal import sample_frames

    samples = np.arange(-50, 50, dtype=np.int16) * 100
    short = samples[:37]
    df = _media_df(spark, [_make_wav(samples), _make_wav(short)])
    rows = sample_frames(df, every_n=10).orderBy("doc_id", "frame_idx").collect()
    # 1 row in -> ceil(samples / every_n) frame rows out, per document
    for doc_id, src in enumerate((samples, short)):
        got = [r for r in rows if r.doc_id == doc_id]
        assert len(got) == -(-len(src) // 10)
        assert [r.frame_idx for r in got] == list(range(len(got)))
        assert [r.frame_byte for r in got] == [int(v) for v in src[::10]]


def test_spark_real_decode_unknown_format_raises(spark):
    from mapreduce_google_spark.operators.multimodal import decode_images

    df = _media_df(spark, [b"definitely not an image"])
    with pytest.raises(Exception) as exc_info:
        decode_images(df).collect()
    assert "NotImplementedError" in str(exc_info.value)
