"""Pure-Python media codecs for the multimodal pipeline.

Several real formats are decodable with the stdlib alone: PNG (zlib +
per-scanline filters), BMP (struct), netpbm P5/P6 (ASCII header + raw
pixels), GIF/JPEG headers (dimension parse), and WAV PCM (stdlib
``wave``). These kernels make the decode stages of :mod:`.multimodal`
work without any image/audio library, while PIL — when installed on
executors — remains the preferred full-fidelity/fast path.

Performance honesty: the PNG filter undo below is a per-scanline numpy
loop — fine for metadata extraction and correctness tests, but on a real
100 TB image corpus you install Pillow (C-backed) on the executors and
these kernels become the fallback, not the hot path. The Spark-side
contract (binary in, Arrow batches, fixed output schema) is identical
either way.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

#: colortype → channel count for PNG (palette decodes to 3)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def sniff_format(data: bytes) -> str | None:
    """Identify a media payload by magic bytes. Returns a short format tag
    or None for unknown payloads."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] in (b"P5", b"P6") and (len(data) > 2 and data[2:3].isspace()):
        return "pnm"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    return None


def _pnm_header(data: bytes) -> tuple[str, int, int, int, int]:
    """Parse a netpbm P5/P6 header → (magic, width, height, maxval,
    pixel_data_offset). Comments (#...) allowed per spec."""
    magic = data[:2].decode("ascii")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixels
    return magic, vals[0], vals[1], vals[2], pos


def parse_image_dims(data: bytes) -> tuple[int, int, int, str] | None:
    """Header-only decode: (width, height, channels, format) without
    touching pixel data — the metadata pass a 100 TB crawl runs first.
    Returns None for unrecognized payloads."""
    fmt = sniff_format(data)
    if fmt == "png":
        w, h = struct.unpack(">II", data[16:24])
        channels = _PNG_CHANNELS.get(data[25], 0)
        if data[25] == 3:  # palette expands to RGB on decode
            channels = 3
        return w, h, channels, fmt
    if fmt == "jpeg":
        pos = 2
        while pos + 9 < len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
            # SOF0-15 except DHT(C4)/JPG(C8)/DAC(CC) carry the frame header
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                return w, h, data[pos + 9], fmt
            pos += 2 + seg_len
        return None
    if fmt == "gif":
        w, h = struct.unpack("<HH", data[6:10])
        return w, h, 3, fmt
    if fmt == "bmp":
        w, h = struct.unpack("<ii", data[18:26])
        bpp = struct.unpack("<H", data[28:30])[0]
        return w, abs(h), max(bpp // 8, 1), fmt
    if fmt == "pnm":
        magic, w, h, _maxval, _off = _pnm_header(data)
        return w, h, 3 if magic == "P6" else 1, fmt
    return None


def _png_unfilter(raw: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4) for 8-bit samples →
    (height, width, channels) uint8 array."""
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(
            np.int32
        )
        pos += 1 + stride
        if ftype == 0:
            recon = line
        elif ftype == 2:  # Up
            recon = (line + prior) & 0xFF
        else:  # Sub/Average/Paeth need the left neighbor — sequential walk
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = recon[x - channels] if x >= channels else 0
                b = prior[x]
                c = prior[x - channels] if x >= channels else 0
                if ftype == 1:
                    recon[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    recon[x] = (line[x] + (a + b) // 2) & 0xFF
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    recon[x] = (line[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return out.reshape(height, width, channels)


def decode_pixels(data: bytes) -> np.ndarray | None:
    """Full pixel decode → (h, w, channels) uint8 array, or None if the
    format isn't supported by the native kernels (PNG 8-bit / BMP 24|32 /
    P5 / P6). PIL covers the rest when present."""
    fmt = sniff_format(data)
    if fmt == "png":
        pos, idat, plte = 8, b"", b""
        width = height = bitdepth = colortype = interlace = 0
        while pos + 8 <= len(data):
            (clen,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[
                pos + 4 : pos + 8
            ]
            chunk = data[pos + 8 : pos + 8 + clen]
            if ctype == b"IHDR":
                width, height = struct.unpack(">II", chunk[:8])
                bitdepth, colortype, _, _, interlace = chunk[8:13]
            elif ctype == b"PLTE":
                plte = chunk
            elif ctype == b"IDAT":
                idat += chunk
            elif ctype == b"IEND":
                break
            pos += 12 + clen
        if bitdepth != 8 or interlace != 0:
            return None  # native kernel covers the common 8-bit case only
        channels = _PNG_CHANNELS[colortype]
        arr = _png_unfilter(zlib.decompress(idat), width, height, channels)
        if colortype == 3:  # palette → RGB
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            arr = pal[arr[:, :, 0]]
        return arr
    if fmt == "bmp":
        data_off = struct.unpack("<I", data[10:14])[0]
        w, h = struct.unpack("<ii", data[18:26])
        bpp = struct.unpack("<H", data[28:30])[0]
        compression = struct.unpack("<I", data[30:34])[0]
        if bpp not in (24, 32) or compression != 0:
            return None
        nch = bpp // 8
        stride = (w * nch + 3) & ~3
        rows = []
        flipped = h > 0  # positive height = bottom-up rows
        for y in range(abs(h)):
            off = data_off + y * stride
            row = np.frombuffer(data, dtype=np.uint8, count=w * nch, offset=off)
            rows.append(row.reshape(w, nch)[:, [2, 1, 0] if nch == 3 else [2, 1, 0, 3]])
        arr = np.stack(rows[::-1] if flipped else rows)
        return arr
    if fmt == "pnm":
        magic, w, h, maxval, off = _pnm_header(data)
        if maxval > 255:
            return None
        nch = 3 if magic == "P6" else 1
        return (
            np.frombuffer(data, dtype=np.uint8, count=w * h * nch, offset=off)
            .reshape(h, w, nch)
            .copy()
        )
    return None


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via numpy fancy indexing (no loops)."""
    h, w = arr.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[ys][:, xs]


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder (8-bit gray/RGB/RGBA, filter 0)."""
    h, w = arr.shape[:2]
    channels = 1 if arr.ndim == 2 else arr.shape[2]
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = arr.reshape(h, w * channels).astype(np.uint8)
    raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_ppm(arr: np.ndarray) -> bytes:
    """P6 (RGB) / P5 (gray) netpbm encoder."""
    h, w = arr.shape[:2]
    channels = 1 if arr.ndim == 2 else arr.shape[2]
    magic = b"P6" if channels == 3 else b"P5"
    return magic + f" {w} {h} 255\n".encode("ascii") + arr.astype(np.uint8).tobytes()


def parse_wav(data: bytes) -> tuple[int, int, int, int]:
    """(n_channels, sample_width_bytes, framerate, n_frames) of a PCM WAV."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        return wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes()


def wav_samples(data: bytes) -> np.ndarray:
    """First-channel PCM samples as int32 (any sample width)."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        nch, sw, _, nframes = (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )
        raw = wf.readframes(nframes)
    if sw == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    elif sw == 1:
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    elif sw == 4:
        arr = np.frombuffer(raw, dtype="<i4").astype(np.int32)
    else:  # 24-bit: sign-extend 3-byte little-endian
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        arr = b[:, 0] | (b[:, 1] << 8) | ((b[:, 2].astype(np.int8).astype(np.int32)) << 16)
    return arr[::nch]  # first channel
