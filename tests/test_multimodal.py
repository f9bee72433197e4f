"""Tests for operators/multimodal.py: the WAV, BMP, PNG, GIF and JPEG
decoders against real test-side encoders, the MP4 probe, the payload
operators over the one Arrow batch loop, malformed-payload fuzz, the
caller's id column, and a pure-Python model of the batch loop."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.operators.multimodal import (
    attach_binary_payload,
    audio_features,
    audio_fingerprint_features,
    audio_frame_rms,
    extract_features,
    gif_frame_features,
    image_dhash_features,
    image_features,
    resize_images,
    video_metadata,
)


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="x")])
    out = extract_features(attach_binary_payload(df)).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_bytes == 5
    import hashlib

    assert by_id[1].digest == hashlib.md5(b"hello").hexdigest()
    assert by_id[2].ascii_ratio == 1.0


def _make_wav(freq_hz: float, seconds: float = 0.5, rate: int = 8000) -> bytes:
    import io as _io
    import wave

    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    samples = (0.5 * np.sin(2 * np.pi * freq_hz * t) * 32767).astype("<i2")
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _make_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    import struct as _struct

    row = (bytes([rgb[2], rgb[1], rgb[0]]) * width).ljust(
        (width * 3 + 3) & ~3, b"\x00"
    )
    pixels = row * height
    header_size = 14 + 40
    file_size = header_size + len(pixels)
    return (
        b"BM"
        + _struct.pack("<IHHI", file_size, 0, 0, header_size)
        + _struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pixels), 2835, 2835, 0, 0)
        + pixels
    )


def test_wav_audio_features_real_decode(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    wav = _make_wav(440.0)
    meta = decode_wav(wav)
    assert meta["sample_rate"] == 8000 and meta["channels"] == 1
    assert abs(meta["duration_s"] - 0.5) < 1e-6
    # a 0.5-amplitude sine has RMS ~0.3536 and peak ~0.5
    assert 0.34 < meta["rms"] < 0.36 and 0.49 <= meta["peak"] <= 0.51

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=_make_wav(220.0 * (i + 1))) for i in range(4)]
    )
    rows = {r.doc_id: r for r in audio_features(df).collect()}
    assert len(rows) == 4
    assert all(abs(r.duration_s - 0.5) < 1e-6 for r in rows.values())
    assert all(0.3 < r.rms < 0.4 for r in rows.values())


def test_bmp_image_features_real_decode(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        image_features,
    )

    bmp = _make_bmp(16, 9, (200, 100, 50))
    meta = decode_image(bmp)
    assert (meta["width"], meta["height"]) == (16, 9)
    assert (meta["mean_r"], meta["mean_g"], meta["mean_b"]) == (200.0, 100.0, 50.0)

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=_make_bmp(8 + i, 4, (10 * i, 20, 30)))
         for i in range(3)]
    )
    rows = {r.doc_id: r for r in image_features(df).collect()}
    assert rows[2].width == 10 and rows[2].mean_r == 20.0


def test_decode_image_unsupported_codec_raises():
    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_image

    # an MP4 ftyp box: video containers stay documented-unsupported
    with _pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_image(b"\x00\x00\x00\x18ftypisom....")
    # progressive JPEG dispatches into decode_jpeg and rejects SOF2 there
    with _pytest.raises(NotImplementedError, match="SOF0"):
        decode_image(
            b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        )


def _make_png(px, channels: int, filters: list[int]) -> bytes:
    """Reference PNG encoder (test-side): forward-filters each scanline with
    the requested filter type per the spec, so the decoder must invert all of
    None/Sub/Up/Average/Paeth to reproduce `px` (an HxWxC uint8 array)."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    h, w, c = px.shape
    assert c == channels
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = px.reshape(h, w * c).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = filters[y % len(filters)]
        line = np.empty(w * c, dtype=np.int32)
        for x in range(w * c):
            a = int(cur[x - c]) if x >= c else 0
            b = int(prev[x])
            cc = int(prev[x - c]) if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw += bytes(line.astype(np.uint8))
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", _zlib.crc32(ctype + data))
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_golden():
    """Round-trip a deterministic RGB image through every PNG filter type:
    the decoder's reconstruction must reproduce the exact pixel means."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        decode_png,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(10, 13, 3), dtype=np.uint8)
    expect = px.reshape(-1, 3).mean(axis=0)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = _make_png(px, 3, filters)
        meta = decode_png(png)
        assert (meta["width"], meta["height"]) == (13, 10), filters
        got = (meta["mean_r"], meta["mean_g"], meta["mean_b"])
        assert np.allclose(got, expect, atol=1e-5), (filters, got, expect)
    # decode_image dispatches on the PNG magic
    assert decode_image(_make_png(px, 3, [4]))["width"] == 13


def test_png_decode_rgba_and_grayscale():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_png

    rgba = np.zeros((4, 5, 4), dtype=np.uint8)
    rgba[:, :, 0] = 200
    rgba[:, :, 1] = 100
    rgba[:, :, 2] = 50
    rgba[:, :, 3] = 17  # alpha must not leak into the channel means
    meta = decode_png(_make_png(rgba, 4, [0, 1, 2, 3, 4]))
    assert (meta["mean_r"], meta["mean_g"], meta["mean_b"]) == (200.0, 100.0, 50.0)

    gray = np.full((3, 7, 1), 123, dtype=np.uint8)
    meta = decode_png(_make_png(gray, 1, [2]))
    assert meta["mean_r"] == meta["mean_g"] == meta["mean_b"] == 123.0
    assert (meta["width"], meta["height"]) == (7, 3)


def test_png_interlaced_rejected():
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_png

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr))
    )
    with _pytest.raises(NotImplementedError, match="interlaced"):
        decode_png(png)


# --- GIF fixtures: a real LZW encoder so decode round-trips are genuine ----


def _gif_lzw_encode(indices, min_code_size):
    """Dictionary-building GIF LZW encoder (the inverse of the operator's
    decoder): variable code width, clear at start, end code at EOF."""
    clear = 1 << min_code_size
    end = clear + 1

    out_bits = []

    def emit(code, size):
        for i in range(size):
            out_bits.append((code >> i) & 1)

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    buf = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], code_size)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        buf = (px,)
    if buf:
        emit(table[buf], code_size)
    emit(end, code_size)
    by = bytearray()
    for i in range(0, len(out_bits), 8):
        b = 0
        for j, bit in enumerate(out_bits[i : i + 8]):
            b |= bit << j
        by.append(b)
    return bytes(by)


def _make_gif(px_idx, palette, interlace=False, transparent=None):
    """Assemble a single-frame GIF89a from an index raster + RGB palette."""
    import struct as _s

    h, w = len(px_idx), len(px_idx[0])
    n = max(2, (len(palette) - 1).bit_length())
    gct_flag = 0x80 | (n - 1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", w, h, gct_flag, 0, 0)
    for i in range(1 << n):
        rgb = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes(rgb)
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    iflags = 0x40 if interlace else 0
    out += bytes([0x2C]) + _s.pack("<HHHHB", 0, 0, w, h, iflags)
    flat = [p for row in px_idx for p in row]
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        flat = [p for y in order for p in px_idx[y]]
    min_code = max(2, n)
    data = _gif_lzw_encode(flat, min_code)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_gif_decode_golden():
    """Hand-assembled 4x3 GIF with a known palette: exact means."""
    from radar_output_restructure_spark.operators.multimodal import (
        decode_gif,
        decode_image,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    px = [[0, 1, 2, 3], [3, 2, 1, 0], [0, 0, 1, 1]]
    gif = _make_gif(px, palette)
    meta = decode_gif(gif)
    assert (meta["width"], meta["height"]) == (4, 3)
    import numpy as np

    expect = np.array([palette[i] for row in px for i in row]).mean(axis=0)
    got = (meta["mean_r"], meta["mean_g"], meta["mean_b"])
    assert np.allclose(got, expect, atol=1e-5)
    assert decode_image(gif)["width"] == 4  # magic dispatch


def test_gif_decode_lzw_roundtrip_large():
    """A 31x17 pseudo-random raster stresses real dictionary growth (code
    width increases past min_code_size+1) and multi-sub-block packing."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_gif

    rng = np.random.RandomState(3)
    palette = [tuple(int(v) for v in rng.randint(0, 256, 3)) for _ in range(16)]
    px = rng.randint(0, 16, size=(17, 31)).tolist()
    meta = decode_gif(_make_gif(px, palette))
    expect = np.array([palette[i] for row in px for i in row]).mean(axis=0)
    assert (meta["width"], meta["height"]) == (31, 17)
    assert np.allclose(
        (meta["mean_r"], meta["mean_g"], meta["mean_b"]), expect, atol=1e-5
    )


def test_gif_decode_interlaced_and_transparent():
    """Adam-style 4-pass interlacing de-weaves, and the transparency index
    is excluded from the channel means (GIF89a graphic control)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_gif

    palette = [(200, 0, 0), (0, 200, 0), (0, 0, 200), (50, 50, 50)]
    rng = np.random.RandomState(11)
    px = rng.randint(0, 4, size=(10, 6)).tolist()
    plain = decode_gif(_make_gif(px, palette))
    woven = decode_gif(_make_gif(px, palette, interlace=True))
    assert (
        woven["mean_r"],
        woven["mean_g"],
        woven["mean_b"],
    ) == (plain["mean_r"], plain["mean_g"], plain["mean_b"])

    trans = decode_gif(_make_gif(px, palette, transparent=3))
    flat = [palette[i] for row in px for i in row if i != 3]
    expect = np.array(flat).mean(axis=0)
    assert np.allclose(
        (trans["mean_r"], trans["mean_g"], trans["mean_b"]), expect, atol=1e-5
    )


# --- JPEG fixtures: a real baseline encoder so decode round-trips are
# genuine (forward DCT + quantize + canonical Huffman, T.81 annex K tables)

_JPEG_STD_LUM_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_encode_codes(bits, vals):
    """(symbol -> (code, length)) canonical assignment, mirror of C.2."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.bits += 1
            if self.bits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.bits = 0

    def flush(self):
        while self.bits:  # pad with 1s per T.81
            self.write(1, 1)


def _make_jpeg_gray(px):
    """Encode an HxW uint8 grayscale image as a baseline JPEG (one
    component, standard luminance quant + Huffman tables)."""
    import math as _m
    import struct as _s

    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        JPEG_ZIGZAG,
    )

    h, w = px.shape
    c = np.zeros((8, 8))
    for u in range(8):
        a = _m.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * _m.cos((2 * x + 1) * u * _m.pi / 16)
    q = np.array(_JPEG_STD_LUM_Q, dtype=np.float64)
    dc_codes = _jpeg_encode_codes(_DC_BITS, _DC_VALS)
    ac_codes = _jpeg_encode_codes(_AC_BITS, _AC_VALS)

    bw = _JpegBitWriter()
    pred = 0
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    padded = np.pad(px.astype(np.float64), ((0, ph - h), (0, pw - w)), "edge")
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = padded[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coeffs = c @ block @ c.T  # forward DCT
            zz = coeffs.flat[JPEG_ZIGZAG]
            qz = np.round(zz / q).astype(int)

            def cat(v):
                return 0 if v == 0 else int(abs(v)).bit_length()

            def raw_bits(v, t):
                return v if v >= 0 else v + (1 << t) - 1

            diff = int(qz[0]) - pred
            pred = int(qz[0])
            t = cat(diff)
            bw.write(*dc_codes[t])
            if t:
                bw.write(raw_bits(diff, t), t)
            run = 0
            for k in range(1, 64):
                v = int(qz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*ac_codes[0xF0])  # ZRL
                    run -= 16
                t = cat(v)
                bw.write(*ac_codes[(run << 4) | t])
                bw.write(raw_bits(v, t), t)
                run = 0
            if run:
                bw.write(*ac_codes[0x00])  # EOB
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + _s.pack(">H", 67) + bytes([0]) + bytes(
        _JPEG_STD_LUM_Q
    )
    out += b"\xff\xc0" + _s.pack(">HBHHB", 11, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + _s.pack(">H", 19 + len(vals)) + bytes(
            [tc << 4]
        ) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + _s.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def test_jpeg_decode_roundtrip_gray():
    """Encode a smooth grayscale gradient with a REAL baseline encoder
    (forward DCT + annex-K tables), decode with the operator: dimensions
    exact, mean luma within quantization error, and a flat block decodes
    near-exactly (DC-only path)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:21]
    px = ((yy * 5 + xx * 3) % 200 + 20).astype(np.uint8)
    jpg = _make_jpeg_gray(px)
    meta = decode_jpeg(jpg)
    assert (meta["width"], meta["height"]) == (21, 24)
    assert abs(meta["mean_r"] - float(px.mean())) < 3.0  # quantization error
    assert meta["mean_r"] == meta["mean_g"] == meta["mean_b"]
    assert decode_image(jpg)["width"] == 21  # magic dispatch

    # DC-only flat block: (77-128)*8/16 = -25.5 quantizes to -26, which
    # decodes to exactly 76 — one DC quantization step from the source
    flat = np.full((8, 8), 77, dtype=np.uint8)
    m2 = decode_jpeg(_make_jpeg_gray(flat))
    assert m2["mean_r"] == 76.0
    exact = np.full((8, 8), 80, dtype=np.uint8)  # (80-128)*8/16 = -24 exact
    assert decode_jpeg(_make_jpeg_gray(exact))["mean_r"] == 80.0


def test_jpeg_decode_textured_blocks():
    """A high-frequency checkerboard exercises the AC run-length path (ZRL,
    EOB, multi-category coefficients)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    rng = np.random.RandomState(5)
    base = np.indices((16, 16)).sum(axis=0) % 2 * 180 + 30
    noise = rng.randint(-20, 21, size=(16, 16))
    px = np.clip(base + noise, 0, 255).astype(np.uint8)
    meta = decode_jpeg(_make_jpeg_gray(px))
    assert (meta["width"], meta["height"]) == (16, 16)
    # heavy quantization on a checkerboard still keeps the mean close
    assert abs(meta["mean_r"] - float(px.mean())) < 8.0


def test_jpeg_progressive_rejected():
    import pytest as _pytest

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    # SOI + SOF2 header: progressive must raise, not mis-decode
    payload = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with _pytest.raises(NotImplementedError, match="SOF0"):
        decode_jpeg(payload)


def _make_jpeg_color(rgb, subsample=False):
    """Encode an HxWx3 uint8 RGB image as baseline JPEG — 4:4:4, or 4:2:0
    when `subsample` (4 luma + 2 chroma blocks per MCU, chroma = 2x2 box
    mean). One shared quant/Huffman table set for all components."""
    import math as _m
    import struct as _s

    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        JPEG_ZIGZAG,
    )

    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    c = np.zeros((8, 8))
    for u in range(8):
        a = _m.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * _m.cos((2 * x + 1) * u * _m.pi / 16)
    q = np.array(_JPEG_STD_LUM_Q, dtype=np.float64)
    dc_codes = _jpeg_encode_codes(_DC_BITS, _DC_VALS)
    ac_codes = _jpeg_encode_codes(_AC_BITS, _AC_VALS)
    bw = _JpegBitWriter()
    pred = {0: 0, 1: 0, 2: 0}

    def pad_to(plane, bh, bw_):
        ph = (plane.shape[0] + bh - 1) // bh * bh
        pw = (plane.shape[1] + bw_ - 1) // bw_ * bw_
        return np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            "edge",
        )

    def emit_block(plane, y0, x0, comp):
        block = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
        qz = np.round((c @ block @ c.T).flat[JPEG_ZIGZAG] / q).astype(int)

        def cat(v):
            return 0 if v == 0 else int(abs(v)).bit_length()

        def raw(v, t):
            return v if v >= 0 else v + (1 << t) - 1

        diff = int(qz[0]) - pred[comp]
        pred[comp] = int(qz[0])
        t = cat(diff)
        bw.write(*dc_codes[t])
        if t:
            bw.write(raw(diff, t), t)
        run = 0
        for k in range(1, 64):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.write(*ac_codes[0xF0])
                run -= 16
            t = cat(v)
            bw.write(*ac_codes[(run << 4) | t])
            bw.write(raw(v, t), t)
            run = 0
        if run:
            bw.write(*ac_codes[0x00])

    if subsample:  # 4:2:0
        mcu = 16
        yp = pad_to(y, 16, 16)
        cbs = pad_to(cb, 16, 16).reshape(-1, 2, yp.shape[1] // 2, 2).mean((1, 3))
        crs = pad_to(cr, 16, 16).reshape(-1, 2, yp.shape[1] // 2, 2).mean((1, 3))
        for my in range(0, yp.shape[0], mcu):
            for mx in range(0, yp.shape[1], mcu):
                for by in (0, 8):
                    for bx in (0, 8):
                        emit_block(yp, my + by, mx + bx, 0)
                emit_block(cbs, my // 2, mx // 2, 1)
                emit_block(crs, my // 2, mx // 2, 2)
        samp = [0x22, 0x11, 0x11]
    else:  # 4:4:4
        yp, cbs, crs = pad_to(y, 8, 8), pad_to(cb, 8, 8), pad_to(cr, 8, 8)
        for my in range(0, yp.shape[0], 8):
            for mx in range(0, yp.shape[1], 8):
                emit_block(yp, my, mx, 0)
                emit_block(cbs, my, mx, 1)
                emit_block(crs, my, mx, 2)
        samp = [0x11, 0x11, 0x11]
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _s.pack(">H", 67) + bytes([0]) + bytes(_JPEG_STD_LUM_Q)
    sof = _s.pack(">HBHHB", 17, 8, h, w, 3)
    for i in range(3):
        sof += bytes([i + 1, samp[i], 0])
    out += b"\xff\xc0" + sof
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + _s.pack(">H", 19 + len(vals)) + bytes(
            [tc << 4]
        ) + bytes(bits) + bytes(vals)
    sos = _s.pack(">HB", 12, 3)
    for i in range(3):
        sos += bytes([i + 1, 0x00])
    out += b"\xff\xda" + sos + bytes([0, 63, 0])
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_color_444_and_420():
    """Color round-trip through both common sampling layouts: channel means
    within quantization error of the source, 4:2:0 within a bit more (the
    2x2 chroma box filter)."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_jpeg

    rng = np.random.RandomState(9)
    base = np.zeros((24, 20, 3))
    base[:, :, 0] = np.linspace(40, 200, 20)[None, :]
    base[:, :, 1] = np.linspace(60, 180, 24)[:, None]
    base[:, :, 2] = 90.0
    rgb = np.clip(base + rng.randint(-10, 11, base.shape), 0, 255).astype(
        np.uint8
    )
    expect = rgb.reshape(-1, 3).mean(axis=0)

    m444 = decode_jpeg(_make_jpeg_color(rgb, subsample=False))
    assert (m444["width"], m444["height"]) == (20, 24)
    got444 = np.array([m444["mean_r"], m444["mean_g"], m444["mean_b"]])
    assert np.all(np.abs(got444 - expect) < 4.0), (got444, expect)

    m420 = decode_jpeg(_make_jpeg_color(rgb, subsample=True))
    assert (m420["width"], m420["height"]) == (20, 24)
    got420 = np.array([m420["mean_r"], m420["mean_g"], m420["mean_b"]])
    assert np.all(np.abs(got420 - expect) < 6.0), (got420, expect)


# --- MP4 fixtures: hand-assembled ISO-BMFF box trees -----------------------


def _box(fourcc, payload=b"", *children):
    body = payload + b"".join(children)
    import struct as _s

    return _s.pack(">I", 8 + len(body)) + fourcc + body


def _unity_matrix():
    import struct as _s

    # The identity transform every real muxer writes: 16.16 fixed-point
    # diagonal (1.0, 1.0) with a 2.30 fixed-point 1.0 in the w slot.
    return _s.pack(
        ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )


def _make_tkhd(w, h, version=0):
    """Spec-exact ISO 14496-12 tkhd payload: FullBox(4) + creation/
    modification/track_ID/reserved/duration (20 v0, 32 v1) + 8 reserved
    + layer/alternate_group/volume/reserved (8) + matrix (36) + 16.16
    width/height."""
    import struct as _s

    times = bytes(32) if version == 1 else bytes(20)
    return _box(
        b"tkhd",
        bytes([version]) + bytes(3)  # version + flags
        + times
        + bytes(8)  # reserved[2]
        + bytes(8)  # layer, alternate_group, volume, reserved
        + _unity_matrix()
        + _s.pack(">II", w << 16, h << 16),
    )


def _make_mp4(
    duration_s=12.5,
    timescale=1000,
    tracks=(("vide", 640, 360), ("soun", 0, 0)),
    tkhd_version=0,
):
    import struct as _s

    mvhd = _box(
        b"mvhd",
        bytes(1) + bytes(3)  # version 0 + flags
        + bytes(8)  # creation/modification
        + _s.pack(">II", timescale, int(duration_s * timescale))
        + bytes(80),
    )
    traks = []
    for handler, w, h in tracks:
        tkhd = _make_tkhd(w, h, version=tkhd_version)
        hdlr = _box(b"hdlr", bytes(8) + handler.encode() + bytes(12))
        traks.append(_box(b"trak", b"", tkhd, _box(b"mdia", b"", hdlr)))
    return _box(b"ftyp", b"isom" + bytes(4) + b"isomiso2") + _box(
        b"moov", b"", mvhd, *traks
    )


def test_probe_mp4_metadata():
    from radar_output_restructure_spark.operators.multimodal import probe_mp4

    meta = probe_mp4(_make_mp4())
    assert meta == {
        "brand": "isom",
        "duration_s": 12.5,
        "n_tracks": 2,
        "width": 640,
        "height": 360,
        "has_video": True,
        "has_audio": True,
    }
    audio_only = probe_mp4(_make_mp4(duration_s=3.0, tracks=(("soun", 0, 0),)))
    assert audio_only["has_video"] is False and audio_only["has_audio"] is True
    assert audio_only["duration_s"] == 3.0 and audio_only["width"] == 0

    # Version-1 tkhd shifts width/height by the 64-bit time fields.
    v1 = probe_mp4(_make_mp4(tracks=(("vide", 1920, 1080),), tkhd_version=1))
    assert (v1["width"], v1["height"]) == (1920, 1080)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ftyp"):
        probe_mp4(b"\x00\x00\x00\x08free")


def test_video_metadata_mapinpandas(spark):
    """The Arrow-batched plumbing over real container bytes."""
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        video_metadata,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(_make_mp4(duration_s=5.0))),
            Row(
                doc_id=2,
                payload=bytearray(
                    _make_mp4(duration_s=9.0, tracks=(("vide", 1280, 720),))
                ),
            ),
        ],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in video_metadata(df).collect()}
    assert out[1].duration_s == 5.0 and out[1].width == 640
    assert out[2].width == 1280 and out[2].has_audio is False
    assert out[2].brand == "isom"


# --- resize / frame-sample operators ---------------------------------------


def test_resize_image_nn_golden():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        resize_image_nn,
    )

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = resize_image_nn(px, 2, 2)
    # index map: floor(i * 4 / 2) -> rows/cols [0, 2]
    assert small.shape == (2, 2, 3)
    assert (small == px[[0, 2]][:, [0, 2]]).all()
    big = resize_image_nn(px, 8, 8)
    assert big.shape == (8, 8, 3)
    assert (big[::2, ::2] == px).all()  # every source pixel survives


def test_encode_bmp_roundtrip():
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        _bmp_pixels,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    payload = encode_bmp(px)
    assert (_bmp_pixels(payload) == px).all()
    meta = decode_bmp(payload)
    assert (meta["width"], meta["height"]) == (7, 5)


def test_resize_images_mapinpandas(spark):
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        _bmp_pixels,
        decode_image_pixels,
        encode_bmp,
        resize_images,
    )

    # quadrant-colored 4x4 BMP: nearest-neighbor 2x2 keeps one px/quadrant
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = (255, 0, 0)
    px[:2, 2:] = (0, 255, 0)
    px[2:, :2] = (0, 0, 255)
    px[2:, 2:] = (9, 9, 9)
    df = spark.createDataFrame([Row(doc_id=1, payload=encode_bmp(px))])
    out = resize_images(df, 2, 2).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (2, 2)
    got = _bmp_pixels(bytes(out[0].payload))
    assert (got == px[[0, 2]][:, [0, 2]]).all()

    # pixel dispatch also covers PNG / GIF / JPEG payloads
    png = _make_png(
        np.array([[10, 20, 30, 40]], np.uint8).reshape(1, 4, 1), 1, [0]
    )  # 4x1 gray
    ppx = decode_image_pixels(png)
    assert ppx.shape == (1, 4, 3) and (ppx[0, 1] == 20).all()
    gif = _make_gif([[0, 1], [1, 0]], [(255, 0, 0), (0, 255, 0)])
    gpx = decode_image_pixels(gif)
    assert gpx.shape == (2, 2, 3) and tuple(gpx[0, 0]) == (255, 0, 0)


def test_audio_frame_rms(spark):
    import struct as _s
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_frame_rms,
    )

    # 1 s mono 8 kHz int16: first half amplitude A, second half 2A
    import wave as _wave
    import io as _io

    a = 8000
    samples = np.concatenate(
        [np.full(4000, a, np.int16), np.full(4000, 2 * a, np.int16)]
    )
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    df = spark.createDataFrame([Row(doc_id=1, payload=buf.getvalue())])
    rows = sorted(audio_frame_rms(df, n_frames=3, frame_s=0.1).collect(),
                  key=lambda r: r.frame)
    assert [r.frame for r in rows] == [0, 1, 2]
    lo = round(a / 32768.0, 6)
    hi = round(2 * a / 32768.0, 6)
    assert rows[0].rms == lo and rows[0].peak == lo     # all-low frame
    assert rows[2].rms == hi and rows[2].peak == hi     # all-high frame
    assert lo < rows[1].rms < hi                        # straddles the step
    assert rows[2].start_s == round((8000 - 800) / 8000, 6)


def _make_gif_multi(frames, palette, transparent=None):
    """Assemble a multi-frame GIF89a: each entry of `frames` is
    (px_idx, left, top). Reuses the single-frame builder's encoder."""
    import struct as _s

    screen_h = max(len(f[0]) + f[2] for f in frames)
    screen_w = max(len(f[0][0]) + f[1] for f in frames)
    n = max(2, (len(palette) - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", screen_w, screen_h, 0x80 | (n - 1), 0, 0)
    for i in range(1 << n):
        rgb = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes(rgb)
    for px_idx, left, top in frames:
        h, w = len(px_idx), len(px_idx[0])
        if transparent is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        out += bytes([0x2C]) + _s.pack("<HHHHB", left, top, w, h, 0)
        flat = [p for row in px_idx for p in row]
        min_code = max(2, n)
        data = _gif_lzw_encode(flat, min_code)
        out += bytes([min_code])
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])  # block terminator
    out += bytes([0x3B])
    return bytes(out)


def test_gif_frame_features(spark):
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        decode_gif,
        gif_frame_features,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (0, 0, 0)]
    frames = [
        ([[0, 0], [0, 0]], 0, 0),   # all red
        ([[1, 1], [1, 1]], 1, 1),   # all green, offset rect
        ([[2, 2], [2, 2]], 0, 0),   # all blue
    ]
    gif = _make_gif_multi(frames, palette)
    # first-frame decode must agree with the single-frame path
    assert decode_gif(gif)["mean_r"] == 255.0
    df = spark.createDataFrame([Row(doc_id=1, payload=gif)])
    rows = sorted(gif_frame_features(df).collect(), key=lambda r: r.frame)
    assert [r.frame for r in rows] == [0, 1, 2]
    assert all(r.n_frames == 3 for r in rows)
    assert (rows[0].mean_r, rows[1].mean_g, rows[2].mean_b) == (255.0, 255.0, 255.0)
    assert (rows[1].left, rows[1].top) == (1, 1)
    # max_frames sampling keeps first + last
    sampled = sorted(
        gif_frame_features(df, max_frames=2).collect(), key=lambda r: r.frame
    )
    assert [r.frame for r in sampled] == [0, 2]
    # max_frames=1 on a multi-frame GIF keeps frame 0 (the even-spacing
    # formula divides by max_frames-1; this is the guarded special case)
    one = gif_frame_features(df, max_frames=1).collect()
    assert [r.frame for r in one] == [0] and one[0].mean_r == 255.0


def test_image_dhash_and_near_dup_pairs(spark):
    """dHash is stable under small perturbation and separates distinct
    images; the band-join finds exactly the near pair."""
    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_dhash_features,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    near = base.copy()
    near[0, 0] = (near[0, 0].astype(int) + 3).clip(0, 255).astype(np.uint8)
    far = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)

    h_base, h_near, h_far = (image_dhash(p) for p in (base, near, far))
    assert bin((h_base ^ h_near) & (2**64 - 1)).count("1") <= 2
    assert bin((h_base ^ h_far) & (2**64 - 1)).count("1") > 10

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=encode_bmp(base)),
            Row(doc_id=2, payload=encode_bmp(near)),
            Row(doc_id=3, payload=encode_bmp(far)),
        ]
    )
    feats = {r.doc_id: r for r in image_dhash_features(df).collect()}
    assert feats[1].dhash == h_base and feats[1].width == 32
    pairs = image_near_dup_pairs(df, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].hamming == bin((h_base ^ h_near) & (2**64 - 1)).count("1")


def test_audio_fingerprint_and_near_dup_pairs(spark):
    """Energy-delta audio fingerprints: stable under tiny noise, far for a
    structurally different clip; band join finds the near pair."""
    import io as _io
    import wave as _wave

    import numpy as np
    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    def wav_from(samples: np.ndarray, rate: int = 8000) -> bytes:
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    rng = np.random.RandomState(7)
    t = np.arange(4000) / 8000.0
    # amplitude ramp gives monotone-varying frame energies (informative bits)
    base = (np.sin(2 * np.pi * 440 * t) * np.linspace(0.1, 0.9, 4000) * 20000)
    near = base + rng.randint(-20, 21, size=base.shape)
    far = rng.randn(4000) * 15000
    b, n, f = (wav_from(x) for x in (base, near, far))

    hb, frames, dur = audio_fingerprint(b)
    hn, _, _ = audio_fingerprint(n)
    hf, _, _ = audio_fingerprint(f)
    assert frames == 65 and dur == 500_000
    assert bin((hb ^ hn) & (2**64 - 1)).count("1") <= 4
    assert bin((hb ^ hf) & (2**64 - 1)).count("1") > 10

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=b), Row(doc_id=2, payload=n), Row(doc_id=3, payload=f)]
    )
    pairs = audio_near_dup_pairs(df, max_hamming=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_audio_fingerprint_32bit_matches_16bit():
    """The exact 32-bit copy of a 16-bit tone (every sample << 16) scales
    each frame's energy by 2^32 and so keeps every bit. A loud 32-bit
    frame's squared samples sum past 2^63: in int64 the sum wraps negative
    and the bits become noise."""
    import io as _io
    import wave as _wave

    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        audio_fingerprint,
    )

    def wav_from(samples: np.ndarray, width: int) -> bytes:
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(samples.astype(f"<i{width}").tobytes())
        return buf.getvalue()

    t = np.arange(8000) / 8000.0
    tone = (
        np.sin(2 * np.pi * 440 * t) * np.linspace(0.2, 0.9, 8000) * 32767
    ).astype(np.int64)
    h16, frames, dur = audio_fingerprint(wav_from(tone, 2))
    h32, frames32, dur32 = audio_fingerprint(wav_from(tone << 16, 4))
    assert (frames, dur) == (frames32, dur32) == (65, 1_000_000)
    assert h16 != 0
    assert h32 == h16


def test_audio_frame_starts_align_to_channel_boundaries(spark):
    """Stereo WAV: every sampled window must start on a PCM frame boundary
    (an even interleaved index), not mid-frame."""
    import io
    import struct
    import wave

    from pyspark.sql import Row

    from radar_output_restructure_spark.operators.multimodal import (
        audio_frame_rms,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(1000)
        # left channel loud, right silent: channel mixing would show up as
        # rms differing between aligned and misaligned windows
        frames = b"".join(
            struct.pack("<hh", 10000, 0) for _ in range(1003)  # odd-ish span
        )
        w.writeframes(frames)
    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(buf.getvalue()))],
        "doc_id long, payload binary",
    )
    rows = audio_frame_rms(df, n_frames=5, frame_s=0.1).collect()
    assert len(rows) == 5
    # all windows cover identical (loud, silent) frame pairs -> equal rms
    rmss = {r["rms"] for r in rows}
    assert len(rmss) == 1, f"channel-misaligned windows: {sorted(rmss)}"
    # start_s must land on whole PCM frames (multiples of 1/rate)
    for r in rows:
        assert (r["start_s"] * 1000) == int(r["start_s"] * 1000)


# ---------------------------------------------------------------------------
# Malformed-payload fuzz: truncated/garbage/NULL/zero-area
# WAV/BMP/PNG/GIF/JPEG/MP4 bytes must produce NULL features (extractors) or
# drop the payload (fingerprint/frame expanders) — NEVER crash an executor
# task.
# ---------------------------------------------------------------------------


def _zero_area_gif():
    """A GIF89a (two-color table) whose one image frame is 0x0."""
    import struct as _s

    data = _gif_lzw_encode([], 2)
    return (
        b"GIF89a"
        + _s.pack("<HHBBB", 0, 0, 0x81, 0, 0)
        + bytes(12)
        + b"\x2c"
        + _s.pack("<HHHHB", 0, 0, 0, 0, 0)
        + bytes([2, len(data)])
        + data
        + b"\x00\x3b"
    )


def _good_gif():
    import numpy as np

    idx = np.zeros((4, 4), dtype=np.uint8)
    idx[:2, :2] = 1
    return _make_gif(idx, [(255, 0, 0), (0, 255, 0)])


def _payloads(valid: bytes):
    """[(doc_id, payload)]: one valid payload + the adversarial set."""
    return [
        (0, valid),
        (1, None),
        (2, b""),
        (3, b"\x00" * 64),  # garbage
        (4, valid[: max(4, len(valid) // 3)]),  # truncated mid-structure
        (5, valid[:2] + b"\xff" * 32),  # right magic, corrupt body
        (6, _make_bmp(0, 2, (0, 0, 0))),  # a BMP header declaring width 0
        (7, _zero_area_gif()),  # a GIF whose one frame is 0x0
    ]


def _df(spark, valid: bytes):
    return spark.createDataFrame(
        _payloads(valid), "doc_id long, payload binary"
    )


def test_audio_features_malformed_yield_null_rows(spark):
    df = _df(spark, _make_wav(440.0, seconds=0.05))
    rows = {r["doc_id"]: r for r in audio_features(df).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 6, 7}, "one row per input doc, always"
    assert rows[0]["sample_rate"] == 8000
    for bad in (1, 2, 3):
        assert rows[bad]["sample_rate"] is None
        assert rows[bad]["rms"] is None


def test_image_features_malformed_yield_null_rows(spark):
    df = _df(spark, _make_bmp(3, 2, (10, 20, 30)))
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 6, 7}
    assert rows[0]["width"] == 3
    for bad in (1, 2, 3, 6, 7):
        assert rows[bad]["width"] is None


def test_video_metadata_malformed_yield_null_rows(spark):
    df = _df(spark, _make_mp4())
    rows = {r["doc_id"]: r for r in video_metadata(df).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 6, 7}
    assert rows[0]["brand"] is not None
    assert rows[3]["brand"] is None


@pytest.mark.parametrize(
    "make_valid",
    [
        lambda: _make_bmp(8, 8, (1, 2, 3)),
        lambda: _make_png(
            __import__("numpy").zeros((8, 8, 3), dtype="uint8"), 3, [0] * 8
        ),
        _good_gif,
        lambda: _make_jpeg_gray(
            __import__("numpy").full((8, 8), 128, dtype="uint8")
        ),
    ],
    ids=["bmp", "png", "gif", "jpeg"],
)
def test_image_dhash_drops_malformed(spark, make_valid):
    df = _df(spark, make_valid())
    out = image_dhash_features(df).collect()
    ids = {r["doc_id"] for r in out}
    assert 0 in ids, "the valid payload must fingerprint"
    assert ids <= {0}, f"malformed payloads leaked fingerprints: {ids}"


def test_audio_fingerprint_and_frames_drop_malformed(spark):
    df = _df(spark, _make_wav(300.0, seconds=0.05))
    fp_ids = {r["doc_id"] for r in audio_fingerprint_features(df).collect()}
    assert fp_ids == {0}
    rms_ids = {r["doc_id"] for r in audio_frame_rms(df).collect()}
    assert rms_ids == {0}


def test_gif_frames_and_resize_drop_malformed(spark):
    df = _df(spark, _good_gif())
    gif_ids = {r["doc_id"] for r in gif_frame_features(df).collect()}
    assert gif_ids == {0}
    rs_ids = {r["doc_id"] for r in resize_images(df, 4, 4).collect()}
    assert rs_ids == {0}


def test_all_malformed_batch_yields_empty_not_crash(spark):
    df = spark.createDataFrame(
        [(1, None), (2, b"junk")], "doc_id long, payload binary"
    )
    assert image_dhash_features(df).count() == 0
    assert gif_frame_features(df).count() == 0
    assert audio_fingerprint_features(df).count() == 0
    # extractors keep the rows with NULL features
    assert audio_features(df).count() == 2


def test_resize_images_rejects_an_empty_size(spark):
    df = spark.createDataFrame([], "doc_id long, payload binary")
    for w, h in ((0, 4), (4, 0), (-1, 4)):
        with pytest.raises(ValueError, match="empty size"):
            resize_images(df, w, h)


# ---------------------------------------------------------------------------
# the one batch loop: the caller's id column, keep-or-drop per family
# ---------------------------------------------------------------------------


def _raw_wav(frames: bytes, rate: int = 8000, channels: int = 1, width: int = 2):
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def _loop_cases():
    """(operator, its per-payload row function, whether a failed payload
    keeps one all-NULL row) for every entry point over the batch loop."""
    from functools import partial

    from radar_output_restructure_spark.operators import multimodal as M

    return [
        (M.audio_features, lambda b: [M.decode_wav(b)], True),
        (M.image_features, lambda b: [M.decode_image(b)], True),
        (M.video_metadata, lambda b: [M.probe_mp4(b)], True),
        (M.extract_features, lambda b: [M._byte_features(b)], True),
        (
            partial(M.resize_images, out_w=3, out_h=2),
            lambda b: M._resized_rows(b, 3, 2),
            False,
        ),
        (
            partial(M.audio_frame_rms, n_frames=3, frame_s=0.01),
            lambda b: M._audio_frame_rows(b, 3, 0.01),
            False,
        ),
        (
            partial(M.gif_frame_features, max_frames=2),
            lambda b: M._gif_frame_rows(b, 2),
            False,
        ),
        (M.image_dhash_features, M._dhash_rows, False),
        (M.audio_fingerprint_features, M._afp_rows, False),
    ]


def test_payload_operators_carry_the_id_column(spark):
    """Every payload operator emits the caller's id column under its own
    name and type, so the near-dup pair builders take id_col="id" and
    string ids."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import (
        audio_near_dup_pairs,
        encode_bmp,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    near = base.copy()
    near[0, 0] = (near[0, 0].astype(int) + 3).clip(0, 255).astype(np.uint8)
    far = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    images = spark.createDataFrame(
        [("a", encode_bmp(base)), ("b", encode_bmp(near)), ("c", encode_bmp(far))],
        "id string, payload binary",
    )
    pairs = image_near_dup_pairs(images, id_col="id").collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [("a", "b")]

    t = np.arange(4000) / 8000.0
    tone = np.sin(2 * np.pi * 440 * t) * np.linspace(0.1, 0.9, 4000) * 20000
    clips = [tone, tone + rng.randint(-20, 21, 4000), rng.randn(4000) * 15000]
    audio = spark.createDataFrame(
        [(i, _raw_wav(c.astype("<i2").tobytes())) for i, c in zip("abc", clips)],
        "id string, payload binary",
    )
    pairs = audio_near_dup_pairs(audio, id_col="id").collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [("a", "b")]

    for id_type in ("bigint", "string"):
        df = spark.createDataFrame([], f"id {id_type}, payload binary")
        for op, _rows, _keep in _loop_cases():
            field = op(df, id_col="id").schema[0]
            assert (field.name, field.dataType) == ("id", df.schema["id"].dataType)


def test_payload_loop_matches_python_model(spark):
    """Each entry point equals, keyed by id, its per-payload row function
    applied in Python: a NULL payload or one whose rows raise gives one
    all-NULL row for the extractors and none for the expanders and
    fingerprinters."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import encode_bmp

    rng = np.random.RandomState(2)
    bmp = encode_bmp(rng.randint(0, 256, (4, 5, 3)).astype(np.uint8))
    wav = _make_wav(440.0, seconds=0.05)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    payloads = [
        bmp,
        _make_png(rng.randint(0, 256, (3, 5, 1)).astype(np.uint8), 1, [4]),
        _make_gif_multi(
            [([[0, 1], [3, 2]], 0, 0), ([[1, 1]], 1, 1), ([[2, 3]], 0, 1)],
            palette,
            transparent=3,
        ),
        _make_jpeg_color(rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)),
        wav,
        _raw_wav(rng.randint(0, 256, 600).astype(np.uint8).tobytes(), 1000, 2, 1),
        _make_mp4(),
        None,
        b"",
        bmp[:40],  # truncated
        wav[:30],  # truncated
        b"\x00" * 64,  # garbage
        _make_bmp(0, 2, (0, 0, 0)),  # zero-area
    ]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    for op, rows, keep in _loop_cases():
        out = op(df)
        names = out.columns[1:]
        want = []
        for doc_id, payload in enumerate(payloads):
            try:
                got = rows(payload) if payload is not None else None
            except Exception:
                got = None
            if got is None:
                got = [dict.fromkeys(names)] if keep else []
            want += [(doc_id, *(r[c] for c in names)) for r in got]
        have = [
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in out.collect()
        ]
        assert want, op  # a valid payload of every kind derives rows
        assert sorted(have, key=repr) == sorted(want, key=repr), op
