"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a typed
metadata struct. The Spark-side plumbing — schema, Arrow batch shape,
`mapInPandas` signature, partition behavior — is real and tested. Decoding:

* WAV (RIFF PCM), uncompressed 24-bit BMP, non-interlaced 8-bit PNG
  (gray/RGB/RGBA, stdlib zlib inflate + full filter reconstruction),
  GIF87a/89a first frames (full LZW decompression with variable code
  widths and the KwKwK case, interlace de-weave, transparency-aware
  means), and BASELINE JPEG (SOF0: canonical Huffman entropy decode with
  DC prediction and restart markers, dequantize + zigzag, exact float
  IDCT, chroma upsampling for any sampling layout incl. 4:2:0,
  YCbCr->RGB) decode for REAL in pure stdlib+numpy (`decode_wav`,
  `decode_bmp`, `decode_png`, `decode_gif`, `decode_jpeg`) — audio
  duration/RMS/peak and image dimensions/brightness come from actual
  samples/pixels. Test fixtures are produced by REAL encoders written in
  the test suite (PNG forward filters, GIF dictionary-building LZW,
  JPEG forward DCT + annex-K tables), so round-trips are genuine.
* MP4/MOV containers get a METADATA probe (`probe_mp4`: ISO-BMFF box
  walk — mvhd duration, per-track tkhd dimensions + hdlr handler types)
  — the duration/resolution pass a video-curation pipeline filters on
  before any GPU touches the payload. FRAME decode, progressive JPEG
  (SOF2) and arithmetic coding raise NotImplementedError (ffmpeg/codec
  territory); the real impl drops into the same mapInPandas batch loop.
* `extract_features` computes deterministic byte-level features (length,
  md5 digest, ascii ratio) — codec-independent profiling.

Every operator over a `payload` column runs through one batch loop,
`_map_payloads`: it carries the caller's id column, runs the operator's
per-payload row function inside one error net (`_features_or_nulls`) and
builds one object-dtype frame per batch. Images reach pixels through one
magic-byte dispatch (`_image_planes`) and one channel-mean summary
(`_image_summary`); WAV reaches samples through one PCM reader
(`_wav_pcm`).

At 100 TB: binary payloads stay columnar through Arrow; mapInPandas streams
record batches (never materializes a partition), and feature extraction is
embarrassingly parallel map-only work. Batch size is controlled by
spark.sql.execution.arrow.maxRecordsPerBatch to bound executor memory.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: payload = utf-8 bytes of the text column,
    metadata = deterministic typed struct (what an image ingester would fill)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit("image/fake").alias("mime"),
        (F.length(F.col(text_col)) % 640 + 1).alias("width"),
        (F.length(F.col(text_col)) % 480 + 1).alias("height"),
    )
    return df.withColumn("payload", payload).withColumn("meta", meta)


def _wav_pcm(payload: bytes):
    """(int64 interleaved samples, sample width in bytes, sample_rate,
    channels, n_frames) of a RIFF/WAVE PCM payload: the one stdlib `wave`
    decode. 8-bit WAV is unsigned and comes back re-centred on zero."""
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        channels = w.getnchannels()
        width = w.getsampwidth()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported sample width: {width}")
    samples = np.frombuffer(raw, dtype=dtype).astype(np.int64)
    if width == 1:
        samples -= 128
    return samples, width, rate, channels, n_frames


def _wav_samples(payload: bytes):
    """(normalized float64 samples, sample_rate, channels, n_frames) of a
    RIFF/WAVE PCM payload (interleaved channels, full scale = 1.0)."""
    samples, width, rate, channels, n_frames = _wav_pcm(payload)
    return samples / float(2 ** (8 * width - 1)), rate, channels, n_frames


def _rms_peak(norm) -> dict:
    """RMS and peak amplitude of normalized samples (0.0 when empty)."""
    import numpy as np

    if not len(norm):
        return {"rms": 0.0, "peak": 0.0}
    return {
        "rms": round(float(np.sqrt((norm**2).mean())), 6),
        "peak": round(float(np.abs(norm).max()), 6),
    }


def decode_wav(payload: bytes) -> dict:
    """Decode a RIFF/WAVE PCM payload with the stdlib `wave` module: real
    sample data, no external libs. Returns rate/channels/duration plus
    RMS and peak amplitude over the (normalized) samples."""
    norm, rate, channels, n_frames = _wav_samples(payload)
    return {
        "sample_rate": rate,
        "channels": channels,
        "duration_s": round(n_frames / rate, 6) if rate else 0.0,
        **_rms_peak(norm),
    }


def _bmp_pixels(payload: bytes):
    """(h, w, 3) uint8 RGB array of an uncompressed 24-bit BMP."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    flipped = height > 0  # positive height = bottom-up storage
    h = abs(height)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : width * 3]
    px = rows.reshape(h, width, 3)[:, :, ::-1]  # BGR -> RGB
    if flipped:
        px = px[::-1]
    return px


def encode_bmp(px) -> bytes:
    """Inverse of `_bmp_pixels`: serialize an (h, w, 3) uint8 RGB array as
    an uncompressed bottom-up 24-bit BMP — the round-trippable output
    format for the resize operator (no codec dependency)."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = body.tobytes()
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    )
    return header + data


def _channel_planes(px) -> tuple:
    """The (r, g, b) (h, w) planes of an (h, w, channels) pixel array:
    grayscale (+alpha) replicates its one plane, alpha is dropped."""
    if px.shape[2] <= 2:
        return (px[:, :, 0],) * 3
    return px[:, :, 0], px[:, :, 1], px[:, :, 2]


def _image_summary(planes, mask=None) -> dict:
    """The image feature dict: dimensions plus per-channel means over the
    pixels `mask` keeps visible (GIF transparency), or over every pixel
    when there is no mask or it hides them all. A zero-area image has no
    means and raises ValueError."""
    height, width = planes[0].shape
    if not height or not width:
        raise ValueError(f"zero-area image ({width}x{height})")
    if mask is not None and mask.any():
        planes = [p[mask] for p in planes]
    r, g, b = (round(float(p.mean()), 6) for p in planes)
    return {
        "width": int(width),
        "height": int(height),
        "mean_r": r,
        "mean_g": g,
        "mean_b": b,
    }


def decode_bmp(payload: bytes) -> dict:
    """Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER) by hand: real
    pixels, no external libs. Returns dimensions and per-channel means."""
    return _image_summary(_channel_planes(_bmp_pixels(payload)))


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> samples per pixel (8-bit depth; palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_pixels(payload: bytes):
    """(h, w, channels) uint8 array of a non-interlaced 8-bit PNG (full
    scanline filter reconstruction per spec §9)."""
    import zlib

    import numpy as np

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    channels = None
    idat: list[bytes] = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise NotImplementedError(f"only 8-bit PNG supported (depth={depth})")
            if interlace != 0:
                raise NotImplementedError("interlaced (Adam7) PNG not supported")
            channels = _PNG_CHANNELS.get(color)
            if channels is None:
                raise NotImplementedError(f"unsupported PNG color type {color}")
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels  # bytes per scanline after the filter byte
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = lines[:, 0]
    # Reconstruction is inherently sequential row-to-row (Up/Average/Paeth
    # read the row above) but vectorizes across each row's pixels except the
    # left-neighbor recurrence; rows are short relative to batch size and
    # this loop is per-image inside an Arrow batch, so it stays cheap.
    out = np.empty((height, stride), dtype=np.uint8)
    bpp = channels
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        cur = lines[y, 1:].astype(np.int32)
        f = filters[y]
        if f == 0:  # None
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 1:  # Sub: per-byte-lane prefix sum mod 256
            rec = np.cumsum(cur.reshape(-1, bpp), axis=0).reshape(-1) & 0xFF
        else:  # Average (3) / Paeth (4): left-recurrence, walk the row
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                if f == 3:
                    rec[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                elif f == 4:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (cur[x] + pred) & 0xFF
                else:
                    raise ValueError(f"invalid PNG filter type {f}")
        out[y] = rec
        prev = rec
    return out.reshape(height, width, channels)


def decode_png(payload: bytes) -> dict:
    """Decode a non-interlaced 8-bit PNG (grayscale / gray+alpha / RGB /
    RGBA) in pure stdlib+numpy: chunk walk, zlib inflate of the IDAT
    stream, then full scanline filter reconstruction (None/Sub/Up/Average/
    Paeth per the PNG spec §9). Returns the same feature dict as
    `decode_bmp`; alpha is ignored for the channel means and grayscale
    replicates into all three."""
    return _image_summary(_channel_planes(_png_pixels(payload)))


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-flavor LZW (spec appendix F): variable code width starting at
    min_code_size+1, clear/end codes, dictionary grows to 12 bits."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = bits = pos = 0
    n = len(data)
    while True:
        while bits < code_size:
            if pos >= n:
                return out  # missing end code: tolerate truncated streams
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


def _gif_frames(payload: bytes):
    """Yield EVERY frame of a GIF87a/89a as
    (rgb (h, w, 3) uint8, mask (h, w) bool, left, top): the full block
    walk — logical screen descriptor, global/local color tables, per-frame
    graphic-control transparency (a GCE applies to the next image only),
    LZW decompression, interlace de-weave. Frames are yielded as their own
    rects (left/top offsets preserved); animation compositing/disposal is
    the caller's business."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    flags = payload[10]
    gct_size = 2 << (flags & 0x07)
    pos = 13
    gct = None
    if flags & 0x80:
        gct = np.frombuffer(payload, np.uint8, gct_size * 3, pos).reshape(-1, 3)
        pos += gct_size * 3
    transparent = None
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:  # extension block
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control: transparency index
                size = payload[pos]
                if size >= 4 and payload[pos + 1] & 0x01:
                    transparent = payload[pos + 4]
            while payload[pos]:  # sub-blocks until terminator
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            left, top, width, height = struct.unpack_from("<HHHH", payload, pos + 1)
            iflags = payload[pos + 9]
            pos += 10
            table = gct
            if iflags & 0x80:  # local color table
                lct_size = 2 << (iflags & 0x07)
                table = np.frombuffer(
                    payload, np.uint8, lct_size * 3, pos
                ).reshape(-1, 3)
                pos += lct_size * 3
            if table is None:
                raise ValueError("GIF frame has no color table")
            min_code = payload[pos]
            pos += 1
            chunks = []
            while payload[pos]:
                size = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + size])
                pos += 1 + size
            pos += 1  # block terminator
            idx = _gif_lzw_decode(b"".join(chunks), min_code)
            if len(idx) < width * height:
                raise ValueError("GIF pixel data shorter than frame")
            px = np.array(idx[: width * height], dtype=np.int32).reshape(
                height, width
            )
            if iflags & 0x40:  # interlaced: de-weave the 4 passes
                order = np.concatenate(
                    [
                        np.arange(0, height, 8),
                        np.arange(4, height, 8),
                        np.arange(2, height, 4),
                        np.arange(1, height, 2),
                    ]
                )
                de = np.empty_like(px)
                de[order] = px
                px = de
            rgb = table[px]  # (h, w, 3)
            mask = (
                px != transparent
                if transparent is not None
                else np.ones_like(px, dtype=bool)
            )
            yield rgb, mask, int(left), int(top)
            transparent = None  # a GCE governs only the image it precedes
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")


def _first_gif_frame(payload: bytes):
    """(planes, transparency mask) of the first frame of a GIF."""
    for rgb, mask, _left, _top in _gif_frames(payload):
        return _channel_planes(rgb), mask
    raise ValueError("GIF contains no image frame")


def decode_gif(payload: bytes) -> dict:
    """Decode the FIRST frame of a GIF87a/89a by hand: logical screen
    descriptor, global/local color table, full LZW decompression of the
    image data (variable-width codes, clear/end handling, the KwKwK case),
    interlace de-weave, transparency-aware channel means. Pure
    stdlib+numpy — same feature dict as `decode_bmp`/`decode_png`."""
    return _image_summary(*_first_gif_frame(payload))


def _image_planes(payload: bytes):
    """(planes, mask) of the first image of a payload, dispatched on magic
    bytes: the (r, g, b) planes (uint8; float64 for JPEG, its clipped IDCT
    output) and the GIF transparency mask (None for the other formats).
    BMP, PNG, GIF and baseline JPEG decode; anything else (video
    containers) raises NotImplementedError."""
    if payload[:2] == b"BM":
        return _channel_planes(_bmp_pixels(payload)), None
    if payload[:8] == PNG_MAGIC:
        return _channel_planes(_png_pixels(payload)), None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _first_gif_frame(payload)
    if payload[:2] == b"\xff\xd8":
        return _jpeg_planes(payload), None
    raise NotImplementedError(
        "video/container decoding requires ffmpeg (not in container); "
        "BMP, PNG, GIF, baseline JPEG and WAV decode natively"
    )


def decode_image(payload: bytes) -> dict:
    """Dispatch on magic bytes. BMP, PNG, GIF and baseline JPEG decode for
    real in pure stdlib+numpy; anything else (video containers, progressive
    JPEG) raises NotImplementedError — the real implementation slots into
    the same mapInPandas batch loop."""
    return _image_summary(*_image_planes(payload))


def _features_or_nulls(rows, payload, failed: list[dict]) -> list[dict]:
    """Malformed-payload policy: a corrupt/truncated/NULL payload must
    never crash an executor task. `rows` (decode AND derive) runs inside
    the net; a NULL payload or any exception gives `failed` instead. Feature
    EXTRACTORS pass one all-NULL row (accounting preserves one row per
    input doc); fingerprint / frame-expansion operators pass none and DROP
    the payload (a NULL dedup key or half-decoded frame row is meaningless
    downstream). `except Exception` is the right net here: the pure-Python
    decoders raise typed ValueError/NotImplementedError on unsupported
    formats, but TRUNCATION can surface as struct.error, zlib.error,
    EOFError or IndexError from any depth of a codec."""
    if payload is None:
        return failed
    try:
        return rows(bytes(payload))
    except Exception:
        return failed


def _map_payloads(
    df: DataFrame, id_col: str, fields: str, rows, keep_failed: bool
) -> DataFrame:
    """The one Arrow batch loop of every payload operator: select
    (`id_col`, `payload`), map each payload to its rows with
    `rows(payload) -> [feature dict, ...]` under `_features_or_nulls`, and
    emit (`id_col`, *`fields`) with the id column's own name and type.
    `keep_failed` is the operator family's policy: extractors keep a
    failed payload as one all-NULL row, expanders and fingerprinters drop
    it. Columns are dtype=object: default inference would coerce a
    nullable int column (None + ints) to float64, which Arrow then refuses
    (or rounds) casting back to the declared int/long output schema."""
    names = [f.split()[0] for f in fields.split(",")]
    failed = [dict.fromkeys(names)] if keep_failed else []

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue  # empty batch -> column-less frame -> Arrow error
            ids, out = [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                got = _features_or_nulls(rows, payload, failed)
                ids += [doc_id] * len(got)
                out += got
            if out:
                data = {id_col: pd.Series(ids, dtype=object)}
                for c in names:
                    data[c] = pd.Series([r.get(c) for r in out], dtype=object)
                yield pd.DataFrame(data)

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, "payload").mapInPandas(
        batches, f"`{id_col}` {id_type}, {fields}"
    )


#: output columns after the caller's id column, per operator
AUDIO_FEATURE_SCHEMA = (
    "sample_rate int, channels int, duration_s double, rms double, "
    "peak double"
)
IMAGE_FEATURE_SCHEMA = (
    "width int, height int, mean_r double, mean_g double, mean_b double"
)


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched WAV feature extraction (real sample decoding).
    Undecodable payloads yield NULL features, never task crashes."""
    return _map_payloads(
        df, id_col, AUDIO_FEATURE_SCHEMA, lambda b: [decode_wav(b)], True
    )


def image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched image feature extraction (real pixel decoding of BMP,
    PNG, GIF and baseline JPEG via `decode_image`). Undecodable payloads
    yield NULL features, never task crashes."""
    return _map_payloads(
        df, id_col, IMAGE_FEATURE_SCHEMA, lambda b: [decode_image(b)], True
    )


FEATURE_SCHEMA = "n_bytes long, digest string, ascii_ratio double"


def _byte_features(payload: bytes) -> dict:
    """Length, md5 digest and share of ASCII bytes of one payload."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    return {
        "n_bytes": len(payload),
        "digest": hashlib.md5(payload).hexdigest(),
        "ascii_ratio": round(float((arr < 128).mean()), 6) if len(arr) else 0.0,
    }


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched; one pass, no shuffle. The feature set is a deterministic
    stand-in for embedding/EXIF extraction. NULL payloads (e.g.
    encode(NULL text)) give NULL features.
    """
    return _map_payloads(
        df, id_col, FEATURE_SCHEMA, lambda b: [_byte_features(b)], True
    )


# --- baseline JPEG (ITU T.81 sequential DCT, Huffman) ----------------------

#: zigzag order: zigzag_index[i] = raster position of the i-th scanned coeff
JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    """The 8-point DCT-III basis C with C[u, x] = a(u) cos((2x+1)u pi/16):
    block = C.T @ coeffs @ C inverts the forward DCT exactly (float64)."""
    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        a = math.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * math.cos((2 * x + 1) * u * math.pi / 16)
    return c


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.bits = 0

    def _fill(self) -> bool:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn: caller resyncs via restart()
                return False
            else:
                return False  # real marker: scan over
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.bits += 8
        return True

    def read_bit(self) -> int:
        if self.bits == 0 and not self._fill():
            return 0  # past the scan: T.81 pads with 1s; 0 ends cleanly
        self.bits -= 1
        return (self.acc >> self.bits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and realign to a byte boundary."""
        self.acc = 0
        self.bits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


def _jpeg_build_huffman(bits: list[int], values: list[int]) -> dict:
    """(length, code) -> symbol per T.81 C.2 canonical code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_decode_symbol(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t raw bits to the signed difference."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> dict:
    """Decode a BASELINE sequential JPEG (SOF0, Huffman, 8-bit) by hand:
    marker walk, canonical Huffman tables, per-MCU entropy decode with DC
    prediction and restart intervals, dequantize + zigzag de-order, exact
    float IDCT, chroma upsampling (any h/v sampling factors incl. 4:2:0),
    YCbCr->RGB (JFIF full-range). Pure stdlib+numpy. Returns the shared
    image-feature dict, its means taken over the unrounded planes.
    Progressive (SOF2) and arithmetic coding raise NotImplementedError."""
    return _image_summary(_jpeg_planes(payload))


def _jpeg_planes(payload: bytes):
    """The clipped float64 (r, g, b) planes of a baseline JPEG (see
    `decode_jpeg`): the marker walk, then `_jpeg_decode_scan`."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"only baseline JPEG (SOF0) supported, got SOF marker "
                f"0xFF{marker:02X}"
            )
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                qt[tq] = np.array(list(seg[p + 1 : p + 65]), dtype=np.float64)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                values = list(seg[p + 17 : p + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _jpeg_build_huffman(
                    bits, values
                )
                p += 17 + n
        elif marker == 0xC0:  # SOF0
            _prec, height, width, ncomp = struct.unpack_from(">BHHB", seg, 0)
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"w": width, "h": height, "comps": comps}
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = seg[0]
            scan_sel = {}
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_sel[cs] = (tables >> 4, tables & 0x0F)
            data_pos = pos + 2 + seg_len
            return _jpeg_decode_scan(
                payload, data_pos, frame, qt, huff_dc, huff_ac, scan_sel,
                restart_interval,
            )
        pos += 2 + seg_len
    raise ValueError("JPEG contains no scan")


def _jpeg_decode_scan(
    payload, data_pos, frame, qt, huff_dc, huff_ac, scan_sel,
    restart_interval,
):
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    idct = _jpeg_idct_matrix()
    zz = JPEG_ZIGZAG

    planes = {}
    for c in comps:
        planes[c["id"]] = np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
    pred = {c["id"]: 0 for c in comps}
    reader = _JpegBitReader(payload, data_pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                for cid in pred:
                    pred[cid] = 0
            mcu_count += 1
            for c in comps:
                dc_t, ac_t = scan_sel[c["id"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = np.zeros(64)
                        t = _jpeg_decode_symbol(reader, huff_dc[dc_t])
                        diff = _jpeg_extend(reader.read_bits(t), t)
                        pred[c["id"]] += diff
                        coeffs[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _jpeg_decode_symbol(reader, huff_ac[ac_t])
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coeffs[k] = _jpeg_extend(reader.read_bits(s), s)
                            k += 1
                        dq = coeffs * qt[c["tq"]]
                        block = np.zeros((8, 8))
                        block.flat[zz] = dq  # de-zigzag to raster order
                        px = idct.T @ block @ idct + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
    # upsample each component to full resolution and crop to (h, w)
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:  # grayscale
        return (np.clip(full[0], 0, 255),) * 3
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    return (
        np.clip(y + 1.402 * cr, 0, 255),
        np.clip(y - 0.344136 * cb - 0.714136 * cr, 0, 255),
        np.clip(y + 1.772 * cb, 0, 255),
    )


# --- ISO-BMFF (MP4/MOV) metadata probe -------------------------------------


def probe_mp4(payload: bytes) -> dict:
    """ffprobe-lite over the ISO base media file format: walk the box tree
    (size+fourcc headers, 64-bit largesize supported), read `mvhd` for
    timescale/duration, every `trak`'s `tkhd` for dimensions and `hdlr`
    for the handler type. Returns {duration_s, n_tracks, width, height,
    has_video, has_audio, brand}. FRAME decode stays NotImplementedError
    (codec territory); this is the metadata pass a curation pipeline runs
    to filter/bucket video corpora by duration and resolution before any
    GPU touches the payload."""

    def walk(buf, start, end):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", buf, pos)
            fourcc = buf[pos + 4 : pos + 8]
            header = 8
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack_from(">Q", buf, pos + 8)
                header = 16
            elif size == 0:  # box runs to end of enclosing scope
                size = end - pos
            if size < header or pos + size > end:
                raise ValueError("corrupt ISO-BMFF box structure")
            yield fourcc, pos + header, pos + size
            pos += size

    top = {f: (a, b) for f, a, b in walk(payload, 0, len(payload))}
    if b"ftyp" not in top:
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    brand = payload[top[b"ftyp"][0] : top[b"ftyp"][0] + 4].decode(
        "ascii", "replace"
    )
    if b"moov" not in top:
        raise ValueError("ISO-BMFF payload has no moov box")

    duration_s = 0.0
    n_tracks = 0
    width = height = 0
    has_video = has_audio = False
    moov_a, moov_b = top[b"moov"]
    for fourcc, a, b in walk(payload, moov_a, moov_b):
        if fourcc == b"mvhd":
            version = payload[a]
            if version == 1:
                timescale, duration = struct.unpack_from(">IQ", payload, a + 20)
            else:
                timescale, duration = struct.unpack_from(">II", payload, a + 12)
            duration_s = round(duration / timescale, 6) if timescale else 0.0
        elif fourcc == b"trak":
            n_tracks += 1
            tw = th = 0
            handler = b""
            for f2, a2, b2 in walk(payload, a, b):
                if f2 == b"tkhd":
                    # ISO 14496-12 tkhd layout: 4 (FullBox) + times/ids/
                    # duration (20 v0 / 32 v1) + 8 reserved + 8 layer/
                    # alternate_group/volume/reserved + 36 matrix = 76/88
                    # before the 16.16 width/height pair.
                    version = payload[a2]
                    off = a2 + (88 if version == 1 else 76)
                    w16, h16 = struct.unpack_from(">II", payload, off)
                    tw, th = w16 >> 16, h16 >> 16  # 16.16 fixed point
                elif f2 == b"mdia":
                    for f3, a3, b3 in walk(payload, a2, b2):
                        if f3 == b"hdlr":
                            handler = payload[a3 + 8 : a3 + 12]
            if handler == b"vide":
                has_video = True
                if not width:
                    width, height = tw, th
            elif handler == b"soun":
                has_audio = True
    return {
        "brand": brand,
        "duration_s": duration_s,
        "n_tracks": n_tracks,
        "width": int(width),
        "height": int(height),
        "has_video": has_video,
        "has_audio": has_audio,
    }


VIDEO_META_SCHEMA = (
    "brand string, duration_s double, n_tracks int, width int, height int, "
    "has_video boolean, has_audio boolean"
)


def video_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas video-metadata extraction over a binary `payload` column
    — the same Arrow-batched plumbing as `image_features`/`audio_features`,
    one probe per payload, no frame decode."""
    return _map_payloads(
        df, id_col, VIDEO_META_SCHEMA, lambda b: [probe_mp4(b)], True
    )


# --- resize / frame-sample operators ---------------------------------------


def decode_image_pixels(payload: bytes):
    """(h, w, 3) uint8 RGB pixels, dispatched on magic bytes — the pixel
    form of `decode_image` for operators that transform rather than
    summarize. Grayscale replicates into RGB; GIF yields its first frame's
    rect; alpha is dropped; JPEG planes round to the nearest integer."""
    import numpy as np

    planes, _mask = _image_planes(payload)
    return np.round(np.stack(planes, axis=2)).astype(np.uint8)


def resize_image_nn(px, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (h, w, 3) array: index maps are
    floor(i * src / dst) — pure integer arithmetic, so the output is
    deterministic on any platform (no filtering kernels, no float
    coordinates)."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    if h == 0 or w == 0 or out_w <= 0 or out_h <= 0:
        raise ValueError("cannot resize empty image or to empty size")
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[rows][:, cols]


RESIZED_SCHEMA = "width int, height int, payload binary"


def _resized_rows(payload: bytes, out_w: int, out_h: int) -> list[dict]:
    px = resize_image_nn(decode_image_pixels(payload), out_w, out_h)
    return [{"width": out_w, "height": out_h, "payload": encode_bmp(px)}]


def resize_images(
    df: DataFrame, out_w: int, out_h: int, id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched thumbnailing: decode (BMP/PNG/GIF/JPEG), nearest-
    neighbor resize, re-encode as uncompressed 24-bit BMP — the
    normalization pass a vision-training pipeline runs so every downstream
    consumer sees one size and one codec. Map-only at any corpus size; the
    output column is `binary` and round-trips through `decode_bmp`. An
    undecodable or zero-area image produces no row; a non-positive output
    size raises ValueError here, before any job runs."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"resize to an empty size: {out_w}x{out_h}")
    return _map_payloads(
        df,
        id_col,
        RESIZED_SCHEMA,
        lambda b: _resized_rows(b, out_w, out_h),
        False,
    )


AUDIO_FRAME_SCHEMA = "frame int, start_s double, rms double, peak double"


def _audio_frame_rows(
    payload: bytes, n_frames: int, frame_s: float
) -> list[dict]:
    norm, rate, channels, _nf = _wav_samples(payload)
    frame_len = max(int(frame_s * rate) * channels, channels)
    n = len(norm)
    if n <= frame_len:
        starts = [0]
        frame_len = max(n, 1)
    elif n_frames == 1:
        starts = [0]
    else:
        span = n - frame_len
        # align each start DOWN to a channel boundary: an odd
        # interleaved-sample index on a stereo payload would begin the
        # window mid-PCM-frame, mixing channel offsets and putting start_s
        # between frames
        starts = [
            ((i * span) // (n_frames - 1)) // channels * channels
            for i in range(n_frames)
        ]
    return [
        {
            "frame": fi,
            "start_s": round(s / (rate * channels), 6) if rate else 0.0,
            **_rms_peak(norm[s : s + frame_len]),
        }
        for fi, s in enumerate(starts)
    ]


def audio_frame_rms(
    df: DataFrame,
    n_frames: int = 4,
    frame_s: float = 0.1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched audio frame sampling: `n_frames` evenly spaced windows
    of `frame_s` seconds per WAV payload, each reduced to RMS + peak — the
    fixed-cost acoustic profile a curation pipeline computes instead of
    shipping whole waveforms downstream. Frame starts are integer sample
    indices floor(i * (n - len) / (n_frames - 1)), so the sampling grid is
    deterministic; a payload shorter than one frame yields its single
    whole-signal frame. An undecodable WAV contributes no rows."""
    return _map_payloads(
        df,
        id_col,
        AUDIO_FRAME_SCHEMA,
        lambda b: _audio_frame_rows(b, n_frames, frame_s),
        False,
    )


GIF_FRAME_SCHEMA = (
    "frame int, n_frames int, left int, top int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def _gif_frame_rows(payload: bytes, max_frames: int) -> list[dict]:
    frames = list(_gif_frames(payload))
    total = len(frames)
    if total <= max_frames:
        keep = range(total)
    elif max_frames == 1:
        # single-frame sample: the even-spacing formula divides by
        # (max_frames - 1); keep frame 0, the same convention as
        # audio_frame_rms's n_frames == 1
        keep = [0]
    else:  # evenly spaced keep-set
        keep = sorted(
            {(i * (total - 1)) // (max_frames - 1) for i in range(max_frames)}
        )
    rows = []
    for fi in keep:
        rgb, mask, left, top = frames[fi]
        rows.append(
            {
                "frame": fi,
                "n_frames": total,
                "left": left,
                "top": top,
                **_image_summary(_channel_planes(rgb), mask),
            }
        )
    return rows


def gif_frame_features(
    df: DataFrame, max_frames: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched animated-GIF frame sampling: decode EVERY frame
    (`_gif_frames` walks the whole block stream), keep `max_frames` evenly
    spaced ones, and reduce each to its rect geometry + transparency-aware
    channel means — real frame-sampling over a real multi-frame container,
    the shape a video pipeline uses once a codec is available (MP4 frame
    decode stays NotImplementedError by documented design; `probe_mp4`
    covers its metadata). An undecodable GIF contributes no rows."""
    return _map_payloads(
        df,
        id_col,
        GIF_FRAME_SCHEMA,
        lambda b: _gif_frame_rows(b, max_frames),
        False,
    )


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash) + near-duplicate pairs
# ---------------------------------------------------------------------------

DHASH_SCHEMA = "dhash long, width int, height int"


def image_dhash(px) -> int:
    """64-bit difference hash of an (h, w, 3) uint8 RGB array: integer
    luma (299r + 587g + 114b — the Rec.601 weights scaled x1000, no float
    anywhere), nearest-neighbor resample to 9x8, then bit i*8+j set when
    gray[i][j] < gray[i][j+1]. Every step is integer arithmetic on
    deterministic indices, so the hash is platform-stable — the property
    that lets two pipeline runs dedup against each other's hashes."""
    import numpy as np

    g = (
        px[:, :, 0].astype(np.int64) * 299
        + px[:, :, 1].astype(np.int64) * 587
        + px[:, :, 2].astype(np.int64) * 114
    )
    small = resize_image_nn(g[:, :, None], 9, 8)[:, :, 0]
    bits = (small[:, :-1] < small[:, 1:]).astype(np.uint64).ravel()
    h = np.uint64(0)
    for i, b in enumerate(bits):
        h |= np.uint64(b) << np.uint64(i)
    return int(h.astype(np.int64))  # two's-complement into Spark LONG


def _dhash_rows(payload: bytes) -> list[dict]:
    px = decode_image_pixels(payload)
    return [
        {"dhash": image_dhash(px), "width": px.shape[1], "height": px.shape[0]}
    ]


def image_dhash_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, dhash, width, height): Arrow-batched perceptual hashing of
    a binary image column (BMP/PNG/GIF/baseline-JPEG via
    `decode_image_pixels`). Map-only at any corpus size; the hash is the
    dedup key image pipelines band-join downstream
    (`image_near_dup_pairs`). An undecodable or zero-area image leaves the
    fingerprint frame: a NULL dhash would band-join on garbage keys."""
    return _map_payloads(df, id_col, DHASH_SCHEMA, _dhash_rows, False)


def image_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    bands: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate IMAGES — dHash fingerprints
    band-joined with exact pigeonhole recall (bands > max_hamming over 64
    bits), the visual analog of SimHash text dedup. The corpus never
    all-pairs: candidates share a (band, value) bucket, verification is
    one integer popcount (operators/dedup_scale.fingerprint_near_dup_pairs).
    """
    from radar_output_restructure_spark.operators.dedup_scale import (
        fingerprint_near_dup_pairs,
    )

    fp = image_dhash_features(df, id_col).select(id_col, "dhash")
    return fingerprint_near_dup_pairs(
        fp, "dhash", id_col, bits=64, bands=bands, max_hamming=max_hamming
    )


# ---------------------------------------------------------------------------
# audio fingerprinting (energy-delta hash) + near-duplicate pairs
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = "afp long, n_frames_total int, duration_us long"


def audio_fingerprint(payload: bytes, bits: int = 64) -> tuple[int, int, int]:
    """(fingerprint, usable_frames, duration_us) for a PCM WAV payload:
    the audio analog of `image_dhash`. Samples cut into `bits`+1 equal
    frames; bit i set when frame i+1's energy exceeds frame i's. Energy is
    a sum of squared integer sample values (no normalization, no float
    accumulation), so the hash is platform-stable. A uniform gain scales
    every frame's energy alike and so leaves the bits as they are, up to
    sample rounding and clipping; as with dHash, small level changes flip
    few bits and structural change flips many."""
    import numpy as np

    samples, width, rate, _channels, n = _wav_pcm(payload)
    n_frames = bits + 1
    total = len(samples)
    if total < n_frames:
        samples = np.pad(samples, (0, n_frames - total))
        total = n_frames
    if width == 4:
        # python ints: a frame's squared 32-bit samples sum past 2^63
        samples = samples.astype(object)
    # deterministic equal cut points (the same floor-map as resize_image_nn)
    edges = (np.arange(n_frames + 1, dtype=np.int64) * total) // n_frames
    energy = [
        int((samples[edges[i] : edges[i + 1]] ** 2).sum()) for i in range(n_frames)
    ]
    h = 0
    for i in range(bits):
        if energy[i + 1] > energy[i]:
            h |= 1 << i
    if h >= 1 << 63:
        h -= 1 << 64  # two's-complement into Spark LONG
    duration_us = (n * 1_000_000) // rate if rate else 0
    return h, n_frames, duration_us


def _afp_rows(payload: bytes) -> list[dict]:
    h, nf, dur = audio_fingerprint(payload)
    return [{"afp": h, "n_frames_total": nf, "duration_us": dur}]


def audio_fingerprint_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched audio fingerprinting over a binary WAV column —
    map-only at any corpus size; the emitted hash band-joins downstream
    exactly like the image dHash. An undecodable WAV leaves the
    fingerprint frame."""
    return _map_payloads(df, id_col, AUDIO_FP_SCHEMA, _afp_rows, False)


def audio_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    bands: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate audio clips via banded
    energy-delta fingerprints — same exact-pigeonhole band join as image
    and SimHash dedup (operators/dedup_scale.fingerprint_near_dup_pairs)."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        fingerprint_near_dup_pairs,
    )

    fp = audio_fingerprint_features(df, id_col).select(id_col, "afp")
    return fingerprint_near_dup_pairs(
        fp, "afp", id_col, bits=64, bands=bands, max_hamming=max_hamming
    )
