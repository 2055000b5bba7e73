"""Multimodal column plumbing (SURVEY.md §2.11 X4): image/audio/video
as opaque ``binary`` payloads with typed metadata, processed through
Arrow-batched ``mapInPandas`` pipelines.

Two decode paths:

* ``decoder="fake"`` (default) — deterministic stand-in that exercises
  the full Spark plumbing (schema, partitioning, Arrow batch shapes,
  UDF signatures) without any codec dependency.
* ``decoder="real"`` — REAL byte-level decoders for the formats this
  container can handle with the stdlib alone: WAV (via ``wave``),
  BMP (hand-rolled BITMAPINFOHEADER parse, 24bpp uncompressed),
  PPM (P6), PNG (zlib inflate + per-scanline unfilter, 8-bit
  non-interlaced grey/RGB(A)), GIF (hand-rolled variable-width
  LZW expansion, global palette, non-interlaced), and JPEG — baseline
  sequential (full marker parse + canonical-Huffman entropy decode +
  dequant/IDCT, 1- or 3-component interleaved streams with sampling
  factors up to 2x2, including 4:2:0/4:2:2 chroma subsampling with
  box-replication upsampling) plus PROGRESSIVE grayscale (SOF2
  multi-scan coefficient accumulation: spectral-selection bands with
  EOB-run coding and DC successive approximation with refinement
  bits); ITU-T T.81 with Annex K tables. Formats that genuinely
  require PIL/libvips/ffmpeg (progressive color, AC
  successive-approximation refinement, restart intervals, sampling
  factors beyond 2x2, webp, mp4, ...) raise NotImplementedError
  *inside the decode stage* — the gate is per-format, not per-path.

Scale: payloads never leave the executor that scanned them — the
mapInPandas stages are map-only (no shuffle); feature extraction
reduces each blob to a small fixed-width vector before any wide
operation. Partition sizing: keep ``maxPartitionBytes`` at/below
128 MB so a partition of blobs fits executor memory.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator
from types import MappingProxyType

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, width int, height int, format string, "
    "payload_bytes long, checksum long, brightness double"
)

_FORMATS = ("png", "jpeg", "webp")


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media corpus: each document's text bytes act
    as an opaque payload; metadata is derived from a stable hash. This
    is the ingest shape a real pipeline would get from
    ``spark.read.format("binaryFile")``."""
    h = F.abs(F.xxhash64("text"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        (h % 1920 + 16).cast("int").alias("width"),
        (h % 1080 + 16).cast("int").alias("height"),
        F.element_at(
            F.array(*[F.lit(x) for x in _FORMATS]), (h % 3 + 1).cast("int")
        ).alias("format"),
        (h % 240 + 1).cast("int").alias("n_frames"),
    )


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for an image decode + feature extraction:
    checksum and mean-byte 'brightness' play the role of decoded pixel
    statistics."""
    payloads = pdf["payload"]
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"],
            "width": pdf["width"],
            "height": pdf["height"],
            "format": pdf["format"],
            "payload_bytes": payloads.map(len).astype("int64"),
            "checksum": payloads.map(lambda b: zlib.crc32(bytes(b))).astype("int64"),
            "brightness": payloads.map(
                lambda b: (sum(bytes(b)) / len(b)) if len(b) else 0.0
            ),
        }
    )


def extract_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``decoder="fake"``: deterministic checksum/brightness stand-in.
    ``decoder="real"``: byte-level decode (``real_features``) for
    wav/bmp/ppm/png; other formats raise NotImplementedError in the
    decode stage (they need PIL/libvips/ffmpeg, absent in this
    container).
    """
    if decoder == "real":
        return real_features(media)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fake_decode_batch(pdf)

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real stdlib decoders (wav / bmp / ppm)
# ---------------------------------------------------------------------------

REAL_FEATURE_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "n_channels int, sample_rate int, n_samples long, "
    "payload_bytes long, mean_level double, peak_level double"
)

#: formats ``decoder="real"`` can decode with the stdlib alone
REAL_DECODABLE = ("wav", "bmp", "ppm", "png", "gif", "jpeg")


def _decode_wav(b: bytes) -> dict:
    """RIFF/WAVE PCM decode via the stdlib ``wave`` module: levels are
    mean/peak absolute amplitude normalized to [0, 1]."""
    with wave.open(io.BytesIO(b)) as w:
        nch, sw, sr, nf = (
            w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
        )
        raw = w.readframes(nf)
    dt = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sw)
    if dt is None:
        raise ValueError(f"unsupported WAV sample width {sw}")
    a = np.frombuffer(raw, dtype=dt).astype(np.float64)
    a = (a - 128.0) / 128.0 if sw == 1 else a / float(2 ** (8 * sw - 1))
    return {
        "width": None, "height": None, "n_channels": nch, "sample_rate": sr,
        "n_samples": nf,
        "mean_level": float(np.abs(a).mean()) if a.size else 0.0,
        "peak_level": float(np.abs(a).max()) if a.size else 0.0,
    }


def _decode_bmp(b: bytes, raster: bool = False) -> dict:
    """Uncompressed 24bpp BMP decode from a hand-parsed
    BITMAPFILEHEADER + BITMAPINFOHEADER; levels are mean/peak pixel
    byte / 255 over the actual pixels (row padding excluded).

    ``raster=True`` returns the decoded bitmap instead of the feature
    summary, as float64 in [0, 1] shape (h, w, 3) in RGB order,
    top-down (positive-height BMPs store rows bottom-up and are
    flipped; the pHash stage consumes this)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", b, 10)
    w, h = struct.unpack_from("<ii", b, 18)
    _, bpp = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24bpp BMP supported (bpp={bpp})")
    height = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        b, np.uint8, count=stride * height, offset=pixel_off
    ).reshape(height, stride)[:, : w * 3]
    px = rows.astype(np.float64) / 255.0
    if raster:
        rgb = px.reshape(height, w, 3)[:, :, ::-1]
        return rgb[::-1] if h > 0 else rgb
    return {
        "width": w, "height": height, "n_channels": 3, "sample_rate": None,
        "n_samples": w * height,
        "mean_level": float(px.mean()) if px.size else 0.0,
        "peak_level": float(px.max()) if px.size else 0.0,
    }


def _decode_ppm(b: bytes, raster: bool = False) -> dict:
    """Binary PPM (P6) decode: whitespace/comment-tolerant header parse
    then raw RGB; levels normalized by the declared maxval.

    ``raster=True`` returns the (h, w, 3) RGB float64 [0, 1] bitmap."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = fields
    if maxval > 255:
        # 16-bit P6 stores 2 big-endian bytes per sample; reading it as
        # uint8 would halve the raster and return plausible garbage
        raise ValueError(f"only 8-bit P6 PPM supported (maxval={maxval})")
    px = np.frombuffer(b, np.uint8, count=w * h * 3, offset=pos).astype(np.float64)
    px /= float(maxval)
    if raster:
        return px.reshape(h, w, 3)
    return {
        "width": w, "height": h, "n_channels": 3, "sample_rate": None,
        "n_samples": w * h,
        "mean_level": float(px.mean()) if px.size else 0.0,
        "peak_level": float(px.max()) if px.size else 0.0,
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = MappingProxyType({0: 1, 2: 3, 4: 2, 6: 4})  # grey, RGB, grey+alpha, RGBA


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters (spec §9: None/Sub/Up/
    Average/Paeth). Up/None are vectorized; Sub/Average/Paeth recur on
    the previous reconstructed byte so they run per-byte — fine for the
    fixture sizes here, and still bounded by the payload at scale."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for row in range(height):
        ft = raw[pos]
        pos += 1
        cur = np.frombuffer(raw, np.uint8, count=stride, offset=pos).astype(np.int64)
        pos += stride
        prev = out[row - 1].astype(np.int64) if row else np.zeros(stride, np.int64)
        if ft == 0:
            rec = cur
        elif ft == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth
            rec = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + up) >> 1
                else:
                    pred = _png_paeth(a, up, c)
                rec[i] = (int(cur[i]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        out[row] = rec.astype(np.uint8)
    return out


def _decode_png(b: bytes, raster: bool = False) -> dict:
    """Stdlib PNG decode — zlib inflate of the IDAT stream plus the
    per-scanline unfilter — for 8-bit greyscale/RGB/grey+alpha/RGBA,
    non-interlaced. Palette, 16-bit, and Adam7-interlaced PNGs raise
    ValueError (honest sub-gates inside the format). Levels are
    mean/peak sample byte / 255 over all channels.

    ``raster=True`` returns the float64 [0, 1] bitmap: (h, w) for
    greyscale, (h, w, 3) RGB otherwise (alpha dropped)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat = 8, bytearray()
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        kind = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if kind == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif kind == b"IDAT":
            idat += data
        elif kind == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    nch = _PNG_CHANNELS.get(ctype)
    if depth != 8 or nch is None or interlace != 0:
        raise ValueError(
            "only 8-bit non-interlaced grey/RGB(A) PNG supported "
            f"(depth={depth}, color_type={ctype}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raster size mismatch ({len(raw)} != {h} * ({stride} + 1))"
        )
    px = _png_unfilter(raw, h, stride, nch).astype(np.float64) / 255.0
    if raster:
        shaped = px.reshape(h, w, nch)
        if nch == 1:
            return shaped[:, :, 0]
        if nch == 2:  # grey + alpha -> grey
            return shaped[:, :, 0]
        return shaped[:, :, :3]  # RGB / RGBA -> RGB
    return {
        "width": w, "height": h, "n_channels": nch, "sample_rate": None,
        "n_samples": w * h,
        "mean_level": float(px.mean()) if px.size else 0.0,
        "peak_level": float(px.max()) if px.size else 0.0,
    }


def _gif_lzw_decode(data: bytes, mcs: int, n_expected: int) -> list[int]:
    """GIF variable-width LZW (spec appendix F): LSB-first bit packing,
    CLEAR resets the dictionary, width grows when the next free code
    reaches 2^width (capped at 12 bits)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out: list[int] = []
    bitpos = 0
    total_bits = len(data) * 8

    def read(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > total_bits:
            return None
        v = 0
        for i in range(width):
            if (data[bitpos >> 3] >> (bitpos & 7)) & 1:
                v |= 1 << i
            bitpos += 1
        return v

    width = mcs + 1
    table: dict[int, list[int]] = {i: [i] for i in range(clear)}
    next_code = eoi + 1
    prev: list[int] | None = None
    while len(out) < n_expected:
        code = read(width)
        if code is None:
            break
        if code == clear:
            table = {i: [i] for i in range(clear)}
            next_code, width, prev = eoi + 1, mcs + 1, None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + [prev[0]]
            else:
                raise ValueError("corrupt GIF LZW stream")
            table[next_code] = prev + [entry[0]]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = entry
    if len(out) < n_expected:
        raise ValueError(
            f"GIF raster truncated ({len(out)} of {n_expected} pixels)"
        )
    return out[:n_expected]


def _decode_gif(b: bytes, raster: bool = False) -> dict:
    """Stdlib GIF decode — header + global color table + real LZW
    expansion of the first image block — for non-interlaced GIFs using
    the global palette. Interlaced images, local color tables, and
    GIFs without a global table raise ValueError (honest sub-gates
    inside the format, like the PNG decoder's). Extensions (GCE,
    comments, application blocks) are skipped per spec."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _w, _h, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    if not (packed & 0x80):
        raise ValueError("GIF without a global color table unsupported")
    gct_n = 2 ** ((packed & 0x07) + 1)
    palette = (
        np.frombuffer(b, np.uint8, count=gct_n * 3, offset=pos)
        .reshape(gct_n, 3)
        .copy()
    )
    pos += gct_n * 3
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: label byte + data sub-blocks
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{blk:02x}")
        _left, _top, iw, ih, ipacked = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if ipacked & 0x80:
            raise ValueError("GIF local color tables unsupported")
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        mcs = b[pos]
        pos += 1
        data = bytearray()
        while b[pos] != 0:
            n = b[pos]
            data += b[pos + 1 : pos + 1 + n]
            pos += 1 + n
        idx = np.asarray(
            _gif_lzw_decode(bytes(data), mcs, iw * ih), dtype=np.int64
        )
        if idx.size and idx.max() >= gct_n:
            raise ValueError("GIF pixel index outside the global palette")
        px = palette[idx].astype(np.float64) / 255.0
        if raster:
            return px.reshape(ih, iw, 3)
        return {
            "width": iw, "height": ih, "n_channels": 3, "sample_rate": None,
            "n_samples": iw * ih,
            "mean_level": float(px.mean()) if px.size else 0.0,
            "peak_level": float(px.max()) if px.size else 0.0,
        }
    raise ValueError("GIF missing image data")




# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81, public standard) — stdlib + numpy only.
# Annex K example tables; sequential DCT, Huffman entropy coding.
# ---------------------------------------------------------------------------

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
_JPEG_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_JPEG_QUANT_LUMA.setflags(write=False)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpeg_dct_matrix() -> np.ndarray:
    C = np.zeros((8, 8))
    for k in range(8):
        a = np.sqrt(0.125) if k == 0 else np.sqrt(0.25)
        for n in range(8):
            C[k, n] = a * np.cos((2 * n + 1) * k * np.pi / 16.0)
    return C


_JPEG_C = _jpeg_dct_matrix()
_JPEG_C.setflags(write=False)


def _jpeg_huff_codes(bits: tuple, vals: tuple) -> dict:
    """Canonical Huffman (T.81 C.2): {symbol: (code, length)}."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_huff_decode_map(bits: list, vals: list) -> dict:
    """Inverse direction: {(length, code): symbol}."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


def _jpeg_quantize_block(block: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """FDCT + quantize one level-shifted 8x8 block -> 64 zigzag coeffs."""
    q = np.round((_JPEG_C @ block @ _JPEG_C.T) / qtab).astype(np.int64)
    return np.take(q, _JPEG_ZIGZAG)


def _jpeg_write_block(
    bw: "_JpegBitWriter",
    block: np.ndarray,
    qtab: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """FDCT + quantize + entropy-code one 8x8 block (level-shifted
    input); returns the new DC predictor."""
    return _jpeg_write_zz(
        bw, _jpeg_quantize_block(block, qtab), dc_codes, ac_codes, pred
    )


def _jpeg_write_zz(
    bw: "_JpegBitWriter",
    zz: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """Baseline-entropy-code one block's pre-quantized zigzag
    coefficients; returns the new DC predictor."""
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    s = _jpeg_category(diff)
    c, ln = dc_codes[s]
    bw.write(c, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        s = _jpeg_category(v)
        c, ln = ac_codes[(run << 4) | s]
        bw.write(c, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return pred


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _jpeg_tables_preamble() -> bytes:
    dqt = _jpeg_seg(
        0xDB, bytes([0]) + bytes(int(_JPEG_QUANT_LUMA[z]) for z in _JPEG_ZIGZAG)
    )
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ) + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    return dqt + dht


def _encode_jpeg_gray(pix: np.ndarray, restart_interval: int = 0) -> bytes:
    """Baseline sequential GRAYSCALE JPEG from a (h, w) uint8 array —
    the fixture-side encoder (Annex K tables, quality fixed). Edge
    padding to 8-multiples uses edge replication, the standard choice
    that keeps boundary DC values representative. With
    ``restart_interval`` > 0, a DRI segment is emitted and every
    interval MCUs the stream byte-aligns, inserts RSTn (n cycling
    0..7), and resets the DC predictor — the error-resilience layout
    real encoders produce for large frames."""
    pix = np.asarray(pix, dtype=np.uint8)
    h, w = pix.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(pix, ((0, ph - h), (0, pw - w)), mode="edge").astype(np.float64)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0
    qtab = _JPEG_QUANT_LUMA.reshape(8, 8)
    n_mcu = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                _jpeg_rst(bw, n_mcu // restart_interval - 1)
                pred = 0
            n_mcu += 1
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            pred = _jpeg_write_block(bw, block, qtab, dc_codes, ac_codes, pred)
    bw.flush()
    sof = _jpeg_seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8" + _jpeg_tables_preamble() + dri + sof + sos + bytes(bw.buf)
        + b"\xff\xd9"
    )


def _jpeg_rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BT.601 full-range forward transform — the exact inverse pair of
    the decoder's YCbCr->RGB coefficients."""
    r, g, b = (rgb[..., k].astype(np.float64) for k in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _encode_jpeg_color_420(rgb: np.ndarray, restart_interval: int = 0) -> bytes:
    """Baseline sequential YCbCr 4:2:0 JPEG from a (h, w, 3) uint8
    array — the most common real-world JPEG layout (2x2-sampled luma,
    1x1 chroma, interleaved MCUs). Chroma planes are 2x2 box-averaged;
    one quant/Huffman table pair serves all components (legal per
    T.81; quality fixed). Edge padding replicates, luma to 16-multiple
    MCU bounds and chroma to 8-multiples of its own grid. With
    ``restart_interval`` > 0, emits DRI + RSTn boundaries with DC
    predictor resets, as in the grayscale form."""
    # shared coefficient pipeline with the progressive encoder — the
    # "progressive decodes bit-identically to baseline" test contract
    # depends on both writers consuming the SAME quantized blocks
    h, w, mcux, mcuy, comp_zz = _jpeg_420_quantized_blocks(rgb)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                _jpeg_rst(bw, n_mcu // restart_interval - 1)
                preds = {1: 0, 2: 0, 3: 0}
            n_mcu += 1
            for by in range(2):  # 4 luma blocks, raster order in MCU
                for bx in range(2):
                    preds[1] = _jpeg_write_zz(
                        bw, comp_zz[1][my * 2 + by, mx * 2 + bx],
                        dc_codes, ac_codes, preds[1],
                    )
            for cid in (2, 3):  # 1 Cb + 1 Cr block
                preds[cid] = _jpeg_write_zz(
                    bw, comp_zz[cid][my, mx], dc_codes, ac_codes, preds[cid]
                )
    bw.flush()
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8" + _jpeg_tables_preamble() + dri + sof + sos + bytes(bw.buf)
        + b"\xff\xd9"
    )


def _encode_jpeg_color_420_multiscan(rgb: np.ndarray) -> bytes:
    """Baseline YCbCr 4:2:0 JPEG written as THREE single-component
    (NON-interleaved) scans — the legal T.81 A.2.2 multi-scan layout
    some encoders emit (ADVICE r7 medium: the round-7 decoder broke
    out of the marker loop at the first SOS and silently returned
    zero planes for the remaining components). Each scan rasters one
    block per MCU over the component's OWN ceil-dims grid — MCU-pad
    blocks of the interleaved lattice are NOT coded. Same coefficient
    pipeline as the interleaved writer, so decode must be
    bit-identical to it."""
    h, w, mcux, mcuy, comp_zz = _jpeg_420_quantized_blocks(rgb)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = (
        b"\xff\xd8"
        + _jpeg_tables_preamble()
        + _jpeg_seg(
            0xC0,
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
    )
    for cid in (1, 2, 3):
        bh, bww = (
            (-(-h // 8), -(-w // 8)) if cid == 1
            else (-(-h // 16), -(-w // 16))
        )
        bw = _JpegBitWriter()
        pred = 0
        for r in range(bh):
            for c in range(bww):
                pred = _jpeg_write_zz(
                    bw, comp_zz[cid][r, c], dc_codes, ac_codes, pred
                )
        bw.flush()
        out += _jpeg_seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0])) + bytes(bw.buf)
    return out + b"\xff\xd9"


def _jpeg_rst(bw: "_JpegBitWriter", n_boundary: int) -> None:
    """Byte-align and emit the RSTn marker for the given 0-based
    boundary index (n cycles 0..7)."""
    bw.flush()
    bw.buf += bytes([0xFF, 0xD0 + n_boundary % 8])


def _encode_jpeg_progressive_gray(
    pix: np.ndarray,
    ac_successive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) GRAYSCALE JPEG from a (h, w) uint8 array —
    the fixture-side encoder exercising the real multi-scan layout:

      scan 1: DC first pass, successive approximation Al=1 (DPCM over
              the arithmetically right-shifted DC coefficients);
      scan 2: DC refinement, Ah=1 -> Al=0 (one raw bit per block);
      scan 3: AC spectral band 1..5, Ah=Al=0 (EOB-run coded);
      scan 4: AC spectral band 6..63, Ah=Al=0.

    Same Annex K quant table and Huffman tables as the baseline
    encoder, so the quantized coefficients — and therefore the decoded
    pixels — are IDENTICAL to ``_encode_jpeg_gray`` of the same input
    (the round-trip equality test pins this)."""
    pix = np.asarray(pix, dtype=np.uint8)
    h, w = pix.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(pix, ((0, ph - h), (0, pw - w)), mode="edge").astype(np.float64)
    qtab = _JPEG_QUANT_LUMA.reshape(8, 8)
    blocks = []
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            q = np.round((_JPEG_C @ block @ _JPEG_C.T) / qtab).astype(np.int64)
            blocks.append(np.take(q, _JPEG_ZIGZAG))
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return _jpeg_seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    def at_boundary(n: int) -> bool:
        return bool(restart_interval and n and n % restart_interval == 0)

    # scan 1: DC first pass at Al=1 — DPCM over v >> 1 (arithmetic
    # shift, the T.81 point transform; exact for negatives)
    bw = _JpegBitWriter()
    pred = 0
    for n, zz in enumerate(blocks):
        if at_boundary(n):
            _jpeg_rst(bw, n // restart_interval - 1)
            pred = 0
        v = int(zz[0]) >> 1
        diff = v - pred
        pred = v
        s = _jpeg_category(diff)
        c, ln = dc_codes[s]
        bw.write(c, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    bw.flush()
    out = sos(0, 0, 0, 1) + bytes(bw.buf)

    # scan 2: DC refinement — bit 0 of each block's DC, one raw bit
    bw = _JpegBitWriter()
    for n, zz in enumerate(blocks):
        if at_boundary(n):
            _jpeg_rst(bw, n // restart_interval - 1)
        bw.write(int(zz[0]) & 1, 1)
    bw.flush()
    out += sos(0, 0, 1, 0) + bytes(bw.buf)

    # scans 3-4: AC spectral band FIRST passes (at Al=1 when AC
    # successive approximation is on), EOB per block (EOBRUN of 1)
    ac_al = 1 if ac_successive else 0
    for ss, se in ((1, 5), (6, 63)):
        bw = _JpegBitWriter()
        for n, zz in enumerate(blocks):
            if at_boundary(n):
                _jpeg_rst(bw, n // restart_interval - 1)
            _jpeg_ac_band_write(bw, zz, ss, se, ac_codes, al=ac_al)
        bw.flush()
        out += sos(ss, se, 0, ac_al) + bytes(bw.buf)
    if ac_successive:
        # scans 5-6: AC refinement passes (Ah=1 -> Al=0)
        for ss, se in ((1, 5), (6, 63)):
            bw = _JpegBitWriter()
            for n, zz in enumerate(blocks):
                if at_boundary(n):
                    _jpeg_rst(bw, n // restart_interval - 1)
                _jpeg_ac_refine_write(bw, zz, ss, se, 0, ac_codes)
            bw.flush()
            out += sos(ss, se, 1, 0) + bytes(bw.buf)

    sof = _jpeg_seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + _jpeg_tables_preamble() + dri + sof + out + b"\xff\xd9"


def _jpeg_420_quantized_blocks(rgb: np.ndarray):
    """Shared coefficient pipeline for the 4:2:0 encoders: pad, BT.601
    transform, 2x2 box-subsample chroma, FDCT+quantize every block.
    Returns ``(h, w, mcux, mcuy, comp_zz)`` with ``comp_zz[cid]`` a
    (block_rows, block_cols, 64) int64 array of zigzag coefficients on
    that component's own MCU-padded block grid (luma 2*mcuy x 2*mcux,
    chroma mcuy x mcux)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    y, cb, cr = _jpeg_rgb_to_ycbcr(rgb)
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    y = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
    sub = []
    for c in (cb, cr):
        c = np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge")
        sub.append(
            (c[0::2, 0::2] + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2]) / 4.0
        )
    qtab = _JPEG_QUANT_LUMA.reshape(8, 8)
    mcuy, mcux = ph // 16, pw // 16

    def grid(plane: np.ndarray) -> np.ndarray:
        br, bc = plane.shape[0] // 8, plane.shape[1] // 8
        out = np.zeros((br, bc, 64), dtype=np.int64)
        for r in range(br):
            for c in range(bc):
                out[r, c] = _jpeg_quantize_block(
                    plane[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0, qtab
                )
        return out

    comp_zz = {1: grid(y), 2: grid(sub[0]), 3: grid(sub[1])}
    return h, w, mcux, mcuy, comp_zz


def _jpeg_dc_first_write(
    bw: "_JpegBitWriter", dc: int, pred: int, dc_codes: dict, al: int
) -> int:
    """DC first-pass symbol for one block (point transform ``>> al``,
    DPCM against the shifted predictor); returns the new predictor."""
    v = dc >> al
    diff = v - pred
    s = _jpeg_category(diff)
    c, ln = dc_codes[s]
    bw.write(c, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    return v


def _jpeg_ac_band_write(
    bw: "_JpegBitWriter",
    zz: np.ndarray,
    ss: int,
    se: int,
    ac_codes: dict,
    al: int = 0,
) -> None:
    """One block's AC spectral band FIRST pass (Ah=0), EOB per block;
    ``al`` applies the T.81 point transform (magnitude ``>> al``,
    sign preserved, truncation toward zero)."""

    def pt(v: int) -> int:
        m = abs(v) >> al
        return m if v >= 0 else -m

    band = [pt(int(zz[k])) for k in range(ss, se + 1)]
    last = -1
    for idx in range(len(band) - 1, -1, -1):
        if band[idx]:
            last = idx
            break
    run = 0
    for idx in range(last + 1):
        v = band[idx]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        s = _jpeg_category(v)
        c, ln = ac_codes[(run << 4) | s]
        bw.write(c, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < len(band) - 1:
        c, ln = ac_codes[0x00]  # EOB (EOBRUN = 1)
        bw.write(c, ln)


def _jpeg_ac_refine_write(
    bw: "_JpegBitWriter",
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict,
) -> None:
    """One block's AC successive-approximation REFINEMENT scan
    (Ah = al + 1 -> Al = al), per-block EOB flush — the encoder dual of
    the decoder's correction-bit walk (T.81 G.1.2.3 / libjpeg
    encode_mcu_AC_refine): newly-significant coefficients (magnitude
    exactly 1 at this precision) emit (run, 1) + sign; coefficients
    already significant at the coarser precision contribute buffered
    correction bits flushed after the NEXT symbol, matching the order
    the decoder crosses them; everything after the last new
    coefficient folds into the EOB run."""
    mags = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    signif = [abs(int(zz[k])) >> (al + 1) for k in range(ss, se + 1)]
    signs = [int(zz[k]) >= 0 for k in range(ss, se + 1)]
    eob_idx = -1  # last NEWLY-significant position (band-relative)
    for idx in range(len(mags) - 1, -1, -1):
        if mags[idx] == 1 and signif[idx] == 0:
            eob_idx = idx
            break
    pending: list[int] = []
    run = 0
    for idx in range(len(mags)):
        if mags[idx] == 0:
            run += 1
            continue
        # ZRLs only while a newly-significant coefficient is still
        # ahead; trailing zeros fold into the EOB run
        while run > 15 and idx <= eob_idx:
            c, ln = ac_codes[0xF0]
            bw.write(c, ln)
            run -= 16
            for bit in pending:
                bw.write(bit, 1)
            pending = []
        if signif[idx]:
            # already significant: correction bit, run NOT broken
            pending.append(mags[idx] & 1)
            continue
        # newly significant at this precision: (run, 1) + sign, then
        # the buffered correction bits of coefficients crossed
        c, ln = ac_codes[(run << 4) | 1]
        bw.write(c, ln)
        bw.write(1 if signs[idx] else 0, 1)
        for bit in pending:
            bw.write(bit, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        c, ln = ac_codes[0x00]  # EOB (EOBRUN = 1), then trailing bits
        bw.write(c, ln)
        for bit in pending:
            bw.write(bit, 1)


def _encode_jpeg_progressive_color_420(
    rgb: np.ndarray,
    ac_successive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) YCbCr 4:2:0 COLOR JPEG — the full T.81
    progressive scan discipline:

      scan 1: DC first pass, INTERLEAVED over MCUs (all three
              components, per-component DPCM), Al=1;
      scan 2: DC refinement, interleaved, Ah=1 -> Al=0;
      scans 3-8: AC spectral bands 1..5 and 6..63 per component,
              NON-INTERLEAVED (T.81 requires single-component AC
              scans), each walking the component's OWN ceil-dims block
              grid — which excludes MCU padding blocks that carry no
              frame pixels.

    Same coefficient pipeline as ``_encode_jpeg_color_420``, so the
    cropped reconstruction is bit-identical to the baseline stream of
    the same image (equality-pinned in tests)."""
    h, w, mcux, mcuy, comp_zz = _jpeg_420_quantized_blocks(rgb)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def mcus():
        """(mcu_index, [(cid, block_row, block_col), ...]) in MCU order."""
        n = 0
        for my in range(mcuy):
            for mx in range(mcux):
                members = [
                    (1, my * 2 + by, mx * 2 + bx)
                    for by in range(2)
                    for bx in range(2)
                ] + [(2, my, mx), (3, my, mx)]
                yield n, members
                n += 1

    def at_boundary(n: int) -> bool:
        return bool(restart_interval and n and n % restart_interval == 0)

    # scan 1: interleaved DC first pass at Al=1
    bw = _JpegBitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for n, members in mcus():
        if at_boundary(n):
            _jpeg_rst(bw, n // restart_interval - 1)
            preds = {1: 0, 2: 0, 3: 0}
        for cid, r, c in members:
            preds[cid] = _jpeg_dc_first_write(
                bw, int(comp_zz[cid][r, c, 0]), preds[cid], dc_codes, 1
            )
    bw.flush()
    out = _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01])
    ) + bytes(bw.buf)

    # scan 2: interleaved DC refinement (Ah=1 -> Al=0), one raw bit
    bw = _JpegBitWriter()
    for n, members in mcus():
        if at_boundary(n):
            _jpeg_rst(bw, n // restart_interval - 1)
        for cid, r, c in members:
            bw.write(int(comp_zz[cid][r, c, 0]) & 1, 1)
    bw.flush()
    out += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10])
    ) + bytes(bw.buf)

    # scans 3-8: per-component non-interleaved AC bands over the
    # component's ceil-dims grid (no MCU padding blocks)
    ch, cw = -(-h // 2), -(-w // 2)  # chroma plane dims at 4:2:0
    comp_dims = {
        1: (-(-h // 8), -(-w // 8)),
        2: (-(-ch // 8), -(-cw // 8)),
        3: (-(-ch // 8), -(-cw // 8)),
    }
    ac_al = 1 if ac_successive else 0
    for cid in (1, 2, 3):
        nby, nbx = comp_dims[cid]
        for ss, se in ((1, 5), (6, 63)):
            bw = _JpegBitWriter()
            for n in range(nby * nbx):
                if at_boundary(n):
                    _jpeg_rst(bw, n // restart_interval - 1)
                _jpeg_ac_band_write(
                    bw, comp_zz[cid][n // nbx, n % nbx], ss, se,
                    ac_codes, al=ac_al,
                )
            bw.flush()
            out += _jpeg_seg(
                0xDA, bytes([1, cid, 0x00, ss, se, ac_al])
            ) + bytes(bw.buf)
    if ac_successive:
        # AC refinement passes (Ah=1 -> Al=0), per component per band
        for cid in (1, 2, 3):
            nby, nbx = comp_dims[cid]
            for ss, se in ((1, 5), (6, 63)):
                bw = _JpegBitWriter()
                for n in range(nby * nbx):
                    if at_boundary(n):
                        _jpeg_rst(bw, n // restart_interval - 1)
                    _jpeg_ac_refine_write(
                        bw, comp_zz[cid][n // nbx, n % nbx], ss, se,
                        0, ac_codes,
                    )
                bw.flush()
                out += _jpeg_seg(
                    0xDA, bytes([1, cid, 0x00, ss, se, 0x10])
                ) + bytes(bw.buf)

    sof = _jpeg_seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + _jpeg_tables_preamble() + dri + sof + out + b"\xff\xd9"


class _JpegBitReader:
    """MSB-first reader over entropy-coded bytes with 0xFF00
    unstuffing; raises on any bare marker EXCEPT at an explicit
    ``restart()`` call, which byte-aligns and consumes the RSTn."""

    def __init__(self, b: bytes, i: int) -> None:
        self.b = b
        self.i = i
        self.acc = 0
        self.n = 0

    def restart(self) -> None:
        """Consume an RSTn boundary: discard partial-byte padding,
        then eat the two marker bytes (T.81 F.2.1.3.1). A 1-padded
        byte that became 0xFF is stuffed by the writer — skip the
        FF00 pair if the previous MCU ended exactly on a byte edge
        and never pulled it in."""
        self.acc = 0
        self.n = 0
        while self.b[self.i] == 0xFF and self.b[self.i + 1] == 0x00:
            self.i += 2
        if self.b[self.i] != 0xFF or not (0xD0 <= self.b[self.i + 1] <= 0xD7):
            raise ValueError("expected RSTn at restart boundary")
        self.i += 2

    def _fill(self) -> None:
        byte = self.b[self.i]
        if byte == 0xFF:
            if self.b[self.i + 1] != 0x00:
                raise ValueError("unexpected marker in entropy data")
            self.i += 2
        else:
            self.i += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bits(self, length: int) -> int:
        while self.n < length:
            self._fill()
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_next_marker(b: bytes, i: int) -> int:
    """Scan forward to the next marker (skipping stuffed FF00 pairs and
    the encoder's byte-align padding)."""
    while i < len(b) - 1 and (b[i] != 0xFF or b[i + 1] == 0x00):
        i += 1
    return i


def _jpeg_prog_scan(
    b: bytes,
    i: int,
    grid: np.ndarray,
    nby: int,
    nbx: int,
    dc_map: dict | None,
    ac_map: dict | None,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int = 0,
) -> int:
    """Decode ONE progressive scan (single-component, non-interleaved)
    over the component's zigzag coefficient grid ``grid``
    (block_rows x block_cols x 64); the scan covers the component's
    ceil-dims sub-grid ``nby x nbx`` in raster order (MCU padding
    blocks carry no frame pixels and are never coded in
    non-interleaved scans, T.81 A.2.2). Returns the byte offset of the
    next marker.

    T.81 G.2: a DC scan (ss == 0) carries either the point-transformed
    DPCM first pass (ah == 0, values shifted left by ``al`` on
    receipt) or one raw refinement bit per block (ah > 0, OR-ed into
    bit ``al`` of the two's-complement coefficient — correct for
    negative values because the encoder's arithmetic right shift and
    this OR are exact inverses). AC scans (ss > 0) carry a spectral
    band with EOB-run coding: symbol (r, 0) with r < 15 means
    2^r - 1 + extra skipped blocks."""
    reader = _JpegBitReader(b, i)
    n_mcu = 0  # one block per MCU in a non-interleaved scan

    def boundary() -> bool:
        return bool(
            restart_interval and n_mcu and n_mcu % restart_interval == 0
        )

    if ss == 0:
        pred = 0
        for r in range(nby):
            for c in range(nbx):
                if boundary():
                    reader.restart()
                    pred = 0
                n_mcu += 1
                if ah == 0:
                    s = reader.huff(dc_map)
                    pred += _jpeg_extend(reader.bits(s), s) if s else 0
                    grid[r, c, 0] = pred << al
                else:
                    if reader.bits(1):
                        grid[r, c, 0] = int(grid[r, c, 0]) | (1 << al)
    elif ah == 0:
        eobrun = 0
        for r in range(nby):
            for c in range(nbx):
                if boundary():
                    reader.restart()
                    eobrun = 0  # EOB runs never cross a restart (T.81)
                n_mcu += 1
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = reader.huff(ac_map)
                    rr, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if rr == 15:  # ZRL: sixteen zero coefficients
                            k += 16
                            continue
                        eobrun = (1 << rr) - 1 + (reader.bits(rr) if rr else 0)
                        break
                    k += rr
                    if k > se:
                        raise ValueError("JPEG AC band run overflow")
                    grid[r, c, k] = _jpeg_extend(reader.bits(s), s) << al
                    k += 1
    else:
        # AC successive-approximation REFINEMENT (T.81 G.1.2.3 /
        # libjpeg decode_mcu_AC_refine): each symbol either makes a
        # zero-history coefficient newly significant at ±2^Al or opens
        # an EOB run; while walking, every nonzero-history coefficient
        # crossed consumes one correction bit that may set its 2^Al
        # magnitude bit (sign-preserving in two's complement).
        p1 = 1 << al

        def correct(r: int, c: int, k: int) -> None:
            v = int(grid[r, c, k])
            if reader.bits(1) and (v & p1) == 0:
                grid[r, c, k] = v + (p1 if v > 0 else -p1)

        eobrun = 0
        for r in range(nby):
            for c in range(nbx):
                if boundary():
                    reader.restart()
                    eobrun = 0
                n_mcu += 1
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = reader.huff(ac_map)
                        rr, s = rs >> 4, rs & 0xF
                        if s == 0 and rr != 15:
                            eobrun = (1 << rr) + (reader.bits(rr) if rr else 0)
                            break
                        if s == 0:  # ZRL: pass 16 zero-history slots
                            new_val, skips = 0, 15
                        else:
                            if s != 1:
                                raise ValueError(
                                    "refinement symbol with s > 1"
                                )
                            new_val = p1 if reader.bits(1) else -p1
                            skips = rr
                        while k <= se:
                            if grid[r, c, k] != 0:
                                correct(r, c, k)
                            else:
                                if skips == 0:
                                    break
                                skips -= 1
                            k += 1
                        if new_val:
                            if k > se:
                                raise ValueError("refinement placement overflow")
                            grid[r, c, k] = new_val
                        k += 1
                if eobrun:
                    # remainder of this block rides the EOB run: only
                    # correction bits for nonzero-history coefficients
                    while k <= se:
                        if grid[r, c, k] != 0:
                            correct(r, c, k)
                        k += 1
                    eobrun -= 1
    return _jpeg_next_marker(b, reader.i)


def _jpeg_prog_dc_interleaved(
    b: bytes,
    i: int,
    stores: dict,
    comps: list,
    mcux: int,
    mcuy: int,
    dc_maps: dict,
    scan: list,
    ah: int,
    al: int,
    restart_interval: int = 0,
) -> int:
    """Decode an INTERLEAVED progressive DC scan (first pass or
    refinement) — MCU walk identical to baseline, DC-only, with
    per-component DPCM state; returns the next-marker offset."""
    reader = _JpegBitReader(b, i)
    facs = {cid: (hf, vf) for cid, hf, vf, _ in comps}
    tds = {cid: td for cid, td, _ in scan}
    preds = {cid: 0 for cid, _, _ in scan}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.restart()
                preds = {cid: 0 for cid, _, _ in scan}
            n_mcu += 1
            for cid, _, _ in scan:
                hf, vf = facs[cid]
                grid = stores[cid]
                for by in range(vf):
                    for bx in range(hf):
                        r, c = my * vf + by, mx * hf + bx
                        if ah == 0:
                            s = reader.huff(dc_maps[tds[cid]])
                            preds[cid] += (
                                _jpeg_extend(reader.bits(s), s) if s else 0
                            )
                            grid[r, c, 0] = preds[cid] << al
                        else:
                            if reader.bits(1):
                                grid[r, c, 0] = int(grid[r, c, 0]) | (1 << al)
    return _jpeg_next_marker(b, reader.i)


def _jpeg_base_block(
    reader: "_JpegBitReader", dc_map: dict, ac_map: dict, pred: int
) -> tuple:
    """Decode one baseline block (DC DPCM + AC run-length, T.81 F.2.2)
    into a zigzag-ordered coefficient vector; returns (zz, new_pred)."""
    zz = np.zeros(64, dtype=np.int64)
    s = reader.huff(dc_map)
    pred += _jpeg_extend(reader.bits(s), s) if s else 0
    zz[0] = pred
    k = 1
    while k < 64:
        rs = reader.huff(ac_map)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("JPEG AC run overflow")
        zz[k] = _jpeg_extend(reader.bits(rs & 0xF), rs & 0xF)
        k += 1
    return zz, pred


def _jpeg_base_scan_interleaved(
    b: bytes,
    i: int,
    grids: dict,
    comps: list,
    mcux: int,
    mcuy: int,
    dc_maps: dict,
    ac_maps: dict,
    scan: list,
    restart_interval: int = 0,
) -> int:
    """Decode a fully-interleaved baseline scan (every frame component)
    into the per-component zigzag coefficient grids; returns the
    next-marker offset. MCU walk + per-component DC DPCM + RSTn
    handling per T.81 F.2; coefficients stay zigzag-ordered (the
    shared finish applies inverse zigzag + dequant + IDCT)."""
    reader = _JpegBitReader(b, i)
    facs = {cid: (hf, vf) for cid, hf, vf, _ in comps}
    preds = {cid: 0 for cid, _, _ in scan}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.restart()
                preds = {cid: 0 for cid, _, _ in scan}
            n_mcu += 1
            for cid, td, ta in scan:
                hf, vf = facs[cid]
                grid = grids[cid]
                for by in range(vf):
                    for bx in range(hf):
                        zz, preds[cid] = _jpeg_base_block(
                            reader, dc_maps[td], ac_maps[ta], preds[cid]
                        )
                        grid[my * vf + by, mx * hf + bx] = zz
    return _jpeg_next_marker(b, reader.i)


def _jpeg_base_scan_single(
    b: bytes,
    i: int,
    grid: np.ndarray,
    bh: int,
    bw: int,
    dc_map: dict,
    ac_map: dict,
    restart_interval: int = 0,
) -> int:
    """Decode a NON-interleaved baseline scan — T.81 A.2.2: a
    single-component scan is one block per MCU, rastered over the
    component's OWN ceil-dims block grid regardless of the SOF
    sampling factors (legal multi-scan layout some encoders emit; the
    round-7 guard missed it and silently returned zero planes —
    ADVICE r7 medium). Returns the next-marker offset."""
    reader = _JpegBitReader(b, i)
    pred = 0
    n_mcu = 0
    for r in range(bh):
        for c in range(bw):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.restart()
                pred = 0
            n_mcu += 1
            zz, pred = _jpeg_base_block(reader, dc_map, ac_map, pred)
            grid[r, c] = zz
    return _jpeg_next_marker(b, reader.i)


def _decode_jpeg(b: bytes, raster: bool = False) -> dict:
    """Baseline-sequential AND progressive (single-component) JPEG
    decode — full entropy + DCT pipeline in numpy/stdlib: marker parse
    (DQT/SOF0/SOF2/DHT/SOS, APPn/COM skipped), canonical-Huffman
    entropy decode with byte unstuffing, dequant, inverse zigzag,
    IDCT, level shift. Baseline: interleaved sampling factors up to
    2x2 per component (4:4:4 / 4:2:2 / 4:2:0) with box-replication
    chroma upsampling; 3-component streams get the BT.601 YCbCr->RGB
    transform. Progressive (SOF2): multi-scan coefficient
    accumulation — spectral selection bands with EOB-run coding plus
    DC successive approximation (first pass + refinement bits) —
    grayscale AND multi-component color streams (interleaved DC
    scans, non-interleaved per-component AC bands). The HONEST
    residual gate narrows to what genuinely needs libjpeg:
    hierarchical SOFs, sampling factors beyond 2x2, 16-bit quant
    tables (DRI/RSTn restart intervals and AC
    successive-approximation refinement both decode, in baseline and
    progressive scans alike)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    i = 2
    qt: dict = {}
    dc_maps: dict = {}
    ac_maps: dict = {}
    comps = None
    h = w = None
    scan = None
    progressive = False
    coeff_grids = None
    scanned_cids: set = set()
    restart_interval = 0
    while i < len(b) - 1:
        if b[i] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = b[i + 1]
        i += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", b, i)
        data = b[i + 2 : i + seglen]
        if marker == 0xDB:
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                for k in range(64):
                    tbl[_JPEG_ZIGZAG[k]] = data[j + 1 + k]
                qt[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker in (0xC0, 0xC1, 0xC2):
            progressive = marker == 0xC2
            _, h, w, nc = struct.unpack_from(">BHHB", data, 0)
            comps = []
            for c in range(nc):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                hfac, vfac = hv >> 4, hv & 0xF
                if not (1 <= hfac <= 2 and 1 <= vfac <= 2):
                    raise NotImplementedError(
                        "subsampled JPEG beyond 2x2 factors needs "
                        "libjpeg/PIL (not in this container)"
                    )
                comps.append((cid, hfac, vfac, tq))
            # one zigzag grid per component on its MCU-padded block
            # lattice, accumulated across all scans — baseline AND
            # progressive decode scan-by-scan into these grids (a
            # baseline frame may legally spread its components over
            # several interleaved or single-component scans, T.81
            # A.2.2/A.2.3) and share the dequant+IDCT finish.
            p_hmax = max(hf for _, hf, _, _ in comps)
            p_vmax = max(vf for _, _, vf, _ in comps)
            p_mcux = -(-w // (8 * p_hmax))
            p_mcuy = -(-h // (8 * p_vmax))
            coeff_grids = {
                cid: np.zeros(
                    (p_mcuy * vf, p_mcux * hf, 64), dtype=np.int64
                )
                for cid, hf, vf, _ in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical/arithmetic JPEG needs libjpeg/PIL"
            )
        elif marker == 0xC4:
            j = 0
            while j < len(data):
                tc, th = data[j] >> 4, data[j] & 0xF
                bits = list(data[j + 1 : j + 17])
                nv = sum(bits)
                m = _jpeg_huff_decode_map(bits, list(data[j + 17 : j + 17 + nv]))
                (dc_maps if tc == 0 else ac_maps)[th] = m
                j += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:
            if comps is None:
                # ADVICE r8: without this the branch dies on a
                # NameError (p_vmax unbound) instead of the decoder's
                # contractual diagnostic.
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            scan = []
            for c in range(ns):
                cid, tt = data[1 + 2 * c], data[2 + 2 * c]
                scan.append((cid, tt >> 4, tt & 0xF))
            scan_cids = [cid for cid, _, _ in scan]
            frame_cids = {c2 for c2, _, _, _ in comps}
            if len(set(scan_cids)) != ns or not set(scan_cids) <= frame_cids:
                # ADVICE r8: ns == len(comps) alone would let a
                # malformed stream repeating one component id decode
                # silently into the wrong grids.
                raise ValueError(
                    "JPEG scan component ids must be distinct frame "
                    f"components (scan {scan_cids}, frame "
                    f"{sorted(frame_cids)})"
                )
            i += seglen
            if not progressive:
                scanned_cids.update(cid for cid, _, _ in scan)
                if ns == 1:
                    cid, td, ta = scan[0]
                    hf, vf = next(
                        (hfc, vfc) for c2, hfc, vfc, _ in comps if c2 == cid
                    )
                    # non-interleaved scans cover the component's own
                    # ceil-dims grid, not the MCU-padded lattice
                    comp_h = -(-h * vf // p_vmax)
                    comp_w = -(-w * hf // p_hmax)
                    i = _jpeg_base_scan_single(
                        b, i, coeff_grids[cid],
                        -(-comp_h // 8), -(-comp_w // 8),
                        dc_maps[td], ac_maps[ta], restart_interval,
                    )
                elif ns == len(comps):
                    i = _jpeg_base_scan_interleaved(
                        b, i, coeff_grids, comps, p_mcux, p_mcuy,
                        dc_maps, ac_maps, scan, restart_interval,
                    )
                else:
                    raise NotImplementedError(
                        "partially-interleaved multi-component baseline "
                        "scan (1 < ns < nf) needs libjpeg/PIL"
                    )
                continue
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ahal = data[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if ns > 1:
                if ss != 0:
                    raise ValueError(
                        "interleaved progressive AC scan is illegal (T.81)"
                    )
                i = _jpeg_prog_dc_interleaved(
                    b, i, coeff_grids, comps, p_mcux, p_mcuy,
                    dc_maps, scan, ah, al, restart_interval,
                )
            else:
                cid, td, ta = scan[0]
                hf, vf = next(
                    (hfc, vfc) for c2, hfc, vfc, _ in comps if c2 == cid
                )
                # non-interleaved scans cover the component's own
                # ceil-dims grid, not the MCU-padded lattice
                comp_h = -(-h * vf // p_vmax)
                comp_w = -(-w * hf // p_hmax)
                i = _jpeg_prog_scan(
                    b, i, coeff_grids[cid],
                    -(-comp_h // 8), -(-comp_w // 8),
                    dc_maps.get(td), ac_maps.get(ta),
                    ss, se, ah, al, restart_interval,
                )
            continue
        i += seglen
    if comps is None or scan is None or h is None:
        raise ValueError("JPEG missing SOF/SOS")
    if not progressive:
        uncovered = {cid for cid, _, _, _ in comps} - scanned_cids
        if uncovered:
            # a legal stream covers every frame component in some scan;
            # returning all-zero planes for the rest would be the exact
            # silent-garbage failure ADVICE r7 flagged
            raise ValueError(
                f"baseline JPEG components {sorted(uncovered)} never "
                f"appear in any scan"
            )
    # all scans (baseline or progressive) already accumulated into the
    # coefficient grids: dequant + inverse zigzag + IDCT per block,
    # then the shared upsample/crop/transform tail. Each component's
    # plane lives at ITS OWN sampling grid (grid dims were fixed at
    # SOF from the MCU-padded lattice).
    planes = {}
    for cid, _hf, _vf, tq in comps:
        grid = coeff_grids[cid]
        qtab = qt[tq]
        plane = np.zeros((grid.shape[0] * 8, grid.shape[1] * 8))
        for r in range(grid.shape[0]):
            for c in range(grid.shape[1]):
                q = np.zeros(64, dtype=np.int64)
                np.put(q, _JPEG_ZIGZAG, grid[r, c])
                plane[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = (
                    _JPEG_C.T @ (q.reshape(8, 8) * qtab) @ _JPEG_C + 128.0
                )
        planes[cid] = plane
    return _jpeg_finish(planes, comps, p_hmax, p_vmax, h, w, raster=raster)


def _jpeg_finish(
    planes: dict, comps: list, hmax: int, vmax: int, h: int, w: int,
    raster: bool = False,
) -> dict:
    """Shared reconstruction tail for baseline and progressive decode:
    upsample subsampled planes to full resolution by sample
    replication (box upsampling), crop to the frame, apply the BT.601
    inverse for 3-component streams, and summarize (or, with
    ``raster=True``, return the float64 [0, 1] bitmap — (h, w) grey or
    (h, w, 3) RGB)."""
    arrs = []
    for cid, hf, vf, _ in comps:
        p = planes[cid]
        if hf != hmax or vf != vmax:
            p = np.repeat(np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1)
        arrs.append(np.clip(np.round(p[:h, :w]), 0, 255))
    if len(arrs) == 1:
        px = arrs[0] / 255.0
        nch = 1
    elif len(arrs) == 3:
        y, cb, cr = arrs
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        bl = y + 1.772 * (cb - 128.0)
        px = np.clip(np.stack([r, g, bl], axis=-1), 0, 255) / 255.0
        nch = 3
    else:
        raise NotImplementedError(f"{len(arrs)}-component JPEG")
    if raster:
        return px
    return {
        "width": w, "height": h, "n_channels": nch, "sample_rate": None,
        "n_samples": w * h,
        "mean_level": float(px.mean()), "peak_level": float(px.max()),
    }


_REAL_DECODERS = MappingProxyType({
    "wav": _decode_wav,
    "bmp": _decode_bmp,
    "ppm": _decode_ppm,
    "png": _decode_png,
    "gif": _decode_gif,
    "jpeg": _decode_jpeg,
})

# Image formats whose decoders can hand back the full bitmap (the
# perceptual-hash stage consumes these; wav is audio and has none).
IMAGE_RASTER_FORMATS = ("bmp", "ppm", "png", "gif", "jpeg")


def decode_image_raster(fmt: str, payload: bytes) -> np.ndarray:
    """Decode an image payload to its bitmap: float64 in [0, 1],
    shape (h, w) greyscale or (h, w, 3) RGB (alpha dropped, BMP
    channel order swapped to RGB, bottom-up BMPs flipped top-down)."""
    if fmt not in IMAGE_RASTER_FORMATS:
        raise ValueError(f"no bitmap for format {fmt!r}")
    return _REAL_DECODERS[fmt](bytes(payload), raster=True)


def real_features(media: DataFrame) -> DataFrame:
    """Map-only Arrow-batched REAL decode of binary payloads.

    Dispatches on the ``format`` column; wav/bmp/ppm/png decode from
    actual bytes (stdlib-only), anything else raises
    NotImplementedError — the honest residual gate for codecs this
    container lacks.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "format", "width", "height", "n_channels",
                "sample_rate", "n_samples", "payload_bytes", "mean_level",
                "peak_level",
            )}
            for media_id, fmt, payload in zip(
                pdf["media_id"], pdf["format"], pdf["payload"]
            ):
                dec = _REAL_DECODERS.get(fmt)
                if dec is None:
                    raise NotImplementedError(
                        f"format {fmt!r} needs PIL/libvips/ffmpeg (not in "
                        f"this container); stdlib-decodable: {REAL_DECODABLE}"
                    )
                feats = dec(bytes(payload))
                out["media_id"].append(media_id)
                out["format"].append(fmt)
                out["payload_bytes"].append(len(payload))
                for k, v in feats.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(gen, schema=REAL_FEATURE_SCHEMA)


def _png_chunk(kind: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + kind
        + data
        + struct.pack(">I", zlib.crc32(kind + data))
    )


def _encode_png_rgb(rows: list[bytes], width: int) -> bytes:
    """Minimal valid 8-bit RGB PNG encoder for the synthetic fixture.
    The filter type cycles row % 5 (with the forward filter applied
    correctly for each), so decoding the corpus exercises every
    unfilter branch of ``_decode_png``."""
    bpp = 3
    scanlines = bytearray()
    prev = bytes(width * bpp)
    for r, cur in enumerate(rows):
        ft = r % 5
        scanlines.append(ft)
        for i, x in enumerate(cur):
            a = cur[i - bpp] if i >= bpp else 0
            up = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) >> 1
            else:
                pred = _png_paeth(a, up, c)
            scanlines.append((x - pred) & 0xFF)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def _encode_gif(indices: list[int], width: int, height: int,
                palette: list[tuple[int, int, int]]) -> bytes:
    """Minimal valid GIF89a encoder for the synthetic fixture: 16-entry
    global palette, min LZW code size 4, every pixel emitted as a
    literal code with a CLEAR every 12 codes so the code width stays at
    5 bits — valid LZW that never grows the dictionary past the first
    width boundary, which a conforming decoder (including
    ``_decode_gif``) must track identically."""
    assert len(palette) <= 16
    pal = list(palette) + [(0, 0, 0)] * (16 - len(palette))
    mcs = 4
    clear, chunk = 1 << mcs, (1 << mcs) - 4
    codes: list[int] = []
    for i, ix in enumerate(indices):
        if i % chunk == 0:
            codes.append(clear)
        codes.append(ix)
    codes.append(clear + 1)  # EOI
    bits = bytearray()
    acc = nbits = 0
    for code in codes:
        acc |= code << nbits
        nbits += mcs + 1
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits.append(acc & 0xFF)
    sub = bytearray()
    for off in range(0, len(bits), 255):
        blkdata = bits[off : off + 255]
        sub.append(len(blkdata))
        sub += blkdata
    sub.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | 0x03, 0, 0)
        + bytes(v for rgb in pal for v in rgb)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([mcs]) + bytes(sub)
        + b"\x3b"
    )


def synthesize_real_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media payloads (valid WAV/BMP/PPM byte
    streams) derived from each document — the fixture generator for the
    real-decode path, built executor-side in a map-only Arrow stage so
    payload bytes never touch the driver.

    Format rotates by ``doc_id % len(REAL_DECODABLE)``; content
    (samples / pixels) is a pure function of ``doc_id``, so decoded
    features are stable across runs and partitionings. The PNG branch
    cycles the scanline filter type (row % 5) so every unfilter path
    (None/Sub/Up/Average/Paeth) is exercised by the corpus, not just
    the trivial one.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, payloads = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                kind = REAL_DECODABLE[d % len(REAL_DECODABLE)]
                if kind == "wav":
                    n = 64 + d % 64
                    t = np.arange(n, dtype=np.float64)
                    freq = 110.0 * (1 + d % 13)
                    a = np.round(
                        0.5 * 32767.0 * np.sin(2 * np.pi * freq * t / 8000.0)
                    ).astype("<i2")
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(8000)
                        w.writeframes(a.tobytes())
                    payload = buf.getvalue()
                elif kind == "bmp":
                    wd, ht = 4 + d % 5, 3 + d % 4
                    stride = (wd * 3 + 3) & ~3
                    raster = bytearray(stride * ht)
                    for row in range(ht):
                        for col in range(wd * 3):
                            raster[row * stride + col] = (row * 31 + col * 7 + d) % 256
                    pixel_off = 14 + 40
                    payload = (
                        b"BM"
                        + struct.pack("<IHHI", pixel_off + len(raster), 0, 0, pixel_off)
                        + struct.pack(
                            "<IiiHHIIiiII", 40, wd, ht, 1, 24, 0, len(raster),
                            2835, 2835, 0, 0,
                        )
                        + bytes(raster)
                    )
                elif kind == "ppm":
                    wd, ht = 3 + d % 6, 2 + d % 5
                    raster = bytes(
                        (i * 11 + d) % 256 for i in range(wd * ht * 3)
                    )
                    payload = f"P6\n{wd} {ht}\n255\n".encode() + raster
                elif kind == "png":  # 8-bit RGB, filter type cycling per row
                    wd, ht = 3 + d % 5, 3 + d % 4
                    rows = [
                        bytes((row * 17 + col * 5 + d) % 256 for col in range(wd * 3))
                        for row in range(ht)
                    ]
                    payload = _encode_png_rgb(rows, wd)
                elif kind == "jpeg":
                    # rotate baseline grayscale 1x1, YCbCr 4:2:0 color,
                    # PROGRESSIVE grayscale, PROGRESSIVE 4:2:0 color
                    # (SOF2 interleaved-DC + non-interleaved AC bands),
                    # RESTART-INTERVAL color (DRI + RSTn boundaries),
                    # FULL successive-approximation progressive color
                    # (AC refinement scans), and SA-progressive color
                    # WITH restart intervals, so all seven entropy
                    # layouts live in the corpus
                    wd, ht = 8 + d % 9, 6 + d % 7
                    yy, xx = np.mgrid[0:ht, 0:wd]
                    variant = (d // len(REAL_DECODABLE)) % 7
                    if variant in (1, 3, 4, 5, 6):
                        rgb = np.stack(
                            [
                                (yy * 23 + xx * 11 + d) % 256,
                                (yy * 7 + xx * 31 + 3 * d) % 256,
                                (yy * 13 + xx * 17 + 5 * d) % 256,
                            ],
                            axis=-1,
                        ).astype(np.uint8)
                        if variant == 3:
                            payload = _encode_jpeg_progressive_color_420(rgb)
                        elif variant == 4:
                            payload = _encode_jpeg_color_420(
                                rgb, restart_interval=2
                            )
                        elif variant == 5:
                            payload = _encode_jpeg_progressive_color_420(
                                rgb, ac_successive=True
                            )
                        elif variant == 6:
                            payload = _encode_jpeg_progressive_color_420(
                                rgb, ac_successive=True, restart_interval=2
                            )
                        else:
                            payload = _encode_jpeg_color_420(rgb)
                    else:
                        img = ((yy * 23 + xx * 11 + d) % 256).astype(np.uint8)
                        payload = (
                            _encode_jpeg_progressive_gray(img)
                            if variant == 2
                            else _encode_jpeg_gray(img)
                        )
                else:  # gif (16-color global palette, real LZW stream)
                    wd, ht = 4 + d % 6, 3 + d % 5
                    pal = [
                        ((i * 37 + d) % 256, (i * 59 + 3 * d) % 256, (i * 83 + 7 * d) % 256)
                        for i in range(16)
                    ]
                    idx = [
                        (row * 7 + col * 3 + d) % 16
                        for row in range(ht)
                        for col in range(wd)
                    ]
                    payload = _encode_gif(idx, wd, ht, pal)
                ids.append(d)
                fmts.append(kind)
                payloads.append(payload)
            yield pd.DataFrame(
                {"media_id": ids, "format": fmts, "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(
        gen, schema="media_id long, format string, payload binary"
    )


def frame_sample_plan(media: DataFrame, every_n: int = 24) -> DataFrame:
    """Video-frame sampling PLAN: explode n_frames into sampled frame
    indices (the decode of each frame is the stubbed step). Map-only;
    at scale the sampled index list drives a ranged decode."""
    return media.select(
        "media_id",
        "format",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
