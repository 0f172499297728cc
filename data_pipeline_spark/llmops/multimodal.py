"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

EIGHT real codecs run end-to-end here with stdlib + numpy only —
uncompressed 24-bit BMP, binary PPM (P6), lossless-compressed PNG (zlib
inflate + the five scanline filters), LOSSY-compressed baseline JPEG
(8x8 DCT + quantization + zigzag + canonical Huffman, 4:4:4/4:2:0/4:2:2,
both directions), LZW-compressed GIF (palette images, interlacing,
first-frame-of-animated), strip-based uncompressed
TIFF (both byte orders), 16-bit PCM WAV (``wave``), and
lossless-compressed FLAC (rice-coded fixed-predictor subset, llmops.flac)
— so ``extract_features`` computes actual
pixel/sample statistics and ``resize_media`` performs an actual
nearest-neighbor resample for those formats.  The decode kernels are numpy
reshape/stride/einsum operations over the Arrow batches (no per-pixel
Python except PNG's inherently sequential Sub/Average/Paeth unfilters and
the JPEG/FLAC entropy coders' per-symbol bit loops).  MP4 gets a real
CONTAINER codec (ISO BMFF box tree + sample tables, see the video section)
— frame sampling demuxes real byte ranges; only the codec PAYLOAD decode
(H.264 etc.) is external.  Formats needing external codec libs
(webp/mp3/ogg...), absent from this container, keep the clearly-marked
stub path: on a production image PIL/ffmpeg drop into the same
``decode_media`` / ``decode_audio`` seams.  Everything Spark-side —
schema, batch iteration shape, partitioning, mapInPandas plumbing — is
identical for both paths.

Scale notes: binary payloads ride the same DataFrame as metadata, so
partition sizing must respect ``spark.sql.files.maxPartitionBytes`` against
*decoded* size, not encoded; feature extraction emits fixed-width vectors so
downstream shuffles carry floats, never the blobs (project blobs away before
any join/groupBy).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("format", StringType()),      # png|wav|mp4|...
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def attach_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media: utf-8 bytes of the text as an opaque blob +
    typed metadata.  Stands in for a real (id, image_bytes) table so the
    plumbing (BinaryType column, metadata struct, partitioning) is real."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit("image").alias("media_type"),
        F.lit("raw").alias("format"),
        F.octet_length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# Real image codecs (stdlib + numpy only): uncompressed 24-bit BMP, binary
# PPM (P6), compressed PNG (8-bit gray/RGB/RGBA).  Decoded representation:
# (width, height, rgb) with rgb a top-down row-major bytes buffer of
# 3*width*height (R, G, B per pixel).  Kernels are numpy reshape/stride ops
# — the pandas UDFs hand them whole Arrow batches, so per-pixel Python here
# would be the only row-at-a-time loop in the engine.
# ---------------------------------------------------------------------------


def _decode_bmp(content: bytes) -> tuple[int, int, bytes]:
    """Uncompressed (BI_RGB) 24-bit BMP -> (w, h, top-down RGB buffer)."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP file")
    (data_off,) = struct.unpack_from("<I", content, 10)
    w, h = struct.unpack_from("<ii", content, 18)
    (bpp,) = struct.unpack_from("<H", content, 28)
    (compression,) = struct.unpack_from("<I", content, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP supported (bpp={bpp})")
    top_down = h < 0
    h = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.frombuffer(content, np.uint8, stride * h, data_off).reshape(h, stride)
    px = rows[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return w, h, px[:, :, ::-1].tobytes()  # BGR -> RGB


def _encode_bmp(w: int, h: int, rgb: bytes) -> bytes:
    """(w, h, top-down RGB) -> uncompressed 24-bit bottom-up BMP."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    data_size = stride * h
    header = bytearray(54)
    struct.pack_into("<2sIHHI", header, 0, b"BM", 54 + data_size, 0, 0, 54)
    struct.pack_into("<IiiHHIIiiII", header, 14, 40, w, h, 1, 24, 0, data_size,
                     2835, 2835, 0, 0)
    px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)[::-1, :, ::-1]  # bottom-up BGR
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = px.reshape(h, w * 3)
    return bytes(header) + rows.tobytes()


def _decode_ppm(content: bytes) -> tuple[int, int, bytes]:
    """Binary PPM (P6, maxval 255) -> (w, h, top-down RGB buffer)."""
    import re as _re

    m = _re.match(
        rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", content
    )
    if not m:
        raise ValueError("not a binary P6 PPM")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    rgb = content[m.end() : m.end() + 3 * w * h]
    if len(rgb) != 3 * w * h:
        raise ValueError("truncated PPM pixel data")
    return w, h, rgb


def _encode_ppm(w: int, h: int, rgb: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + rgb


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(content: bytes) -> tuple[int, int, bytes]:
    """PNG -> (w, h, top-down RGB buffer): stdlib zlib inflate + critical-
    chunk parse + the five scanline unfilters.

    Supports 8-bit depth, color types 0 (gray, replicated to RGB),
    2 (RGB) and 6 (RGBA, alpha dropped), non-interlaced — the shapes a
    training-data pipeline's screenshots/diagrams actually use.  Filters
    None/Up vectorize across the scanline; Sub/Average/Paeth are
    inherently sequential in x (each byte depends on the reconstructed
    byte one pixel left), so those rows run a per-byte loop — the one
    place per-pixel Python is unavoidable without a C codec.
    """
    import struct
    import zlib

    if content[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG file")
    pos, idat, header = len(_PNG_SIG), [], None
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if header is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = header
    if bit_depth != 8 or color_type not in (0, 2, 6) or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace} not supported (8-bit gray/RGB/RGBA only)"
        )
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1).copy()
        prev = out[y - 1] if y else np.zeros(stride, np.uint8)
        if ft == 0:
            cur = row
        elif ft == 2:  # Up — vectorized (uint8 addition wraps mod 256)
            cur = row + prev
        elif ft in (1, 3, 4):
            cur = row.astype(np.int32)
            pv = prev.astype(np.int32)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                if ft == 1:  # Sub
                    pred = a
                elif ft == 3:  # Average
                    pred = (a + pv[i]) >> 1
                else:  # Paeth
                    b, c = pv[i], (pv[i - ch] if i >= ch else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
            cur = cur.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
    px = out.reshape(h, w, ch)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    elif ch == 4:
        px = px[:, :, :3]
    return w, h, px.tobytes()


def _encode_png(w: int, h: int, rgb: bytes) -> bytes:
    """(w, h, top-down RGB) -> 8-bit RGB PNG (filter 0 scanlines)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    px = np.frombuffer(rgb, np.uint8).reshape(h, w * 3)
    filtered = np.zeros((h, w * 3 + 1), np.uint8)
    filtered[:, 1:] = px  # column 0 stays filter-type 0
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(filtered.tobytes()))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# JPEG (JFIF / ITU T.81), stdlib + numpy only: 8x8 block DCT, Annex-K
# quantization tables with libjpeg quality scaling, zigzag RLE, canonical
# Huffman entropy coding.  Both encoders (baseline SOF0 and the 9-scan
# progressive SOF2 progression) emit SELF-DESCRIBING Huffman tables —
# equal-length canonical codes over exactly the symbols each scan uses,
# written to DHT — so the decoder (this one or any spec decoder) rebuilds
# them from the stream; transcribing the spec's suggested AC tables is
# unnecessary.  The decoder handles baseline AND progressive (all four
# scan kinds: DC/AC first + successive-approximation refinement, spectral
# selection, EOB runs), 8-bit, 1- or 3-component, integer-ratio sampling
# factors (4:4:4 / 4:2:0 / 4:2:2); extended-sequential / lossless /
# arithmetic / 12-bit raise NotImplementedError into the documented PIL
# seam.  DCT/IDCT/quantization are einsum over ALL blocks at once; only
# the entropy coder is a per-symbol loop (inherently sequential, like
# PNG's Sub/Paeth unfilter).
# ---------------------------------------------------------------------------

_ZIGZAG = sorted(
    range(64),
    key=lambda i: (
        (i >> 3) + (i & 7),
        # odd diagonals run top-right -> bottom-left (row ascending),
        # even ones the reverse (column ascending)
        (i >> 3) if ((i >> 3) + (i & 7)) % 2 else (i & 7),
    ),
)  # index: position in scan order -> (row*8+col); standard T.81 order

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) / 2
    c[0] /= np.sqrt(2)
    return c


_DCT_C = _dct_matrix()


def _jpeg_qtables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    out = []
    for t in (_QUANT_LUMA, _QUANT_CHROMA):
        q = np.floor((t * scale + 50) / 100)
        out.append(np.clip(q, 1, 255))
    return out[0], out[1]


def _blocks_of(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a (h, w) plane to 8-multiples by edge replication and cut into
    (n_blocks_y, n_blocks_x, 8, 8)."""
    h, w = plane.shape
    bh, bw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")
    return (
        padded.reshape(bh // 8, 8, bw // 8, 8).transpose(0, 2, 1, 3),
        bh // 8,
        bw // 8,
    )


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, length: int) -> int:
        while self.nbits < length:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside scan")
                self.pos += 1  # skip stuffed zero
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        self.nbits -= length
        val = (self.acc >> self.nbits) & ((1 << length) - 1)
        self.acc &= (1 << self.nbits) - 1
        return val

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (restart intervals)."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected RSTn marker at restart interval")
        self.pos += 2


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category size, size-bit code)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _extend(code: int, size: int) -> int:
    if size == 0:
        return 0
    return code if code >= (1 << (size - 1)) else code - (1 << size) + 1


def _canonical_codes(symbols: set[int]) -> tuple[dict[int, tuple[int, int]], list[int], list[int]]:
    """Equal-length canonical Huffman over exactly the used symbols:
    returns ({symbol: (code, length)}, bits[1..16], huffval) for DHT.
    Length = ceil(log2(n+1)) keeps the all-ones code unused as T.81
    recommends."""
    vals = sorted(symbols) or [0]
    length = 1
    while (1 << length) <= len(vals):  # smallest length with a spare
        length += 1
    table = {s: (i, length) for i, s in enumerate(vals)}
    bits = [0] * 17
    bits[length] = len(vals)
    return table, bits[1:], vals


def _jpeg_plan(
    w: int, h: int, rgb: bytes, quality: int, subsampling: str,
    precision: int = 8,
) -> tuple:
    """Shared front half of both JPEG encoders: RGB -> YCbCr planes,
    chroma box-downsample, MCU edge-padding, DCT, quantization.
    Returns (samp, hmax, vmax, mcuy, mcux, qy, qc, coefs) where coefs[ci]
    is an int64 (block rows, block cols, 8, 8) natural-order array.

    ``precision=12`` scales the 8-bit input samples and the Annex-K
    quantization tables by the same 2^4, so the QUANTIZED COEFFICIENTS
    are bit-identical to the 8-bit plan's — which makes the 12-bit
    pipeline differentially testable against the 8-bit one with zero
    tolerance (scaling commutes exactly through the linear DCT and the
    float64 color transform)."""
    luma_by_mode = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}
    if subsampling not in luma_by_mode:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    samp = [luma_by_mode[subsampling], (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)

    if precision not in (8, 12):
        raise ValueError(f"unsupported JPEG precision {precision}")
    scale = 1 << (precision - 8)
    center = 128.0 * scale
    qy, qc = (q * scale for q in _jpeg_qtables(quality))
    px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.float64)
    px = px * scale  # 8-bit content carried in the wider sample range
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + center,
        0.5 * r - 0.418688 * g - 0.081312 * b + center,
    ]
    quant = [qy, qc, qc]

    # per component: box-average downsample below the max sampling, pad to
    # a whole number of MCUs (edge replication), DCT + quantize all blocks
    coefs = []
    for plane, q, (sh, sv) in zip(planes, quant, samp):
        fy, fx = vmax // sv, hmax // sh
        if fy > 1 or fx > 1:
            ph = (plane.shape[0] + fy - 1) // fy * fy
            pw = (plane.shape[1] + fx - 1) // fx * fx
            padded = np.pad(
                plane,
                ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge",
            )
            plane = padded.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        tgt_h, tgt_w = mcuy * sv * 8, mcux * sh * 8
        padded = np.pad(
            plane,
            ((0, tgt_h - plane.shape[0]), (0, tgt_w - plane.shape[1])),
            mode="edge",
        )
        blocks = padded.reshape(tgt_h // 8, 8, tgt_w // 8, 8).transpose(0, 2, 1, 3)
        f = np.einsum("ij,yxjk,lk->yxil", _DCT_C, blocks - center, _DCT_C)
        coefs.append(np.rint(f / q).astype(np.int64))
    return samp, hmax, vmax, mcuy, mcux, qy, qc, coefs


def _jpeg_headers(
    w: int, h: int, samp: list, qy: np.ndarray, qc: np.ndarray,
    sof_marker: int, precision: int = 8,
) -> bytes:
    """SOI + APP0 + DQT pair + SOF segment shared by both encoders.
    12-bit precision writes 16-bit quantization tables (DQT Pq=1)."""
    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    wide = bool(np.any(qy > 255) or np.any(qc > 255))

    def zz_q(q: np.ndarray) -> bytes:
        vals = [int(q.reshape(64)[i]) for i in _ZIGZAG]
        if wide:
            return struct.pack(">64H", *vals)
        return bytes(vals)

    pq = 0x10 if wide else 0x00
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([pq | 0]) + zz_q(qy))
    out += seg(0xFFDB, bytes([pq | 1]) + zz_q(qc))
    out += seg(
        sof_marker,  # declared precision, 3 components, declared sampling
        struct.pack(">BHHB", precision, h, w, 3)
        + bytes(
            [
                1, samp[0][0] << 4 | samp[0][1], 0,
                2, samp[1][0] << 4 | samp[1][1], 1,
                3, samp[2][0] << 4 | samp[2][1], 1,
            ]
        ),
    )
    return bytes(out)


def _encode_jpeg(
    w: int, h: int, rgb: bytes, quality: int = 90, subsampling: str = "444",
    restart_interval: int = 0, precision: int = 8,
) -> bytes:
    """(w, h, top-down RGB) -> baseline JFIF bytes (8-bit; 4:4:4, or
    MCU-interleaved 4:2:0 / 4:2:2 chroma subsampling — 4:2:0 is what
    virtually every real-world photo uses).  ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that many MCUs, resetting
    the DC predictors — the layout every camera JPEG uses for error
    resilience."""
    import struct

    samp, hmax, vmax, mcuy, mcux, qy, qc, coefs = _jpeg_plan(
        w, h, rgb, quality, subsampling, precision
    )
    ri = restart_interval

    def mcu_blocks():
        """(mcu index, ci, zigzagged block) in MCU-interleaved scan order —
        for 4:4:4 this degenerates to the per-block Y,Cb,Cr order."""
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (sh, sv) in enumerate(samp):
                    for vy in range(sv):
                        for vx in range(sh):
                            yield my * mcux + mx, ci, coefs[ci][
                                my * sv + vy, mx * sh + vx
                            ].reshape(64)[_ZIGZAG]

    # entropy-code (two passes: collect symbols, then emit with canonical
    # tables built over exactly those symbols)
    def scan_symbols():
        dc_syms = [set(), set()]
        ac_syms = [set(), set()]
        prev_dc = [0, 0, 0]
        seg = 0
        for mcu_i, ci, zz in mcu_blocks():
            if ri and mcu_i // ri != seg:
                seg = mcu_i // ri
                prev_dc = [0, 0, 0]
            tsel = 0 if ci == 0 else 1
            size, _ = _magnitude(int(zz[0]) - prev_dc[ci])
            prev_dc[ci] = int(zz[0])
            dc_syms[tsel].add(size)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms[tsel].add(0xF0)
                    run -= 16
                s, _ = _magnitude(v)
                ac_syms[tsel].add((run << 4) | s)
                run = 0
            if run:
                ac_syms[tsel].add(0x00)
        return dc_syms, ac_syms

    dc_syms, ac_syms = scan_symbols()
    # EOB must be encodable even for an all-zero image
    ac_syms[0].add(0x00), ac_syms[1].add(0x00)
    dc_tabs = [_canonical_codes(s) for s in dc_syms]
    ac_tabs = [_canonical_codes(s) for s in ac_syms]

    scan = bytearray()
    bw_ = _BitWriter()
    prev_dc = [0, 0, 0]
    seg_i = 0
    for mcu_i, ci, zz in mcu_blocks():
        if ri and mcu_i // ri != seg_i:
            # close the segment: 1-padded byte alignment, then RSTn
            scan += bw_.flush()
            scan += bytes([0xFF, 0xD0 + (seg_i % 8)])
            bw_ = _BitWriter()
            seg_i = mcu_i // ri
            prev_dc = [0, 0, 0]
        tsel = 0 if ci == 0 else 1
        dc_t, ac_t = dc_tabs[tsel][0], ac_tabs[tsel][0]
        size, code = _magnitude(int(zz[0]) - prev_dc[ci])
        prev_dc[ci] = int(zz[0])
        hc, hl = dc_t[size]
        bw_.write(hc, hl)
        if size:
            bw_.write(code, size)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                hc, hl = ac_t[0xF0]
                bw_.write(hc, hl)
                run -= 16
            s, c = _magnitude(v)
            hc, hl = ac_t[(run << 4) | s]
            bw_.write(hc, hl)
            bw_.write(c, s)
            run = 0
        if run:
            hc, hl = ac_t[0x00]
            bw_.write(hc, hl)
    scan += bw_.flush()
    scan = bytes(scan)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(
            0xFFC4,
            bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals),
        )

    # 12-bit sequential is SOF1 (extended sequential); baseline SOF0 is
    # 8-bit-only by spec
    sof = 0xFFC0 if precision == 8 else 0xFFC1
    out = bytearray(_jpeg_headers(w, h, samp, qy, qc, sof, precision))
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))
    out += dht(0, 0, dc_tabs[0][1], dc_tabs[0][2])
    out += dht(1, 0, ac_tabs[0][1], ac_tabs[0][2])
    out += dht(0, 1, dc_tabs[1][1], dc_tabs[1][2])
    out += dht(1, 1, ac_tabs[1][1], ac_tabs[1][2])
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_jpeg_progressive(
    w: int, h: int, rgb: bytes, quality: int = 90, subsampling: str = "444",
    restart_interval: int = 0, precision: int = 8,
) -> bytes:
    """(w, h, top-down RGB) -> progressive JFIF bytes (SOF2).

    Same plan as the baseline encoder (identical quantized coefficients,
    so a decoder must reconstruct pixel-identical output — the
    differential test relies on this), transmitted as a 9-scan
    progression exercising every scan kind the decoder supports:
    interleaved DC first (Al=1) + DC refinement, per-component AC first
    with spectral selection (Y split 1-5 / 6-63), and per-component AC
    refinement (Ah=1 -> Al=0).  Each scan carries its own canonical
    Huffman tables built over exactly its symbols; EOB runs are emitted
    with length 1 (spec-legal; the decoder handles general EOBn).
    ``restart_interval`` > 0 emits DRI + RSTn every that many restart
    units (MCUs in the interleaved DC scans, blocks in AC scans), with
    DC predictors reset per segment.  Progression per ITU T.81 §G.1.2
    (no code consulted)."""
    import struct

    samp, hmax, vmax, mcuy, mcux, qy, qc, coefs = _jpeg_plan(
        w, h, rgb, quality, subsampling, precision
    )
    ri = restart_interval
    # zigzag-order coefficient vectors per block
    zzc = [c.reshape(c.shape[0], c.shape[1], 64)[:, :, _ZIGZAG] for c in coefs]
    tdims = []
    for sh, sv in samp:
        comp_h = -(-(h * sv) // vmax)
        comp_w = -(-(w * sh) // hmax)
        tdims.append((-(-comp_h // 8), -(-comp_w // 8)))

    def mcu_units():
        """One restart unit per MCU: its (ci, by, bx) block triples."""
        for my in range(mcuy):
            for mx in range(mcux):
                yield [
                    (ci, my * sv + vy, mx * sh + vx)
                    for ci, (sh, sv) in enumerate(samp)
                    for vy in range(sv)
                    for vx in range(sh)
                ]

    # emitters return list[unit ops]; a unit is one MCU (DC scans) or one
    # block (AC scans) — the restart segmentation below splices RSTn at
    # unit boundaries.  ops: ("s", tclass, tsel, symbol) | ("b", value, n)
    def dc_first_ops(al):
        prev = [0, 0, 0]
        units = []
        for ui, unit in enumerate(mcu_units()):
            if ri and ui and ui % ri == 0:
                prev = [0, 0, 0]  # predictors reset at each restart
            ops = []
            for ci, by, bx in unit:
                t = 0 if ci == 0 else 1
                v = int(zzc[ci][by, bx, 0]) >> al  # DC: arithmetic shift
                size, code = _magnitude(v - prev[ci])
                prev[ci] = v
                ops.append(("s", 0, t, size))
                if size:
                    ops.append(("b", code, size))
            units.append(ops)
        return units

    def dc_refine_ops(al):
        return [
            [
                ("b", (int(zzc[ci][by, bx, 0]) >> al) & 1, 1)
                for ci, by, bx in unit
            ]
            for unit in mcu_units()
        ]

    def ac_first_ops(ci, ss, se, al):
        t = 0 if ci == 0 else 1
        units = []
        tv, th = tdims[ci]
        for by in range(tv):
            for bx in range(th):
                ops = []
                band = zzc[ci][by, bx]
                run = 0
                for k in range(ss, se + 1):
                    v = int(band[k])
                    a = abs(v) >> al  # AC: truncation toward zero
                    if a == 0:
                        run += 1
                        continue
                    while run > 15:
                        ops.append(("s", 1, t, 0xF0))
                        run -= 16
                    s, c = _magnitude(a if v > 0 else -a)
                    ops.append(("s", 1, t, (run << 4) | s))
                    ops.append(("b", c, s))
                    run = 0
                if run:
                    ops.append(("s", 1, t, 0x00))  # EOB run of 1
                units.append(ops)
        return units

    def ac_refine_ops(ci, ss, se, ah, al):
        t = 0 if ci == 0 else 1
        units = []
        tv, th = tdims[ci]
        for by in range(tv):
            for bx in range(th):
                ops = []
                band = zzc[ci][by, bx]
                # queue since the last emitted symbol: ("z",) for a
                # still-insignificant zero, ("h", bit) for a history
                # coefficient's correction bit — the decoder consumes
                # correction bits positionally during its skip walks, so
                # a ZRL carries only the bits up to its 16th zero
                queue: list = []
                for k in range(ss, se + 1):
                    v = int(band[k])
                    a = abs(v)
                    if a >> ah:  # history-nonzero at the prior precision
                        queue.append(("h", (a >> al) & 1))
                    elif (a >> al) == 1:  # newly significant this scan
                        while sum(1 for q in queue if q[0] == "z") > 15:
                            ops.append(("s", 1, t, 0xF0))
                            zc = 0
                            while zc < 16:
                                it = queue.pop(0)
                                if it[0] == "z":
                                    zc += 1
                                else:
                                    ops.append(("b", it[1], 1))
                        run = sum(1 for q in queue if q[0] == "z")
                        ops.append(("s", 1, t, (run << 4) | 1))
                        ops.append(("b", 1 if v > 0 else 0, 1))
                        ops.extend(
                            ("b", it[1], 1) for it in queue if it[0] == "h"
                        )
                        queue = []
                    else:
                        queue.append(("z",))
                if queue:  # trailing positions need an EOB + history bits
                    ops.append(("s", 1, t, 0x00))
                    ops.extend(
                        ("b", it[1], 1) for it in queue if it[0] == "h"
                    )
                units.append(ops)
        return units

    # (components, Ss, Se, Ah, Al, unit ops); comps as (cid, dc, ac sel)
    all_comps = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]
    scan_plan = [
        (all_comps, 0, 0, 0, 1, dc_first_ops(1)),
        ([(1, 0, 0)], 1, 5, 0, 1, ac_first_ops(0, 1, 5, 1)),
        ([(1, 0, 0)], 6, 63, 0, 1, ac_first_ops(0, 6, 63, 1)),
        ([(2, 1, 1)], 1, 63, 0, 1, ac_first_ops(1, 1, 63, 1)),
        ([(3, 1, 1)], 1, 63, 0, 1, ac_first_ops(2, 1, 63, 1)),
        (all_comps, 0, 0, 1, 0, dc_refine_ops(0)),
        ([(1, 0, 0)], 1, 63, 1, 0, ac_refine_ops(0, 1, 63, 1, 0)),
        ([(2, 1, 1)], 1, 63, 1, 0, ac_refine_ops(1, 1, 63, 1, 0)),
        ([(3, 1, 1)], 1, 63, 1, 0, ac_refine_ops(2, 1, 63, 1, 0)),
    ]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(_jpeg_headers(w, h, samp, qy, qc, 0xFFC2, precision))
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))
    for sc, ss, se, ah, al, units in scan_plan:
        # canonical tables over exactly this scan's symbols, re-defined
        # per scan (the decoder snapshots tables at each SOS)
        syms: dict = {}
        for ops in units:
            for op in ops:
                if op[0] == "s":
                    syms.setdefault((op[1], op[2]), set()).add(op[3])
        tabs = {key: _canonical_codes(s) for key, s in syms.items()}
        for (tclass, tid), (table, bits, vals) in sorted(tabs.items()):
            out += seg(
                0xFFC4, bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
            )
        body = bytes([len(sc)])
        for cid, dcs, acs in sc:
            body += bytes([cid, dcs << 4 | acs])
        body += bytes([ss, se, ah << 4 | al])
        out += seg(0xFFDA, body)
        # restart segmentation: chunk the units, 1-pad-align each chunk,
        # splice RSTn between chunks (marker count restarts per scan)
        chunks = (
            [units]
            if not ri
            else [units[i : i + ri] for i in range(0, len(units), ri)]
        )
        for gi, chunk in enumerate(chunks):
            bw_ = _BitWriter()
            for ops in chunk:
                for op in ops:
                    if op[0] == "s":
                        hc, hl = tabs[(op[1], op[2])][0][op[3]]
                        bw_.write(hc, hl)
                    else:
                        bw_.write(op[1], op[2])
            if gi:
                out += bytes([0xFF, 0xD0 + ((gi - 1) % 8)])
            out += bw_.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_progressive_coefs(
    scans, sampling, hmax, vmax, fw, fh, mcuy, mcux, read_symbol,
    predict_dc: bool = True,
) -> dict:
    """Accumulate a progressive JPEG's coefficients across its scans
    (ITU T.81 §G.1.2; no code consulted) -> {component id: (block rows,
    block cols, 64) int64 zigzag-order array}.

    DC scans traverse the MCU-padded grid (interleaved when the scan has
    several components, the component's own raster otherwise); AC scans
    are single-component over the component's TRUE block dimensions.
    First scans (Ah=0) decode magnitudes shifted by the point transform;
    refinement scans (Ah>0) add one bit of precision per coefficient —
    correction bits for already-nonzero history, run/sign symbols for
    newly significant ones — with EOB runs in both phases."""
    coef: dict = {}
    tdims: dict = {}
    for cid, (sh, sv) in sampling.items():
        coef[cid] = np.zeros((mcuy * sv, mcux * sh, 64), np.int64)
        comp_h = -(-(fh * sv) // vmax)  # ceil: component-resolution extent
        comp_w = -(-(fw * sh) // hmax)
        tdims[cid] = (-(-comp_h // 8), -(-comp_w // 8))
    for sc, ss, se, ah, al, data, ht, dri in scans:
        reader = _BitReader(data)
        if ss == 0:  # DC scan (first or refinement)
            if se != 0:
                raise ValueError("DC scan with Se != 0")

            def units():
                """Restart units: one MCU (interleaved) or one block."""
                if len(sc) > 1:  # interleaved: MCU order, padded grid
                    for my in range(mcuy):
                        for mx in range(mcux):
                            yield [
                                (cid, dcs, my * sv + vy, mx * sh + vx)
                                for cid, dcs, _acs in sc
                                for sh, sv in (sampling[cid],)
                                for vy in range(sv)
                                for vx in range(sh)
                            ]
                else:  # non-interleaved: the component's own raster
                    cid, dcs, _acs = sc[0]
                    tv, th = tdims[cid]
                    for by in range(tv):
                        for bx in range(th):
                            yield [(cid, dcs, by, bx)]

            prev = {cid: 0 for cid, _d, _a in sc}
            for ui, unit in enumerate(units()):
                if dri and ui and ui % dri == 0:
                    reader.restart()
                    prev = {cid: 0 for cid, _d, _a in sc}
                for cid, dcs, by, bx in unit:
                    if ah == 0:
                        size = read_symbol(reader, ht[(0, dcs)])
                        d = _extend(reader.read(size), size)
                        if predict_dc:
                            prev[cid] += d
                            d = prev[cid]
                        # differential frames (SOF6) code DC unpredicted
                        coef[cid][by, bx, 0] = d << al
                    else:
                        coef[cid][by, bx, 0] |= reader.read(1) << al
            continue
        # AC scan: always single-component, non-interleaved
        if len(sc) != 1:
            raise ValueError("progressive AC scan with multiple components")
        cid, _dcs, acs = sc[0]
        act = ht[(1, acs)]
        tv, th = tdims[cid]
        carr = coef[cid]
        eobrun = 0
        p1, m1 = 1 << al, -(1 << al)
        for by in range(tv):
            for bx in range(th):
                bi = by * th + bx
                if dri and bi and bi % dri == 0:
                    reader.restart()  # EOB runs cannot cross a restart
                    eobrun = 0
                block = carr[by, bx]
                if ah == 0:  # first scan of this band
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = read_symbol(reader, act)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r == 15:  # ZRL: 16 zero coefficients
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.read(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("AC index overflow")
                        block[k] = _extend(reader.read(s), s) << al
                        k += 1
                    continue
                # refinement: correction bits ride along every walk
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = read_symbol(reader, act)
                        r, s = sym >> 4, sym & 0xF
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read(r)
                                break
                            # r == 15: ZRL skips 16 zero-history slots
                        elif s == 1:
                            val = p1 if reader.read(1) else m1
                        else:
                            raise ValueError("bad AC refinement size")
                        while k <= se:
                            if block[k]:
                                if reader.read(1) and not (block[k] & p1):
                                    block[k] += p1 if block[k] > 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val:
                            if k > se:
                                raise ValueError("AC refinement overflow")
                            block[k] = val
                        k += 1
                if eobrun:
                    while k <= se:  # EOB tail: history correction bits only
                        if block[k]:
                            if reader.read(1) and not (block[k] & p1):
                                block[k] += p1 if block[k] > 0 else m1
                        k += 1
                    eobrun -= 1
    return coef


def _decode_jpeg(content: bytes) -> tuple[int, int, bytes]:
    """Baseline (SOF0) AND progressive (SOF2) JFIF -> (w, h, top-down RGB).

    Supports 8-bit, 1 or 3 components with integer-ratio sampling
    factors — 4:4:4, 4:2:0, 4:2:2 and friends decode natively via
    MCU-interleaved block order + replication upsampling.  Progressive
    streams decode all four scan kinds (DC/AC first + successive-
    approximation refinement, spectral selection, EOB runs) by
    accumulating coefficients across scans before one IDCT pass.
    Restart intervals (DRI/RSTn — what camera JPEGs emit) decode in both
    layouts: byte-align + predictor/EOB-run reset per segment.
    Extended-sequential/lossless/arithmetic-coded streams raise
    NotImplementedError into the PIL seam.  Huffman tables and quant
    tables come from the stream's own DHT/DQT (redefinable between
    scans — each scan snapshots its tables).
    """
    import struct

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    progressive = False
    dri = 0  # restart interval in MCUs (0 = none); redefinable per scan
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qsel)
    # (scan_comps, Ss, Se, Ah, Al, entropy, huffman snapshot, dri)
    scans: list[tuple] = []
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = struct.unpack_from(">H", content, pos)[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack_from(">H", content, pos + 2)
        payload = content[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFDB:
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                q = np.zeros(64)
                if prec_id >> 4:  # Pq=1: 16-bit table values (12-bit JPEG)
                    vals = struct.unpack_from(">64H", payload, p + 1)
                    step = 129
                else:
                    vals = payload[p + 1 : p + 65]
                    step = 65
                for i, v in enumerate(vals):
                    q[_ZIGZAG[i]] = v
                qtables[prec_id & 0xF] = q.reshape(8, 8)
                p += step
        elif marker == 0xFFC3:
            # lossless (SOF3): predictive sample coding, own decode path
            return _decode_jpeg_lossless(content)
        elif marker == 0xFFC9:
            # sequential arithmetic (SOF9): QM-coder path, own module
            from data_pipeline_spark.llmops.jpeg_arith import (
                decode_jpeg_arithmetic,
            )

            return decode_jpeg_arithmetic(content)
        elif marker == 0xFFCA:
            # progressive arithmetic (SOF10): QM coder + scan accumulation
            from data_pipeline_spark.llmops.jpeg_arith import (
                decode_jpeg_arithmetic_progressive,
            )

            return decode_jpeg_arithmetic_progressive(content)
        elif marker == 0xFFCB:
            # lossless arithmetic (SOF11): predictive + QM coder
            from data_pipeline_spark.llmops.jpeg_arith import (
                decode_jpeg_lossless_arithmetic,
            )

            return decode_jpeg_lossless_arithmetic(content)
        elif marker == 0xFFDE:
            # DHP: hierarchical stream (Annex J pyramid), own decode path
            return _decode_jpeg_hierarchical(content)
        elif marker in (
            0xFFC5, 0xFFC6, 0xFFC7, 0xFFCD, 0xFFCE, 0xFFCF,
        ):
            raise NotImplementedError(
                "every non-hierarchical JPEG mode decodes natively "
                "(SOF0/1/2/3 huffman, SOF9/10/11 arithmetic) and "
                "DHP-led hierarchical sequential pyramids decode via "
                "_decode_jpeg_hierarchical; a bare differential frame "
                "(SOF5-7/13-15 without DHP) is not a legal stream — "
                "route to PIL on the cluster image"
            )
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):
            progressive = marker == 0xFFC2
            prec, fh, fw, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec == 12 and marker == 0xFFC0:
                raise ValueError("baseline SOF0 is 8-bit-only by spec")
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit JPEG")
            comps = [  # component triples follow the 6-byte frame header
                (payload[6 + 3 * i], payload[7 + 3 * i], payload[8 + 3 * i])
                for i in range(nc)
            ]
            sof = (fw, fh, nc, prec)
        elif marker == 0xFFC4:
            p = 0
            while p < len(payload):
                tc_id = payload[p]
                bits = payload[p + 1 : p + 17]
                nvals = sum(bits)
                vals = payload[p + 17 : p + 17 + nvals]
                table: dict[tuple[int, int], int] = {}
                code = 0
                vi = 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(ln, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                htables[(tc_id >> 4, tc_id & 0xF)] = table
                p += 17 + nvals
        elif marker == 0xFFDA:
            ns = payload[0]
            sc = [
                (
                    payload[1 + 2 * i],
                    payload[2 + 2 * i] >> 4,
                    payload[2 + 2 * i] & 0xF,
                )
                for i in range(ns)
            ]
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            # entropy data runs to the next non-stuffed marker (0xFF00 is
            # a stuffed data byte, repeated 0xFF are fill bytes, RSTn are
            # part of the scan when a restart interval is active)
            e = pos
            while e < len(content) - 1:
                if content[e] != 0xFF:
                    e += 1
                elif content[e + 1] == 0x00:
                    e += 2
                elif content[e + 1] == 0xFF:
                    e += 1
                elif 0xD0 <= content[e + 1] <= 0xD7:
                    e += 2
                else:
                    break
            scans.append(
                (sc, ss, se, ahal >> 4, ahal & 0xF, content[pos:e],
                 dict(htables), dri)
            )
            pos = e
        elif marker == 0xFFDD:
            (dri,) = struct.unpack_from(">H", payload, 0)
        # APPn / COM / others: skipped
    if sof is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    fw, fh, nc, prec = sof
    scan_comps, _ss0, _se0, _ah0, _al0, scan_data, _ht0, scan_dri = scans[0]

    def read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | reader.read(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    sampling = {cid: (s >> 4, s & 0xF) for cid, s, _q in comps}
    hmax = max(sh for sh, _sv in sampling.values())
    vmax = max(sv for _sh, sv in sampling.values())
    for sh, sv in sampling.values():
        if sh < 1 or sv < 1 or hmax % sh or vmax % sv:
            raise NotImplementedError(
                f"non-integer sampling ratio {sh}x{sv} needs PIL"
            )
    mcuy = (fh + 8 * vmax - 1) // (8 * vmax)
    mcux = (fw + 8 * hmax - 1) // (8 * hmax)
    qsel = {cid: q for cid, _s, q in comps}

    if progressive:
        coef = _jpeg_progressive_coefs(
            scans, sampling, hmax, vmax, fw, fh, mcuy, mcux, read_symbol
        )
        out_planes = []
        order = []  # frame component order, not scan order
        for cid, _s, _q in comps:
            zz = coef[cid].astype(np.float64)
            nat = np.zeros_like(zz)
            nat[:, :, _ZIGZAG] = zz
            by, bx = nat.shape[0], nat.shape[1]
            out_planes.append(
                nat.reshape(by, bx, 8, 8) * qtables[qsel[cid]]
            )
            order.append(cid)
        return _jpeg_reconstruct(
            fw, fh, nc, order, out_planes, sampling, hmax, vmax, prec
        )

    out_planes = []
    for cid, _dcs, _acs in scan_comps:
        sh, sv = sampling[cid]
        out_planes.append(np.zeros((mcuy * sv, mcux * sh, 8, 8), np.float64))
    reader = _BitReader(scan_data)
    prev_dc = [0] * nc

    def read_block(ci, cid, dcs, acs):
        dct = htables[(0, dcs)]
        act = htables[(1, acs)]
        zz = np.zeros(64, np.int64)
        size = read_symbol(reader, dct)
        prev_dc[ci] += _extend(reader.read(size), size)
        zz[0] = prev_dc[ci]
        k = 1
        while k < 64:
            sym = read_symbol(reader, act)
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 0xF
            k += run
            if size == 0:
                if run != 15:
                    raise ValueError("bad AC run symbol")
                k += 1  # ZRL consumed 16 zeros
                continue
            if k > 63:
                raise ValueError("AC index overflow")
            zz[k] = _extend(reader.read(size), size)
            k += 1
        block = np.zeros(64, np.float64)
        block[_ZIGZAG] = zz
        return block.reshape(8, 8) * qtables[qsel[cid]]

    for my in range(mcuy):
        for mx in range(mcux):
            mcu_i = my * mcux + mx
            if scan_dri and mcu_i and mcu_i % scan_dri == 0:
                reader.restart()  # byte-align + RSTn; DC predictors reset
                prev_dc[:] = [0] * nc
            for ci, (cid, dcs, acs) in enumerate(scan_comps):
                sh, sv = sampling[cid]
                for vy in range(sv):
                    for vx in range(sh):
                        out_planes[ci][my * sv + vy, mx * sh + vx] = read_block(
                            ci, cid, dcs, acs
                        )

    return _jpeg_reconstruct(
        fw, fh, nc, [cid for cid, _d, _a in scan_comps], out_planes,
        sampling, hmax, vmax, prec,
    )


# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3, ITU T.81 Annex H): predictive coding of SAMPLES, no
# DCT and no quantization — the roundtrip is byte-exact by construction,
# which is why DNG/medical imaging stacks use it.  Components are coded
# directly (no YCbCr transform; lossless JPEG conventionally carries the
# source color space), interleaved one sample per component per MCU, with
# the DC-style Huffman(category) + magnitude-bits entropy coding over the
# prediction differences.
# ---------------------------------------------------------------------------

_LL_INTERIOR = {
    1: lambda a, b, c: a,
    2: lambda a, b, c: b,
    3: lambda a, b, c: c,
    4: lambda a, b, c: a + b - c,
    5: lambda a, b, c: a + ((b - c) >> 1),
    6: lambda a, b, c: b + ((a - c) >> 1),
    7: lambda a, b, c: (a + b) >> 1,
}


def _ll_predictions(s: np.ndarray, predictor: int) -> np.ndarray:
    """T.81 H.1.2 prediction plane for a fully-known sample plane
    (vectorized; the decoder recomputes the same rules causally).
    First sample: 2^(P-1); rest of first line: Pa; first column: Pb."""
    a = np.empty_like(s)
    b = np.empty_like(s)
    c = np.empty_like(s)
    a[:, 1:] = s[:, :-1]
    a[:, 0] = 0
    b[1:, :] = s[:-1, :]
    b[0, :] = 0
    c[1:, 1:] = s[:-1, :-1]
    c[0, :] = 0
    c[:, 0] = 0
    pred = _LL_INTERIOR[predictor](a, b, c)
    pred[0, 1:] = s[0, :-1]   # first line: left neighbor
    if s.shape[0] > 1:
        pred[1:, 0] = s[:-1, 0]  # first column: above neighbor
    pred[0, 0] = 128          # 2^(P-1) at P=8
    return pred


def _encode_jpeg_lossless(
    w: int, h: int, rgb: bytes, predictor: int = 4
) -> bytes:
    """(w, h, top-down RGB) -> lossless JFIF bytes (SOF3, 8-bit, RGB
    components coded directly, self-describing Huffman table)."""
    import struct

    if predictor not in _LL_INTERIOR:
        raise ValueError(f"lossless predictor must be 1-7, got {predictor}")
    px = (
        np.frombuffer(rgb, dtype=np.uint8)
        .reshape(h, w, 3)
        .astype(np.int32)
    )
    diffs = np.stack(
        [
            px[:, :, ci] - _ll_predictions(px[:, :, ci], predictor)
            for ci in range(3)
        ],
        axis=2,
    )  # (h, w, 3) interleaved scan order
    flat = diffs.reshape(-1)
    mags = [_magnitude(int(v)) for v in flat]
    table, bits, vals = _canonical_codes({m[0] for m in mags})

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    sof3 = struct.pack(">BHHB", 8, h, w, 3) + b"".join(
        struct.pack(">BBB", cid, 0x11, 0) for cid in (1, 2, 3)
    )
    dht = bytes([0x00]) + bytes(bits) + bytes(vals)
    sos = (
        struct.pack(">B", 3)
        + b"".join(struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3))
        + struct.pack(">BBB", predictor, 0, 0)  # Ss=predictor, Se=0, AhAl=0
    )
    writer = _BitWriter()
    for ssss, extra in mags:
        code, ln = table[ssss]
        writer.write(code, ln)
        if ssss:
            writer.write(extra, ssss)
    return (
        b"\xff\xd8"
        + seg(0xFFC3, sof3)
        + seg(0xFFC4, dht)
        + seg(0xFFDA, sos)
        + writer.flush()
        + b"\xff\xd9"
    )


def _decode_jpeg_lossless(content: bytes) -> tuple[int, int, bytes]:
    """Lossless JPEG (SOF3) -> (w, h, top-down RGB), byte-exact.

    Supports 8-bit precision, 1 or 3 non-subsampled components, all seven
    T.81 predictors, and a point transform of 0; restart intervals and
    16-bit precision raise named errors into the PIL seam.  Arithmetic is
    modulo 65536 per H.1.2.1, so decode reproduces the encoder's samples
    exactly for any conforming stream.
    """
    import struct

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    pos = 2
    htables: dict[int, dict[tuple[int, int], int]] = {}
    sof = None
    scan = None
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = struct.unpack_from(">H", content, pos)[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack_from(">H", content, pos + 2)
        payload = content[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFC3:
            prec, fh, fw, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit lossless JPEG requires PIL on the "
                    "cluster image"
                )
            comps = [
                (payload[6 + 3 * i], payload[7 + 3 * i])
                for i in range(nc)
            ]
            if any(samp != 0x11 for _, samp in comps):
                raise NotImplementedError(
                    "subsampled lossless JPEG components"
                )
            sof = (fw, fh, nc)
        elif marker == 0xFFC4:
            p = 0
            while p < len(payload):
                tc_id = payload[p]
                bits = payload[p + 1 : p + 17]
                nvals = sum(bits)
                vals = payload[p + 17 : p + 17 + nvals]
                table: dict[tuple[int, int], int] = {}
                code = 0
                vi = 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(ln, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                htables[tc_id & 0xF] = table
                p += 17 + nvals
        elif marker == 0xFFDD:
            (dri,) = struct.unpack_from(">H", payload, 0)
            if dri:
                raise NotImplementedError(
                    "restart intervals in lossless JPEG"
                )
        elif marker == 0xFFDA:
            ns = payload[0]
            sel = [
                (payload[1 + 2 * i], payload[2 + 2 * i] >> 4)
                for i in range(ns)
            ]
            predictor = payload[1 + 2 * ns]
            al = payload[3 + 2 * ns] & 0xF
            if al:
                raise NotImplementedError(
                    "lossless JPEG point transform (Al != 0)"
                )
            e = pos
            while e < len(content) - 1:
                if content[e] != 0xFF:
                    e += 1
                elif content[e + 1] == 0x00:
                    e += 2
                elif content[e + 1] == 0xFF:
                    e += 1
                else:
                    break
            scan = (sel, predictor, content[pos:e])
            pos = e
    if sof is None or scan is None:
        raise ValueError("lossless JPEG missing SOF3/SOS")
    fw, fh, nc = sof
    sel, predictor, data = scan
    if predictor not in _LL_INTERIOR:
        raise ValueError(f"bad lossless predictor {predictor}")
    tables = [htables[t] for _, t in sel]

    def read_symbol(reader: _BitReader, table) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | reader.read(1)
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid Huffman code in lossless scan")

    reader = _BitReader(data)
    planes = [np.zeros((fh, fw), dtype=np.int32) for _ in range(nc)]
    for y in range(fh):
        for x in range(fw):
            for ci in range(nc):
                s = planes[ci]
                ssss = read_symbol(reader, tables[ci])
                diff = 32768 if ssss == 16 else _extend(
                    reader.read(ssss), ssss
                )
                if y == 0 and x == 0:
                    pred = 128
                elif y == 0:
                    pred = int(s[0, x - 1])
                elif x == 0:
                    pred = int(s[y - 1, 0])
                else:
                    pred = int(
                        _LL_INTERIOR[predictor](
                            int(s[y, x - 1]),
                            int(s[y - 1, x]),
                            int(s[y - 1, x - 1]),
                        )
                    )
                s[y, x] = (pred + diff) & 0xFFFF
    if nc == 1:
        out = np.repeat(
            planes[0].astype(np.uint8)[:, :, None], 3, axis=2
        )
    else:
        out = np.stack(
            [p.astype(np.uint8) for p in planes], axis=2
        )
    return fw, fh, out.tobytes()


# ---------------------------------------------------------------------------
# Hierarchical JPEG (T.81 Annex J): a DHP segment declares the full-image
# dimensions, then a pyramid of frames refines the picture — a
# non-differential base frame at reduced resolution (sequential SOF0/
# SOF9, progressive SOF2/SOF10, or predictor-1 lossless SOF3/SOF11),
# followed by differential frames (sequential SOF5/SOF13, progressive
# SOF6/SOF14, lossless SOF7/SOF15 — Huffman and QM-arithmetic coders
# both), each optionally preceded by an EXP segment that doubles the
# reference horizontally/vertically with the spec's (a + b + 1) >> 1
# interpolation filter (J.1.1.2).  Differential frames code the DCT of
# (source - reference) with NO level shift and NO DC prediction
# (F.1.1.5.1); the reference is clamped to [0, 255] after every frame
# (J.1.1.6).  With this, EVERY T.81 frame type decodes in a legal
# hierarchical slot; the only remaining seams are multi-frame component
# groups (a second non-differential frame mid-pyramid) and subsampled
# pyramid frames.
# ---------------------------------------------------------------------------


def _hier_upsample(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """T.81 J.1.1.2 expansion: doubled axis keeps input samples at even
    positions and interpolates odd ones as (a + b + 1) >> 1, replicating
    the last sample (b = a at the edge, so (2a + 1) >> 1 = a)."""
    p = plane.astype(np.int32)
    if eh:
        right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
        out = np.empty((p.shape[0], p.shape[1] * 2), np.int32)
        out[:, 0::2] = p
        out[:, 1::2] = (p + right + 1) >> 1
        p = out
    if ev:
        down = np.concatenate([p[1:, :], p[-1:, :]], axis=0)
        out = np.empty((p.shape[0] * 2, p.shape[1]), np.int32)
        out[0::2, :] = p
        out[1::2, :] = (p + down + 1) >> 1
        p = out
    return p


def _hier_dct_coefs(
    planes: list, q_by_comp: list, differential: bool
) -> tuple[list, list]:
    """Shared DCT front half of the hierarchical frame coders: integer
    sample planes -> ((by, bx, 64) int64 ZIGZAG coefficient arrays,
    decoder-visible reconstruction planes).  Non-differential frames
    level-shift by 128; differential frames code raw differences."""
    shift = 0.0 if differential else 128.0
    zzc, recons = [], []
    for plane, q in zip(planes, q_by_comp):
        blocks, by, bx = _blocks_of(plane.astype(np.float64))
        f = np.einsum("ij,yxjk,lk->yxil", _DCT_C, blocks - shift, _DCT_C)
        cz = np.rint(f / q).astype(np.int64)
        zzc.append(cz.reshape(by, bx, 64)[:, :, _ZIGZAG])
        sp = np.einsum("ji,yxjk,kl->yxil", _DCT_C, cz * q, _DCT_C) + shift
        full = sp.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        recons.append(full[: plane.shape[0], : plane.shape[1]])
    return zzc, recons


def _hier_lossless_payload(diffs: list, differential: bool = True) -> bytes:
    """LOSSLESS frame for the hierarchical pipeline, each sample as a
    DC-style magnitude category + offset bits, components interleaved
    one sample per MCU.  Differential frames (SOF7) code the signed
    difference samples directly — no prediction (J.1.1.4 forbids it,
    SOS Ss = 0).  A non-differential BASE frame (SOF3 inside the
    pyramid) codes predictor-1 residuals with the H.1.2 boundary rules
    (first sample 128, first line left, first column above) — SOS
    Ss = 1.  Exact by construction either way."""
    import struct

    if not differential:
        diffs = [
            d.astype(np.int32) - _ll_predictions(d.astype(np.int32), 1)
            for d in diffs
        ]
    h, w = diffs[0].shape
    syms = [set(), set()]
    for ci, d in enumerate(diffs):
        tsel = 0 if ci == 0 else 1
        flat = d.reshape(-1)
        for v in flat:
            syms[tsel].add(_magnitude(int(v))[0])
    tabs = [_canonical_codes(s) for s in syms]
    bw_ = _BitWriter()
    for y in range(h):
        for x in range(w):
            for ci, d in enumerate(diffs):
                t = tabs[0 if ci == 0 else 1][0]
                size, code = _magnitude(int(d[y, x]))
                hc, hl = t[size]
                bw_.write(hc, hl)
                if size:
                    bw_.write(code, size)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    for tid, (_t, bits, vals) in enumerate(tabs):
        out += seg(0xFFC4, bytes([tid]) + bytes(bits) + bytes(vals))
    # lossless SOS: Ss = predictor (0 = none/differential, 1 = left)
    ss = 0 if differential else 1
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, ss, 0, 0]))
    out += bw_.flush()
    return bytes(out)


def _hier_frame_payload(
    planes: list, q_by_comp: list, differential: bool
) -> tuple[bytes, list]:
    """Entropy-code one hierarchical frame (3 components, 4:4:4,
    sequential Huffman) from integer sample planes — absolute samples
    for the base frame (level shift 128, DC predicted) or signed
    differences for differential frames (no shift, no prediction).
    Returns (DHT segments + SOS + scan bytes, decoder-visible
    reconstruction planes as float arrays)."""
    import struct

    zzc, recons = _hier_dct_coefs(planes, q_by_comp, differential)

    def blocks_seq():
        # interleaved MCU order; 4:4:4 -> one block per component per MCU
        by, bx = zzc[0].shape[:2]
        for my in range(by):
            for mx in range(bx):
                for ci in range(3):
                    yield ci, zzc[ci][my, mx]

    dc_syms = [set(), set()]
    ac_syms = [set(), set()]
    prev_dc = [0, 0, 0]
    for ci, zz in blocks_seq():
        tsel = 0 if ci == 0 else 1
        dc_val = int(zz[0]) - (0 if differential else prev_dc[ci])
        prev_dc[ci] = int(zz[0])
        dc_syms[tsel].add(_magnitude(dc_val)[0])
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms[tsel].add(0xF0)
                run -= 16
            ac_syms[tsel].add((run << 4) | _magnitude(v)[0])
            run = 0
        if run:
            ac_syms[tsel].add(0x00)
    ac_syms[0].add(0x00), ac_syms[1].add(0x00)
    dc_tabs = [_canonical_codes(s) for s in dc_syms]
    ac_tabs = [_canonical_codes(s) for s in ac_syms]

    bw_ = _BitWriter()
    prev_dc = [0, 0, 0]
    for ci, zz in blocks_seq():
        tsel = 0 if ci == 0 else 1
        dc_t, ac_t = dc_tabs[tsel][0], ac_tabs[tsel][0]
        dc_val = int(zz[0]) - (0 if differential else prev_dc[ci])
        prev_dc[ci] = int(zz[0])
        size, code = _magnitude(dc_val)
        hc, hl = dc_t[size]
        bw_.write(hc, hl)
        if size:
            bw_.write(code, size)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                hc, hl = ac_t[0xF0]
                bw_.write(hc, hl)
                run -= 16
            s, c = _magnitude(v)
            hc, hl = ac_t[(run << 4) | s]
            bw_.write(hc, hl)
            bw_.write(c, s)
            run = 0
        if run:
            hc, hl = ac_t[0x00]
            bw_.write(hc, hl)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    for tclass, tabs in ((0, dc_tabs), (1, ac_tabs)):
        for tid, (_t, bits, vals) in enumerate(tabs):
            out += seg(
                0xFFC4, bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
            )
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw_.flush()
    return bytes(out), recons


def _hier_progressive_payload(
    diffs: list, q_by_comp: list, differential: bool = True
) -> tuple[bytes, list]:
    """PROGRESSIVE frame for the hierarchical pipeline: the quantized
    DCT coefficients transmitted as an 8-scan successive-approximation
    progression — interleaved DC first (Al=1), per-component AC first
    (1-63, Al=1), DC refinement, per-component AC refinement.
    Differential frames (SOF6) code DC with NO prediction per G.1.2.1
    and no level shift; a non-differential BASE frame (SOF2 inside the
    pyramid) predicts DC and level-shifts like any progressive frame.
    The full precision arrives by the last scan, so the reconstruction
    equals the sequential frame's bit-for-bit."""
    import struct

    zzc, recons = _hier_dct_coefs(diffs, q_by_comp, differential)
    dims = [(z.shape[0], z.shape[1]) for z in zzc]

    def dc_first_ops(al):
        by, bx = dims[0]
        units = []
        prev = [0, 0, 0]
        for y in range(by):
            for x in range(bx):
                ops = []
                for ci in range(3):
                    t = 0 if ci == 0 else 1
                    v = int(zzc[ci][y, x, 0]) >> al
                    if differential:
                        d = v  # no prediction in differential frames
                    else:
                        d = v - prev[ci]
                        prev[ci] = v
                    size, code = _magnitude(d)
                    ops.append(("s", 0, t, size))
                    if size:
                        ops.append(("b", code, size))
                units.append(ops)
        return units

    def dc_refine_ops(al):
        by, bx = dims[0]
        return [
            [
                ("b", (int(zzc[ci][y, x, 0]) >> al) & 1, 1)
                for ci in range(3)
            ]
            for y in range(by)
            for x in range(bx)
        ]

    def ac_first_ops(ci, ss, se, al):
        t = 0 if ci == 0 else 1
        units = []
        by, bx = dims[ci]
        for y in range(by):
            for x in range(bx):
                ops = []
                band = zzc[ci][y, x]
                run = 0
                for k in range(ss, se + 1):
                    v = int(band[k])
                    a = abs(v) >> al
                    if a == 0:
                        run += 1
                        continue
                    while run > 15:
                        ops.append(("s", 1, t, 0xF0))
                        run -= 16
                    s, c = _magnitude(a if v > 0 else -a)
                    ops.append(("s", 1, t, (run << 4) | s))
                    ops.append(("b", c, s))
                    run = 0
                if run:
                    ops.append(("s", 1, t, 0x00))  # EOB run of 1
                units.append(ops)
        return units

    def ac_refine_ops(ci, ss, se, ah, al):
        t = 0 if ci == 0 else 1
        units = []
        by, bx = dims[ci]
        for y in range(by):
            for x in range(bx):
                ops = []
                band = zzc[ci][y, x]
                queue: list = []
                for k in range(ss, se + 1):
                    v = int(band[k])
                    a = abs(v)
                    if a >> ah:  # history-nonzero at prior precision
                        queue.append(("h", (a >> al) & 1))
                    elif (a >> al) == 1:  # newly significant this scan
                        while sum(1 for q in queue if q[0] == "z") > 15:
                            ops.append(("s", 1, t, 0xF0))
                            zc = 0
                            while zc < 16:
                                it = queue.pop(0)
                                if it[0] == "z":
                                    zc += 1
                                else:
                                    ops.append(("b", it[1], 1))
                        run = sum(1 for q in queue if q[0] == "z")
                        ops.append(("s", 1, t, (run << 4) | 1))
                        ops.append(("b", 1 if v > 0 else 0, 1))
                        ops.extend(
                            ("b", it[1], 1) for it in queue if it[0] == "h"
                        )
                        queue = []
                    else:
                        queue.append(("z",))
                if queue:
                    ops.append(("s", 1, t, 0x00))
                    ops.extend(
                        ("b", it[1], 1) for it in queue if it[0] == "h"
                    )
                units.append(ops)
        return units

    all_comps = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]
    scan_plan = [
        (all_comps, 0, 0, 0, 1, dc_first_ops(1)),
        ([(1, 0, 0)], 1, 63, 0, 1, ac_first_ops(0, 1, 63, 1)),
        ([(2, 1, 1)], 1, 63, 0, 1, ac_first_ops(1, 1, 63, 1)),
        ([(3, 1, 1)], 1, 63, 0, 1, ac_first_ops(2, 1, 63, 1)),
        (all_comps, 0, 0, 1, 0, dc_refine_ops(0)),
        ([(1, 0, 0)], 1, 63, 1, 0, ac_refine_ops(0, 1, 63, 1, 0)),
        ([(2, 1, 1)], 1, 63, 1, 0, ac_refine_ops(1, 1, 63, 1, 0)),
        ([(3, 1, 1)], 1, 63, 1, 0, ac_refine_ops(2, 1, 63, 1, 0)),
    ]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    for sc, ss, se, ah, al, units in scan_plan:
        syms: dict = {}
        for ops in units:
            for op in ops:
                if op[0] == "s":
                    syms.setdefault((op[1], op[2]), set()).add(op[3])
        tabs = {key: _canonical_codes(s) for key, s in syms.items()}
        for (tclass, tid), (table, bits, vals) in sorted(tabs.items()):
            out += seg(
                0xFFC4, bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)
            )
        body = bytes([len(sc)])
        for cid, dcs, acs in sc:
            body += bytes([cid, dcs << 4 | acs])
        body += bytes([ss, se, ah << 4 | al])
        out += seg(0xFFDA, body)
        bw_ = _BitWriter()
        for ops in units:
            for op in ops:
                if op[0] == "s":
                    hc, hl = tabs[(op[1], op[2])][0][op[3]]
                    bw_.write(hc, hl)
                else:
                    bw_.write(op[1], op[2])
        out += bw_.flush()
    return bytes(out), recons


def _encode_jpeg_hierarchical(
    w: int,
    h: int,
    rgb: bytes,
    quality: int = 90,
    levels: int = 3,
    return_recon: bool = False,
    lossless_final: bool = False,
    progressive_refine: bool = False,
    entropy: str = "huffman",
    base_mode: str = "sequential",
):
    """(w, h, top-down RGB) -> hierarchical JFIF bytes: DHP + a 4:4:4
    SOF0 base frame at 1/2^(levels-1) resolution + differential
    refinements, each preceded by an EXP doubling.  The encoder runs the
    decoder's exact reconstruction in the loop (quantize -> dequant ->
    IDCT -> clamp), so with ``return_recon`` the returned RGB is a
    zero-tolerance oracle for the decoder.  ``lossless_final`` appends a
    differential LOSSLESS frame (SOF7) at full resolution, making the
    decoded YCbCr planes exactly equal the source planes — the
    progressive-to-lossless delivery mode Annex J was designed for.
    ``progressive_refine`` transmits the differential DCT frames as
    8-scan PROGRESSIVE frames (SOF6) instead of sequential (SOF5); both
    carry identical quantized coefficients, so the reconstruction is
    bit-for-bit the same — which the tests pin.  ``entropy="arithmetic"``
    swaps every frame's entropy coder for the T.81 QM coder
    (llmops/jpeg_arith): SOF9 base + SOF13/14 differential DCT + SOF15
    differential lossless — again identical coefficients, identical
    reconstruction.  ``base_mode`` picks the NON-differential base
    frame's process: "sequential" (SOF0/SOF9), "progressive" (SOF2/
    SOF10 inside the pyramid) or "lossless" (SOF3/SOF11, predictor-1 —
    the base level becomes exact); with these, every T.81 frame type
    decodes in a legal hierarchical slot."""
    import struct

    if levels < 1:
        raise ValueError("hierarchical JPEG needs >= 1 level")
    qy, qc = _jpeg_qtables(quality)
    q_by_comp = [qy, qc, qc]

    px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.float64)
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    full = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    full = [np.clip(np.rint(p), 0, 255).astype(np.int32) for p in full]

    # source pyramid: cascaded 2x2 box averages (encoder's choice of
    # downsampling filter per J.1.1.1), smallest level last
    pyramid = [full]
    for _ in range(levels - 1):
        prev = pyramid[-1]
        lvl = []
        for p in prev:
            ph = (p.shape[0] + 1) // 2 * 2
            pw = (p.shape[1] + 1) // 2 * 2
            pad = np.pad(
                p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
            )
            lvl.append(
                np.rint(
                    pad.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
                ).astype(np.int32)
            )
        pyramid.append(lvl)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def sof_payload(fw: int, fh: int) -> bytes:
        return struct.pack(">BHHB", 8, fh, fw, 3) + bytes(
            [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
        )

    def zz_q(q: np.ndarray) -> bytes:
        return bytes(int(q.reshape(64)[i]) for i in _ZIGZAG)

    if entropy not in ("huffman", "arithmetic"):
        raise ValueError(f"unknown entropy coder {entropy!r}")
    if base_mode not in ("sequential", "progressive", "lossless"):
        raise ValueError(f"unknown base mode {base_mode!r}")
    arith = entropy == "arithmetic"
    if arith:
        from data_pipeline_spark.llmops import jpeg_arith as _ja

    _SOS_SEQ = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    _SOS_LL = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0])

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0]) + zz_q(qy))
    out += seg(0xFFDB, bytes([1]) + zz_q(qc))
    if arith:
        # DAC: default conditioning (DC L=0/U=1, AC Kx=5), both tables
        out += seg(0xFFCC, bytes([0x00, 0x10, 0x01, 0x10, 0x10, 5, 0x11, 5]))
    out += seg(0xFFDE, sof_payload(w, h))  # DHP: full-image dimensions

    ref: list | None = None
    for k in range(levels - 1, -1, -1):
        srcs = pyramid[k]
        fh, fw = srcs[0].shape
        if ref is None:
            if base_mode == "lossless":
                # exact base: predictor-1 lossless frame (SOF3/SOF11)
                marker = 0xFFCB if arith else 0xFFC3
                out += seg(marker, sof_payload(fw, fh))
                if arith:
                    out += seg(
                        0xFFDA, bytes([3, 1, 0, 2, 0x11, 3, 0x11, 1, 0, 0])
                    )
                    out += _ja.hier_code_lossless(srcs, differential=False)
                else:
                    out += _hier_lossless_payload(srcs, differential=False)
                recons = [s.astype(np.float64) for s in srcs]
            elif base_mode == "progressive":
                if arith:
                    out += seg(0xFFCA, sof_payload(fw, fh))
                    zzc, recons = _hier_dct_coefs(
                        srcs, q_by_comp, differential=False
                    )
                    for comp_ids, ss, se, ah, al, body in (
                        _ja.hier_code_dct_progressive(zzc, predict_dc=True)
                    ):
                        hdr = bytes([len(comp_ids)])
                        for ci in comp_ids:
                            hdr += bytes(
                                [ci + 1, 0x00 if ci == 0 else 0x11]
                            )
                        hdr += bytes([ss, se, ah << 4 | al])
                        out += seg(0xFFDA, hdr)
                        out += body
                else:
                    out += seg(0xFFC2, sof_payload(fw, fh))
                    payload, recons = _hier_progressive_payload(
                        srcs, q_by_comp, differential=False
                    )
                    out += payload
            elif arith:
                out += seg(0xFFC9, sof_payload(fw, fh))
                zzc, recons = _hier_dct_coefs(
                    srcs, q_by_comp, differential=False
                )
                out += seg(0xFFDA, _SOS_SEQ)
                out += _ja.hier_code_dct_sequential(zzc, predict_dc=True)
            else:
                out += seg(0xFFC0, sof_payload(fw, fh))
                payload, recons = _hier_frame_payload(
                    srcs, q_by_comp, differential=False
                )
                out += payload
            ref = [
                np.clip(np.rint(rc), 0, 255).astype(np.int32)
                for rc in recons
            ]
        else:
            out += seg(0xFFDF, bytes([0x11]))  # EXP: double both axes
            ref = [
                _hier_upsample(rp, 1, 1)[:fh, :fw] for rp in ref
            ]
            diffs = [s - rp for s, rp in zip(srcs, ref)]
            if arith and progressive_refine:
                out += seg(0xFFCE, sof_payload(fw, fh))
                zzc, recons = _hier_dct_coefs(
                    diffs, q_by_comp, differential=True
                )
                for comp_ids, ss, se, ah, al, body in (
                    _ja.hier_code_dct_progressive(zzc)
                ):
                    hdr = bytes([len(comp_ids)])
                    for ci in comp_ids:
                        hdr += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
                    hdr += bytes([ss, se, ah << 4 | al])
                    out += seg(0xFFDA, hdr)
                    out += body
            elif arith:
                out += seg(0xFFCD, sof_payload(fw, fh))
                zzc, recons = _hier_dct_coefs(
                    diffs, q_by_comp, differential=True
                )
                out += seg(0xFFDA, _SOS_SEQ)
                out += _ja.hier_code_dct_sequential(zzc, predict_dc=False)
            elif progressive_refine:
                out += seg(0xFFC6, sof_payload(fw, fh))
                payload, recons = _hier_progressive_payload(
                    diffs, q_by_comp
                )
                out += payload
            else:
                out += seg(0xFFC5, sof_payload(fw, fh))
                payload, recons = _hier_frame_payload(
                    diffs, q_by_comp, differential=True
                )
                out += payload
            ref = [
                np.clip(rp + np.rint(rc).astype(np.int32), 0, 255).astype(
                    np.int32
                )
                for rp, rc in zip(ref, recons)
            ]
    if lossless_final:
        # full-resolution differential lossless frame: closes the gap to
        # the exact source planes (no EXP — same dimensions)
        diffs = [s - rp for s, rp in zip(full, ref)]
        if arith:
            out += seg(0xFFCF, sof_payload(w, h))
            out += seg(0xFFDA, _SOS_LL)
            out += _ja.hier_code_lossless(diffs)
        else:
            out += seg(0xFFC7, sof_payload(w, h))
            out += _hier_lossless_payload(diffs)
        ref = [s.copy() for s in full]
    out += b"\xff\xd9"
    stream = bytes(out)
    if not return_recon:
        return stream
    y, cb, cr = (p.astype(np.float64) for p in ref)
    cb, cr = cb - 128.0, cr - 128.0
    exp = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return stream, np.clip(np.rint(exp), 0, 255).astype(np.uint8).tobytes()


def _decode_jpeg_hierarchical(content: bytes) -> tuple[int, int, bytes]:
    """Hierarchical (DHP-led) JPEG -> (w, h, top-down RGB).  Decodes the
    non-differential base frame (SOF0/1) and SOF5 differential sequential
    refinements, applying EXP reference expansions between frames;
    SOF6/7 and the arithmetic hierarchical modes raise into the seam."""
    import struct

    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    dhp = None
    pending_exp = (0, 0)
    frame = None  # (fw, fh, comps, mode)
    refs: dict[int, np.ndarray] = {}
    prog_scans: list = []  # SOF6: scans accumulate until the next frame

    def read_symbol(reader: _BitReader, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | reader.read(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in hierarchical scan")

    def _apply_dct_coefs(
        coef_by_cid: dict, fw: int, fh: int, comps, base: bool
    ) -> None:
        """Dequantize zigzag (by, bx, 64) coefficient arrays and IDCT.
        Differential frames (no level shift) ADD to the reference; base
        frames (+128 shift) SET it.  Clamped either way."""
        qsel = {cid: q for cid, _s, q in comps}
        for cid, zz in coef_by_cid.items():
            nat = np.zeros(zz.shape, np.float64)
            nat[:, :, _ZIGZAG] = zz.astype(np.float64)
            arr = nat.reshape(zz.shape[0], zz.shape[1], 8, 8) * qtables[
                qsel[cid]
            ]
            sp = np.einsum("ji,yxjk,kl->yxil", _DCT_C, arr, _DCT_C)
            if base:
                sp = sp + 128.0
            fullp = sp.transpose(0, 2, 1, 3).reshape(
                zz.shape[0] * 8, zz.shape[1] * 8
            )[:fh, :fw]
            add = np.rint(fullp).astype(np.int32)
            if not base:
                add = refs[cid] + add
            refs[cid] = np.clip(add, 0, 255).astype(np.int32)

    def _apply_diff_coefs(coef_by_cid: dict, fw: int, fh: int, comps) -> None:
        _apply_dct_coefs(coef_by_cid, fw, fh, comps, base=False)

    def finish_prog_frame() -> None:
        """Close an open progressive frame (SOF6/SOF14 differential, or
        SOF2/SOF10 base inside the pyramid): accumulate its scans'
        coefficients, dequantize, IDCT, add-to or set the reference."""
        nonlocal frame, prog_scans
        if frame is None or not prog_scans:
            return
        fw, fh, comps, mode = frame
        by, bx = (fh + 7) // 8, (fw + 7) // 8
        base = mode.startswith("base")
        if mode in ("diff_prog", "base_prog"):
            sampling = {cid: (1, 1) for cid, _s, _q in comps}
            coef = _jpeg_progressive_coefs(
                prog_scans, sampling, 1, 1, fw, fh, by, bx, read_symbol,
                predict_dc=base,
            )
        elif mode in ("diff_prog_arith", "base_prog_arith"):
            from data_pipeline_spark.llmops import jpeg_arith as _ja

            arrays = _ja.hier_decode_dct_progressive(
                prog_scans, by, bx, len(comps), predict_dc=base
            )
            coef = {comps[ci][0]: arrays[ci] for ci in range(len(comps))}
        else:
            return
        _apply_dct_coefs(coef, fw, fh, comps, base=base)
        frame = None
        prog_scans = []

    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = struct.unpack_from(">H", content, pos)[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack_from(">H", content, pos + 2)
        payload = content[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFDB:
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise NotImplementedError("16-bit DQT in hierarchical")
                q = np.zeros(64)
                for i, v in enumerate(payload[p + 1 : p + 65]):
                    q[_ZIGZAG[i]] = v
                qtables[prec_id & 0xF] = q.reshape(8, 8)
                p += 65
        elif marker == 0xFFC4:
            p = 0
            while p < len(payload):
                tc_id = payload[p]
                bits = payload[p + 1 : p + 17]
                nvals = sum(bits)
                vals = payload[p + 17 : p + 17 + nvals]
                table: dict = {}
                code = 0
                vi = 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(ln, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                htables[(tc_id >> 4, tc_id & 0xF)] = table
                p += 17 + nvals
        elif marker == 0xFFDE:
            prec, fh, fw, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise NotImplementedError("hierarchical precision != 8")
            dhp = (fw, fh, nc)
        elif marker == 0xFFDD:
            # the scan-end search below does not skip RSTn markers, so a
            # hierarchical stream with an active restart interval would
            # truncate at the first RST — route to the seam by name
            # instead of failing with a confusing marker-parse error
            if struct.unpack_from(">H", payload, 0)[0] != 0:
                raise NotImplementedError(
                    "restart intervals (DRI) in hierarchical JPEG need PIL"
                )
        elif marker == 0xFFDF:
            finish_prog_frame()  # EXP precedes the NEXT frame
            pending_exp = (payload[0] >> 4, payload[0] & 0xF)
        elif marker == 0xFFCC:
            # DAC: the encoder emits the T.81 default conditioning; a
            # stream with non-default bounds would decode wrongly, so
            # raise by name rather than silently mis-adapt
            p = 0
            while p + 1 < len(payload):
                tc = payload[p] >> 4
                v = payload[p + 1]
                if (tc == 0 and v != 0x10) or (tc == 1 and v != 5):
                    raise NotImplementedError(
                        "non-default arithmetic conditioning in "
                        "hierarchical stream needs PIL"
                    )
                p += 2
        elif marker in (
            0xFFC0, 0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
            0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF,
        ):
            finish_prog_frame()  # a new frame closes an open prog one
            prec, fh, fw, nc = struct.unpack_from(">BHHB", payload, 0)
            comps = [
                (payload[6 + 3 * i], payload[7 + 3 * i], payload[8 + 3 * i])
                for i in range(nc)
            ]
            for _cid, s, _q in comps:
                if s != 0x11:
                    raise NotImplementedError(
                        "subsampled hierarchical frames need PIL"
                    )
            mode = {
                0xFFC2: "base_prog", 0xFFC3: "base_lossless",
                0xFFC5: "diff_dct", 0xFFC6: "diff_prog",
                0xFFC7: "diff_lossless", 0xFFC9: "base_arith",
                0xFFCA: "base_prog_arith", 0xFFCB: "base_lossless_arith",
                0xFFCD: "diff_dct_arith", 0xFFCE: "diff_prog_arith",
                0xFFCF: "diff_lossless_arith",
            }.get(marker, "base")
            if mode.startswith("diff") and not refs:
                raise ValueError("differential frame with no reference")
            if mode.startswith("base") and refs:
                raise NotImplementedError(
                    "a second non-differential frame mid-pyramid (multi-"
                    "frame component groups) needs PIL on the cluster "
                    "image"
                )
            if pending_exp != (0, 0):
                eh, ev = pending_exp
                for cid in list(refs):
                    refs[cid] = _hier_upsample(refs[cid], eh, ev)[:fh, :fw]
                pending_exp = (0, 0)
            frame = (fw, fh, comps, mode)
        elif marker == 0xFFDA:
            if frame is None or dhp is None:
                raise ValueError("hierarchical SOS before DHP/SOF")
            fw, fh, comps, mode = frame
            differential = mode != "base"
            ns = payload[0]
            scan_sel = [
                (payload[1 + 2 * i], payload[2 + 2 * i] >> 4,
                 payload[2 + 2 * i] & 0xF)
                for i in range(ns)
            ]
            e = pos
            while e < len(content) - 1:
                if content[e] != 0xFF:
                    e += 1
                elif content[e + 1] == 0x00:
                    e += 2
                elif content[e + 1] == 0xFF:
                    e += 1
                else:
                    break
            if mode in ("diff_prog", "base_prog"):
                # progressive: scans accumulate; the frame closes at the
                # next structural marker (EXP/SOF/EOI)
                ss_, se_ = payload[1 + 2 * ns], payload[2 + 2 * ns]
                ahal_ = payload[3 + 2 * ns]
                prog_scans.append(
                    (scan_sel, ss_, se_, ahal_ >> 4, ahal_ & 0xF,
                     content[pos:e], dict(htables), 0)
                )
                pos = e
                continue
            if mode in ("diff_prog_arith", "base_prog_arith"):
                ss_, se_ = payload[1 + 2 * ns], payload[2 + 2 * ns]
                ahal_ = payload[3 + 2 * ns]
                cid_to_idx = {c[0]: i for i, c in enumerate(comps)}
                comp_ids = tuple(
                    cid_to_idx[scid] for scid, _d, _a in scan_sel
                )
                prog_scans.append(
                    (comp_ids, ss_, se_, ahal_ >> 4, ahal_ & 0xF,
                     content[pos:e])
                )
                pos = e
                continue
            if mode in ("base_arith", "diff_dct_arith"):
                from data_pipeline_spark.llmops import jpeg_arith as _ja

                by, bx = (fh + 7) // 8, (fw + 7) // 8
                arrays = _ja.hier_decode_dct_sequential(
                    content[pos:e], by, bx, len(comps),
                    predict_dc=mode == "base_arith",
                )
                pos = e
                if mode == "diff_dct_arith":
                    _apply_diff_coefs(
                        {comps[ci][0]: arrays[ci] for ci in range(len(comps))},
                        fw, fh, comps,
                    )
                else:
                    qsel = {cid: q for cid, _s, q in comps}
                    for ci, (cid, _s, _q) in enumerate(comps):
                        zz = arrays[ci]
                        nat = np.zeros(zz.shape, np.float64)
                        nat[:, :, _ZIGZAG] = zz.astype(np.float64)
                        arr = nat.reshape(by, bx, 8, 8) * qtables[qsel[cid]]
                        sp = (
                            np.einsum(
                                "ji,yxjk,kl->yxil", _DCT_C, arr, _DCT_C
                            )
                            + 128.0
                        )
                        fullp = sp.transpose(0, 2, 1, 3).reshape(
                            by * 8, bx * 8
                        )[:fh, :fw]
                        refs[cid] = np.clip(
                            np.rint(fullp), 0, 255
                        ).astype(np.int32)
                frame = None
                continue
            if mode in ("diff_lossless_arith", "base_lossless_arith"):
                from data_pipeline_spark.llmops import jpeg_arith as _ja

                diffl = mode == "diff_lossless_arith"
                planes = _ja.hier_decode_lossless(
                    content[pos:e], fw, fh, len(comps), differential=diffl
                )
                pos = e
                for ci, (cid, _s, _q) in enumerate(comps):
                    v = refs[cid] + planes[ci] if diffl else planes[ci]
                    refs[cid] = np.clip(v, 0, 255).astype(np.int32)
                frame = None
                continue
            reader = _BitReader(content[pos:e])
            pos = e
            if mode in ("diff_lossless", "base_lossless"):
                # per-sample magnitude coding, one sample per component
                # per MCU; differential frames are unpredicted (Ss = 0
                # by J.1.1.4), a base SOF3 frame reconstructs causally
                # through predictor 1 (Ss = 1, H.1.2 boundary rules)
                base_ll = mode == "base_lossless"
                diffs = {
                    cid: np.zeros((fh, fw), np.int32)
                    for cid, _d, _a in scan_sel
                }
                for y in range(fh):
                    for x in range(fw):
                        for cid, dcs, _acs in scan_sel:
                            size = read_symbol(reader, htables[(0, dcs)])
                            v = _extend(reader.read(size), size)
                            if base_ll:
                                d = diffs[cid]
                                if y == 0 and x == 0:
                                    v += 128
                                elif y == 0:
                                    v += int(d[0, x - 1])
                                elif x == 0:
                                    v += int(d[y - 1, 0])
                                else:
                                    v += int(d[y, x - 1])
                            diffs[cid][y, x] = v
                for cid, d in diffs.items():
                    v = d if base_ll else refs[cid] + d
                    refs[cid] = np.clip(v, 0, 255).astype(np.int32)
                frame = None
                continue
            by, bx = (fh + 7) // 8, (fw + 7) // 8
            qsel = {cid: q for cid, _s, q in comps}
            shift = 0.0 if differential else 128.0
            planes = {
                cid: np.zeros((by, bx, 8, 8), np.float64)
                for cid, _d, _a in scan_sel
            }
            prev_dc = {cid: 0 for cid, _d, _a in scan_sel}
            for my in range(by):
                for mx in range(bx):
                    for cid, dcs, acs in scan_sel:
                        dct = htables[(0, dcs)]
                        act = htables[(1, acs)]
                        zz = np.zeros(64, np.int64)
                        size = read_symbol(reader, dct)
                        dc = _extend(reader.read(size), size)
                        if not differential:
                            prev_dc[cid] += dc
                            zz[0] = prev_dc[cid]
                        else:
                            zz[0] = dc
                        k = 1
                        while k < 64:
                            sym = read_symbol(reader, act)
                            if sym == 0x00:
                                break
                            run, size = sym >> 4, sym & 0xF
                            k += run
                            if size == 0:
                                if run != 15:
                                    raise ValueError("bad AC run symbol")
                                k += 1
                                continue
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(reader.read(size), size)
                            k += 1
                        blk = np.zeros(64, np.float64)
                        blk[_ZIGZAG] = zz
                        planes[cid][my, mx] = blk.reshape(8, 8) * qtables[
                            qsel[cid]
                        ]
            for cid, arr in planes.items():
                sp = (
                    np.einsum("ji,yxjk,kl->yxil", _DCT_C, arr, _DCT_C)
                    + shift
                )
                fullp = sp.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)[
                    :fh, :fw
                ]
                add = np.rint(fullp).astype(np.int32)
                if differential:
                    refs[cid] = np.clip(refs[cid] + add, 0, 255).astype(
                        np.int32
                    )
                else:
                    refs[cid] = np.clip(add, 0, 255).astype(np.int32)
            frame = None
        # APPn / COM: skipped
    finish_prog_frame()  # EOI closes a trailing SOF6 frame
    if dhp is None or not refs:
        raise ValueError("hierarchical JPEG missing DHP or frames")
    fw, fh, nc = dhp
    if nc == 1:
        y = refs[next(iter(refs))].astype(np.uint8)
        return fw, fh, np.repeat(y[:, :, None], 3, axis=2).tobytes()
    ids = sorted(refs)
    y, cb, cr = (refs[i].astype(np.float64) for i in ids[:3])
    cb, cr = cb - 128.0, cr - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return fw, fh, np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()


def _jpeg_reconstruct(
    fw, fh, nc, order, out_planes, sampling, hmax, vmax, prec: int = 8
) -> tuple[int, int, bytes]:
    """IDCT all blocks of all components at once; upsample subsampled
    components back to frame resolution by pixel replication; YCbCr ->
    RGB.  ``order``/``out_planes`` are parallel: component ids and their
    dequantized (block rows, block cols, 8, 8) float arrays.  12-bit
    samples (level shift 2048) normalize to 8-bit output by the exact
    float scale 1/16 — the linear color transform commutes with it."""
    center = float(1 << (prec - 1))
    down = float(1 << (prec - 8))
    planes = []
    for cid, cp in zip(order, out_planes):
        sh, sv = sampling[cid]
        sp = np.einsum("ji,yxjk,kl->yxil", _DCT_C, cp, _DCT_C) + center
        full = sp.transpose(0, 2, 1, 3).reshape(cp.shape[0] * 8, cp.shape[1] * 8)
        ch_ = -(-fh * sv // vmax)  # ceil: component-resolution extent
        cw_ = -(-fw * sh // hmax)
        comp = full[:ch_, :cw_]
        if sv != vmax or sh != hmax:
            comp = np.repeat(
                np.repeat(comp, vmax // sv, axis=0), hmax // sh, axis=1
            )
        planes.append(comp[:fh, :fw])
    if nc == 1:
        y = np.clip(np.rint(planes[0] / down), 0, 255).astype(np.uint8)
        return fw, fh, np.repeat(y[:, :, None], 3, axis=2).tobytes()
    y, cb, cr = planes[0], planes[1] - center, planes[2] - center
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return fw, fh, np.clip(
        np.rint(rgb / down), 0, 255
    ).astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# Real TIFF codec (stdlib struct only): uncompressed strip-based baseline
# TIFF, both byte orders on decode (II little- and MM big-endian), 8-bit
# RGB and grayscale — plus WhiteIsZero inversion, palette images via the
# ColorMap tag, and planar (PlanarConfiguration=2) RGB reassembly.
# LZW (MSB-first early-change), deflate (zlib) and PackBits strips
# decompress natively, with the horizontal predictor undone post-decode.
# New-style JPEG-in-TIFF (compression 7, JPEGTables splice) decodes
# through the native JPEG path for gray/YCbCr payloads.  CCITT fax
# compression, old-style JPEG (6) and CIELab photometrics raise into
# the PIL seam; strip AND tiled layouts and gray/RGB/palette/CMYK
# photometrics decode natively.
# ---------------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 266: "fill_order", 273: "strip_offsets",
    277: "spp", 278: "rows_per_strip", 279: "strip_counts",
    284: "planar_config", 292: "t4_options", 293: "t6_options",
    317: "predictor", 320: "color_map",
    322: "tile_width", 323: "tile_length",
    324: "tile_offsets", 325: "tile_counts",
    347: "jpeg_tables",
}


def _tiff_unpackbits(data: bytes) -> bytes:
    """PackBits RLE (compression 32773): n<128 -> n+1 literals, n>128 ->
    byte repeated 257-n times, n==128 no-op."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF LZW (compression 5): MSB-first variable-width codes with
    ClearCode 256 / EOI 257 and the spec's EARLY code-width change (the
    width grows when the next free code reaches 2^width - 1) — distinct
    from GIF's LSB-first late-change LZW."""
    out = bytearray()
    table: list = []
    width = 9
    prev: bytes | None = None
    nxt = 258
    acc = 0
    nbits = 0

    def reset():
        nonlocal table, width, prev, nxt
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None
        nxt = 258

    reset()
    for b in data:
        acc = (acc << 8) | b
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            acc &= (1 << nbits) - 1
            if code == 256:
                reset()
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad initial TIFF LZW code")
                entry = table[code]
            elif code < nxt:
                entry = table[code]
                table.append(prev + entry[:1])
                nxt += 1
            elif code == nxt:
                entry = prev + prev[:1]
                table.append(entry)
                nxt += 1
            else:
                raise ValueError("bad TIFF LZW code")
            out += entry
            prev = entry
            if nxt == (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)  # tolerant of a missing EOI (writers vary)


def _decode_tiff(content: bytes) -> tuple[int, int, bytes]:
    """Strip- or tile-based TIFF -> (w, h, top-down RGB buffer)."""
    import struct

    if content[:2] == b"II":
        e = "<"
    elif content[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF file")
    magic, ifd_off = struct.unpack_from(e + "HI", content, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (n_entries,) = struct.unpack_from(e + "H", content, ifd_off)
    tags: dict = {}
    type_size = {1: 1, 3: 2, 4: 4, 7: 1}  # 7 = UNDEFINED (JPEGTables)
    for i in range(n_entries):
        tag, ttype, count = struct.unpack_from(
            e + "HHI", content, ifd_off + 2 + 12 * i
        )
        if tag not in _TIFF_TAGS:
            continue
        if ttype not in type_size:
            raise ValueError(f"unsupported TIFF field type {ttype}")
        fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[ttype]
        total = type_size[ttype] * count
        voff = ifd_off + 2 + 12 * i + 8
        if total > 4:
            (voff,) = struct.unpack_from(e + "I", content, voff)
        vals = struct.unpack_from(e + str(count) + fmt, content, voff)
        tags[_TIFF_TAGS[tag]] = list(vals)
    tiled = "tile_offsets" in tags
    required = (
        ("width", "height", "tile_width", "tile_length", "tile_counts")
        if tiled
        else ("width", "height", "strip_offsets", "strip_counts")
    )
    for req in required:
        if req not in tags:
            raise ValueError(f"TIFF missing required tag {req}")
    compression = tags.get("compression", [1])[0]
    if compression == 1:
        unstrip = lambda s: s  # noqa: E731
    elif compression == 5:
        unstrip = _tiff_lzw_decode
    elif compression in (8, 32946):  # Adobe / legacy deflate
        import zlib

        unstrip = zlib.decompress
    elif compression == 32773:
        unstrip = _tiff_unpackbits
    elif compression == 7:
        unstrip = None  # new-style JPEG: segments are abbreviated streams
    elif compression in (2, 3, 4):
        unstrip = None  # CCITT fax: bilevel run-length path below
    else:
        raise NotImplementedError(
            "TIFF compression beyond none/LZW/deflate/PackBits/JPEG/"
            "CCITT (e.g. old-style JPEG 6, JBIG) needs PIL on the "
            "cluster image"
        )
    predictor = tags.get("predictor", [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(
            "TIFF predictor beyond none/horizontal needs PIL"
        )
    w, h = tags["width"][0], tags["height"][0]
    spp = tags.get("spp", [1])[0]
    bits = tags.get("bits", [8])
    bilevel = spp == 1 and all(b == 1 for b in bits)
    if not bilevel and (any(b != 8 for b in bits) or spp not in (1, 3, 4)):
        raise NotImplementedError(
            "only 1-bit bilevel and 8-bit gray/RGB/CMYK TIFF supported"
        )
    if compression in (2, 3, 4) and not bilevel:
        raise ValueError("CCITT fax compression requires 1-bit bilevel data")
    photometric = tags.get("photometric", [1 if spp == 1 else 2])[0]
    # 0 = WhiteIsZero (inverted gray), 1 = BlackIsZero, 2 = RGB,
    # 3 = palette via the ColorMap tag, 5 = CMYK (separated, uncalibrated
    # naive conversion); anything else (YCbCr, CIELab) routes to the PIL
    # seam like the module's other variants.  JPEG-in-TIFF (compression
    # 7) carries gray or YCbCr payloads the JPEG codec already converts;
    # RGB-JPEG (no color transform, spec-legal but vanishingly rare)
    # would be mis-transformed, so it routes to the seam by name.
    if compression == 7:
        if photometric not in (0, 1, 6):
            raise NotImplementedError(
                "JPEG-in-TIFF beyond gray/YCbCr photometric (e.g. "
                "untransformed RGB-JPEG) needs PIL on the cluster image"
            )
        if tags.get("planar_config", [1])[0] == 2:
            raise NotImplementedError("planar JPEG-in-TIFF needs PIL")
        if spp not in (1, 3):
            raise NotImplementedError(
                "JPEG-in-TIFF needs SamplesPerPixel 1 or 3"
            )
    elif photometric not in (0, 1, 2, 3, 5):
        raise NotImplementedError(
            "TIFF photometric beyond gray/RGB/palette/CMYK needs PIL on "
            "the cluster image"
        )
    if photometric == 3 and (spp != 1 or "color_map" not in tags):
        raise ValueError("palette TIFF needs spp=1 and a ColorMap tag")
    if photometric == 5:
        if spp != 4:
            raise ValueError("CMYK TIFF needs SamplesPerPixel=4")
        if tags.get("planar_config", [1])[0] == 2:
            raise NotImplementedError("planar CMYK TIFF needs PIL")
    planar = tags.get("planar_config", [1])[0] == 2 and spp == 3

    # JPEG-in-TIFF (TTN2 new-style, compression 7): each strip/tile is an
    # abbreviated JPEG stream; shared DQT/DHT live in the JPEGTables tag
    # (347) as a tables-only stream (SOI tables EOI) spliced in after the
    # segment's own SOI.  The segment decodes through the module's native
    # JPEG path (baseline/progressive/arithmetic all inherited for free).
    jpeg_tables = (
        bytes(tags["jpeg_tables"]) if "jpeg_tables" in tags else b""
    )

    def _jpeg_segment(data: bytes, rows: int, cols: int) -> np.ndarray:
        stream = data
        if len(jpeg_tables) >= 4 and data[:2] == b"\xff\xd8":
            stream = b"\xff\xd8" + jpeg_tables[2:-2] + data[2:]
        sw, sh, rgbb = _decode_jpeg(stream)
        if sw < cols or sh < rows:
            raise ValueError("JPEG-in-TIFF segment smaller than its cell")
        arr = np.frombuffer(rgbb, np.uint8).reshape(sh, sw, 3)[:rows, :cols]
        # gray segments come back channel-replicated; keep one sample
        return arr[:, :, :1] if spp == 1 else arr

    if bilevel:
        # 1-bit path: raw packed rows (compression 1) or CCITT fax runs
        # (2 = MH byte-aligned rows, 3 = T.4/G3 EOL rows incl. the mixed
        # 2-D mode, 4 = T.6/G4).  Each strip decodes independently — G4
        # resets its reference line to all-white per strip, exactly the
        # random-access property strip-parallel readers rely on.
        from data_pipeline_spark.llmops import fax

        if tiled:
            raise NotImplementedError("tiled bilevel TIFF needs PIL")
        if photometric not in (0, 1):
            raise ValueError("bilevel TIFF needs gray photometric")
        if tags.get("t4_options", [0])[0] & 0b10 or (
            tags.get("t6_options", [0])[0] & 0b10
        ):
            raise NotImplementedError(
                "CCITT uncompressed-mode escapes need PIL"
            )
        two_d = bool(tags.get("t4_options", [0])[0] & 1)
        rps = tags.get("rows_per_strip", [h])[0]
        fill_order = tags.get("fill_order", [1])[0]
        row_bytes = (w + 7) // 8
        parts = []
        for i, (o, n) in enumerate(
            zip(tags["strip_offsets"], tags["strip_counts"])
        ):
            rows = min(rps, h - i * rps)
            seg = content[o : o + n]
            if fill_order == 2:  # LSB-first bit order: reverse per byte
                seg = np.packbits(
                    np.unpackbits(
                        np.frombuffer(seg, np.uint8), bitorder="little"
                    )
                ).tobytes()
            if compression == 1:
                need = rows * row_bytes
                if len(seg) < need:
                    raise ValueError("truncated bilevel TIFF strip")
                bm = np.unpackbits(
                    np.frombuffer(seg, np.uint8, need).reshape(
                        rows, row_bytes
                    ),
                    axis=1,
                )[:, :w]
            elif compression == 2:
                bm = fax.decode_mh(seg, w, rows)
            elif compression == 3:
                bm = fax.decode_g3(seg, w, rows, two_d=two_d)
            else:
                bm = fax.decode_g4(seg, w, rows)
            parts.append(bm)
        px = (np.concatenate(parts, axis=0) * 255).astype(np.uint8)[
            :, :, None
        ]
    elif tiled:
        # tiled layout (tags 322-325): the image is a grid of fixed-size
        # padded tiles, row-major, each compressed independently; planar
        # images store all tiles of plane 0 first, then plane 1, ...
        # The horizontal predictor resets per tile ROW WITHIN the tile
        # (tile width, not image width), so it must be undone per tile
        # before assembly.
        tw, tl = tags["tile_width"][0], tags["tile_length"][0]
        tx, ty = -(-w // tw), -(-h // tl)
        n_planes = 3 if planar else 1
        csp = 1 if planar else spp
        offs, cnts = tags["tile_offsets"], tags["tile_counts"]
        if len(offs) != tx * ty * n_planes or len(cnts) != len(offs):
            raise ValueError("TIFF tile count does not match grid")
        canvas = np.zeros((n_planes, h, w, csp), np.uint8)
        for idx, (o, n) in enumerate(zip(offs, cnts)):
            if compression == 7:
                t = _jpeg_segment(content[o : o + n], tl, tw)
            else:
                data = unstrip(content[o : o + n])
                need = tl * tw * csp
                if len(data) < need:
                    raise ValueError("truncated TIFF tile data")
                t = np.frombuffer(data, np.uint8, need).reshape(tl, tw, csp)
                if predictor == 2:
                    t = np.cumsum(t, axis=1, dtype=np.uint8)
            p, r = divmod(idx, tx * ty)
            tyi, txi = divmod(r, tx)
            y0, x0 = tyi * tl, txi * tw
            hh, ww = min(tl, h - y0), min(tw, w - x0)
            canvas[p, y0 : y0 + hh, x0 : x0 + ww] = t[:hh, :ww]
        if planar:
            px = canvas[:, :, :, 0].transpose(1, 2, 0)
        else:
            px = canvas[0]
    elif compression == 7:
        rps = tags.get("rows_per_strip", [h])[0]
        px = np.concatenate(
            [
                _jpeg_segment(content[o : o + n], min(rps, h - i * rps), w)
                for i, (o, n) in enumerate(
                    zip(tags["strip_offsets"], tags["strip_counts"])
                )
            ],
            axis=0,
        )
    else:
        raw = b"".join(
            unstrip(content[o : o + n])
            for o, n in zip(tags["strip_offsets"], tags["strip_counts"])
        )
        if len(raw) < w * h * spp:
            raise ValueError("truncated TIFF strip data")
        if planar:
            # planar: all R strips, then G, then B — each plane w*h bytes
            plane = np.frombuffer(raw, np.uint8, 3 * w * h).reshape(3, h, w)
            px = plane.transpose(1, 2, 0)
        else:
            px = np.frombuffer(raw, np.uint8, w * h * spp).reshape(h, w, spp)
        if predictor == 2:
            # horizontal differencing: undo per row, per channel (mod 256)
            px = np.cumsum(px.astype(np.uint8), axis=1, dtype=np.uint8)
    if photometric == 0:
        px = 255 - px
    if photometric == 3:
        # ColorMap: 3 * 2^bits 16-bit values (all R, all G, all B),
        # scaled to 8 bits by the conventional >> 8
        cmap = np.asarray(tags["color_map"], np.uint16)
        n_pal = len(cmap) // 3
        lut = (cmap.reshape(3, n_pal).T >> 8).astype(np.uint8)
        px = lut[px.reshape(h, w)]
    elif photometric == 5:
        # uncalibrated CMYK -> RGB: R = (255-C)(255-K)/255, the naive
        # conversion every non-ICC consumer applies
        cmyk = px.astype(np.int32)
        k = cmyk[:, :, 3]
        px = (
            ((255 - cmyk[:, :, :3]) * (255 - k)[:, :, None]) // 255
        ).astype(np.uint8)
    elif spp == 1:
        px = np.repeat(px, 3, axis=2)
    return w, h, px.tobytes()


def _encode_tiff(w: int, h: int, rgb: bytes) -> bytes:
    """(w, h, top-down RGB) -> little-endian uncompressed two-strip TIFF
    (two strips so the strip-reassembly path is genuinely exercised)."""
    import struct

    rows_first = max(1, h // 2)
    strip1 = rgb[: rows_first * w * 3]
    strip2 = rgb[rows_first * w * 3 :]
    strips = [s for s in (strip1, strip2) if s]
    header = struct.pack("<2sHI", b"II", 42, 8)
    entries = []
    data_off = 8 + 2 + 12 * 9 + 4  # header + count + 9 entries + next-IFD
    extra = b""

    def entry(tag, ttype, count, value):
        entries.append(struct.pack("<HHII", tag, ttype, count, value))

    offsets, counts, pos = [], [], data_off
    for s in strips:
        offsets.append(pos)
        counts.append(len(s))
        extra += s
        pos += len(s)
    # BitsPerSample needs 3 SHORTs (6 bytes > 4): goes in the extra area
    bits_off = pos
    extra += struct.pack("<3H", 8, 8, 8)
    pos += 6
    if len(strips) > 1:  # offset/count arrays >4 bytes live out-of-line
        so_off, sc_off = pos, pos + 4 * len(strips)
        extra += struct.pack(f"<{len(strips)}I", *offsets)
        extra += struct.pack(f"<{len(strips)}I", *counts)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 3, bits_off)
    entry(259, 3, 1, 1)  # uncompressed
    entry(262, 3, 1, 2)  # RGB
    entry(273, 4, len(strips), offsets[0] if len(strips) == 1 else so_off)
    entry(277, 3, 1, 3)
    entry(278, 4, 1, rows_first if len(strips) > 1 else h)
    entry(279, 4, len(strips), counts[0] if len(strips) == 1 else sc_off)
    ifd = struct.pack("<H", 9) + b"".join(entries) + struct.pack("<I", 0)
    return header + ifd + extra


# ---------------------------------------------------------------------------
# Real GIF codec (stdlib only): LZW-compressed palette images (GIF87a/89a).
# Decoder handles global/local color tables, interlacing and extension
# blocks, returning the FIRST frame of animated files; encoder palettizes
# exact colors (<= 256 unique — the fixture regime; real-color photos need
# a quantizer, i.e. PIL, behind the same seam) and emits standard
# variable-width LZW.  The LZW coder is a per-code loop like the JPEG/FLAC
# entropy coders — correctness-grade in-sandbox.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list:
    """GIF-variant LZW: variable width from min+1, CLEAR/END codes,
    dictionary capped at 4096 entries."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out: list = []
    table: list = []
    width = min_code_size + 1
    prev = None
    acc = nbits = 0
    pos = 0

    def reset():
        nonlocal table, width, prev
        table = [[i] for i in range(clear)] + [None, None]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # stream ended without END code: tolerate
            acc |= data[pos] << nbits  # GIF packs codes LSB-first
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            return out
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):  # the KwKwK case
            entry = prev + [prev[0]]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream (code out of range)")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1


def _gif_lzw_encode(indices: list, min_code_size: int) -> bytes:
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    seq: tuple = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # dictionary full: clear and restart (keeps decoders happy)
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (idx,)
    if seq:
        emit(table[seq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif(content: bytes) -> tuple[int, int, bytes]:
    """GIF87a/89a -> (w, h, top-down RGB buffer of the FIRST frame)."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x7))
        gct = content[pos : pos + n]
        pos += n
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while content[pos]:
                pos += 1 + content[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block {b:#x} at {pos}")
        left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", content, pos + 1)
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 3 * (2 << (ipacked & 0x7))
            pal = content[pos : pos + n]
            pos += n
        if pal is None:
            raise ValueError("GIF image with no color table")
        min_code = content[pos]
        pos += 1
        lzw = bytearray()
        while content[pos]:
            ln = content[pos]
            lzw += content[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decode(bytes(lzw), min_code)
        if len(idx) < iw * ih:
            raise ValueError("truncated GIF pixel data")
        arr = np.asarray(idx[: iw * ih], np.int64).reshape(ih, iw)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            rows = np.empty_like(arr)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for y in range(start, ih, step):
                    rows[y] = arr[src]
                    src += 1
            arr = rows
        palette = np.frombuffer(pal, np.uint8).reshape(-1, 3)
        if int(arr.max()) >= len(palette):
            raise ValueError("GIF pixel index outside the color table")
        # first frame only (animated GIFs continue with more blocks): the
        # frame is placed on the logical screen at (left, top)
        rgb = palette[arr]
        if (left, top, iw, ih) != (0, 0, sw, sh):
            screen = np.zeros((sh, sw, 3), np.uint8)
            screen[top : top + ih, left : left + iw] = rgb
            rgb = screen
        return sw, sh, rgb.tobytes()
    raise ValueError("GIF contains no image block")


def _median_cut_palette(px: np.ndarray, n_colors: int = 256) -> np.ndarray:
    """Deterministic median-cut quantizer over an (n, 3) uint8 pixel
    array: repeatedly split the box with the largest channel range along
    that channel at its count-weighted median, until ``n_colors`` boxes;
    each palette entry is the box's count-weighted mean.  Classic Heckbert
    1982 (public literature), pure numpy."""
    colors, counts = np.unique(px, axis=0, return_counts=True)
    boxes = [(colors, counts)]
    while len(boxes) < n_colors:
        spans = [
            (b[0].max(axis=0) - b[0].min(axis=0)).max() if len(b[0]) > 1 else -1
            for b in boxes
        ]
        bi = int(np.argmax(spans))
        if spans[bi] <= 0:
            break  # every box is a single color already
        cols, cnts = boxes[bi]
        ch = int(np.argmax(cols.max(axis=0) - cols.min(axis=0)))
        order = np.argsort(cols[:, ch], kind="stable")
        cols, cnts = cols[order], cnts[order]
        cum = np.cumsum(cnts)
        split = int(np.searchsorted(cum, cum[-1] / 2.0)) + 1
        split = min(max(split, 1), len(cols) - 1)
        boxes[bi] = (cols[:split], cnts[:split])
        boxes.append((cols[split:], cnts[split:]))
    pal = np.array(
        [
            np.round(
                (b[0].astype(np.float64) * b[1][:, None]).sum(axis=0)
                / b[1].sum()
            )
            for b in boxes
        ],
        np.uint8,
    )
    return np.unique(pal, axis=0)  # merged means can collide; also sorts


def _nearest_palette_indices(px: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Exact nearest palette entry per pixel (squared euclidean, ties to
    the lowest index), chunked so the (chunk, n_pal) distance matrix stays
    small."""
    out = np.empty(len(px), np.int64)
    p = palette.astype(np.int64)
    for i in range(0, len(px), 65536):
        chunk = px[i : i + 65536].astype(np.int64)
        d2 = ((chunk[:, None, :] - p[None, :, :]) ** 2).sum(axis=2)
        out[i : i + 65536] = d2.argmin(axis=1)
    return out


def _encode_gif(w: int, h: int, rgb: bytes) -> bytes:
    """(w, h, top-down RGB) -> non-interlaced GIF89a.

    <= 256 unique colors palettize exactly (lossless roundtrip);
    true-color inputs quantize through a deterministic median-cut to a
    256-entry palette with exact nearest-color mapping — the lossy-but-
    conventional GIF path every production encoder takes."""
    import struct

    px = np.frombuffer(rgb, np.uint8).reshape(-1, 3)
    palette, inverse = np.unique(px, axis=0, return_inverse=True)
    if len(palette) > 256:
        palette = _median_cut_palette(px, 256)
        inverse = _nearest_palette_indices(px, palette)
    depth = max(1, int(len(palette) - 1).bit_length())
    pal_size = 1 << depth
    pal_bytes = palette.tobytes() + b"\x00" * (3 * (pal_size - len(palette)))
    min_code = max(2, depth)
    lzw = _gif_lzw_encode(inverse.ravel().tolist(), min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += pal_bytes
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


_CODECS = {
    "bmp": (_decode_bmp, _encode_bmp),
    "ppm": (_decode_ppm, _encode_ppm),
    "png": (_decode_png, _encode_png),
    "jpeg": (_decode_jpeg, _encode_jpeg),
    "gif": (_decode_gif, _encode_gif),
    "tiff": (_decode_tiff, _encode_tiff),
}


# ---------------------------------------------------------------------------
# Real audio codec (stdlib `wave`): 16-bit PCM WAV.  Decoded representation:
# (n_channels, sample_rate, frames) with frames the little-endian int16 PCM
# buffer (n_frames * n_channels samples).
# ---------------------------------------------------------------------------


def _decode_wav(content: bytes) -> tuple[int, int, bytes]:
    """WAV -> (n_channels, sample_rate, int16 PCM frame buffer)."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError(
                f"only 16-bit PCM WAV supported (sampwidth={wf.getsampwidth()})"
            )
        return wf.getnchannels(), wf.getframerate(), wf.readframes(wf.getnframes())


def _encode_wav(n_channels: int, sample_rate: int, frames: bytes) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(frames)
    return buf.getvalue()


from data_pipeline_spark.llmops.flac import (  # noqa: E402  (codec module)
    decode_flac as _decode_flac,
    encode_flac as _encode_flac,
)

_AUDIO_CODECS = {
    "wav": (_decode_wav, _encode_wav),
    "flac": (_decode_flac, _encode_flac),
}


def decode_audio(content: bytes, fmt: str = "unknown") -> tuple[int, int, bytes]:
    """Decode an audio blob to (n_channels, sample_rate, int16 PCM frames).

    Real stdlib/numpy decoders for ``wav`` and lossless-compressed ``flac``
    (rice-coded fixed-predictor AND LPC subframes, independent + all three
    stereo-decorrelation channel assignments, 8/16/24-bit widths
    normalized to int16; llmops.flac); remaining compressed audio
    (mp3/ogg, 12/20/32-bit FLAC) needs codec libs not in this container —
    soundfile/ffmpeg drop in here."""
    codec = _AUDIO_CODECS.get(fmt)
    if codec is None:
        raise NotImplementedError(
            f"decode of audio format {fmt!r} requires soundfile/ffmpeg on "
            "the cluster image; wav decodes natively"
        )
    return codec[0](content)


def synthesize_multiformat_media(
    df: DataFrame, id_col: str, text_col: str, width: int = 4, height: int = 4
) -> DataFrame:
    """Deterministic REAL media fixture across every native codec: row i
    becomes a bmp / ppm / png / jpeg / gif / tiff image or a 16-bit PCM
    wav / flac (by media_id % 8), pixels/samples derived from the row's
    utf-8 text bytes.  Every row then exercises a real decode in
    ``extract_features`` — lossless-compressed (PNG: zlib inflate +
    unfilter; GIF: LZW; FLAC: rice + fixed predictors), LOSSY-compressed
    (baseline JPEG: Huffman + dequant + IDCT), strip-based (TIFF) and
    audio PCM (WAV) paths included."""

    fmts = ["bmp", "ppm", "png", "wav", "jpeg", "flac", "gif", "tiff"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        need = 3 * width * height
        for pdf in batches:
            blobs, kinds, chosen = [], [], []
            for mid, t in zip(pdf["media_id"], pdf["text"]):
                raw = (t or "").encode("utf-8") or b"\x00"
                fmt = fmts[int(mid) % len(fmts)]
                if fmt in _AUDIO_CODECS:
                    n = width * height
                    pcm = (
                        (np.frombuffer(
                            (raw * (2 * n // len(raw) + 1))[: 2 * n], np.uint8
                        ).astype(np.int64) - 128) * 256
                    ).astype("<i2")
                    blobs.append(_AUDIO_CODECS[fmt][1](1, 8000, pcm.tobytes()))
                    kinds.append("audio")
                else:
                    rgb = (raw * (need // len(raw) + 1))[:need]
                    blobs.append(_CODECS[fmt][1](width, height, rgb))
                    kinds.append("image")
                chosen.append(fmt)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].reset_index(drop=True),
                    "content": blobs,
                    "media_type": kinds,
                    "format": chosen,
                    "n_bytes": [len(b) for b in blobs],
                }
            )

    prepared = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(text_col).alias("text")
    )
    return prepared.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_media(content: bytes, fmt: str = "unknown") -> tuple[int, int, bytes]:
    """Decode an image blob to (width, height, top-down RGB buffer).

    Real stdlib+numpy decoders run for ``bmp``, ``ppm``, ``png`` and
    baseline ``jpeg`` (audio goes through ``decode_audio``).  Remaining
    compressed formats (webp/gif/tiff...) require codec libs not present
    in this container — on a production image, PIL.Image.open drops in
    here (STUB retained, clearly marked)."""
    codec = _CODECS.get(fmt)
    if codec is None:
        raise NotImplementedError(
            f"decode of {fmt!r} requires PIL/ffmpeg on the cluster image; "
            "bmp/ppm/png/jpeg decode natively, other formats use the "
            "deterministic fallback kernels for pipeline testing"
        )
    return codec[0](content)


def decode_media_safe(
    content: bytes, fmt: str = "unknown"
) -> tuple[bool, int, int, bytes | None, str]:
    """Quarantine-grade decode: never raises on data problems.

    Real corpora at 100 TB contain truncated and bit-rotten files; a
    decoder exception inside a task kills it, and after Spark's retries
    the whole job — so production pipelines decode through a classifier
    that QUARANTINES bad rows instead.  Returns (ok, w, h, rgb, error)
    where error is '' on success, 'unsupported' for named seam routes
    (valid file, codec needs the PIL/ffmpeg image) and 'decode_error'
    for malformed data (any decoder exception — the fuzz test pins that
    the decoders themselves never hang on corrupt input).
    BaseException (KeyboardInterrupt etc.) still propagates."""
    try:
        w, h, rgb = decode_media(bytes(content), fmt)
        return True, w, h, rgb, ""
    except NotImplementedError:
        return False, 0, 0, None, "unsupported"
    except Exception:
        return False, 0, 0, None, "decode_error"


def decode_audio_safe(
    content: bytes, fmt: str = "unknown"
) -> tuple[bool, int, int, bytes | None, str]:
    """Audio twin of decode_media_safe: (ok, n_channels, sample_rate,
    frames, error) — corrupt streams classify instead of raising."""
    try:
        ch, rate, frames = decode_audio(bytes(content), fmt)
        return True, ch, rate, frames, ""
    except NotImplementedError:
        return False, 0, 0, None, "unsupported"
    except Exception:
        return False, 0, 0, None, "decode_error"


QUARANTINE_SCHEMA = (
    "media_id long, fmt string, decode_ok boolean, error_class string, "
    "width long, height long"
)


def decode_with_quarantine(media: DataFrame) -> DataFrame:
    """Map-side safe decode over (media_id, fmt, content) rows: corrupt
    blobs become (decode_ok=false, error_class) rows instead of task
    failures; downstream splits on decode_ok (process / quarantine)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                ok, w, h, _rgb, err = decode_media_safe(bytes(content), fmt)
                rows.append((int(mid), fmt, ok, err, w, h))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "fmt", "decode_ok", "error_class",
                    "width", "height",
                ],
            )

    return media.select("media_id", "fmt", "content").mapInPandas(
        run, schema=QUARANTINE_SCHEMA
    )


def synthesize_corrupt_media(
    df: DataFrame, id_col: str, text_col: str, w: int = 16, h: int = 12
) -> DataFrame:
    """Per row: a valid w x h image in one of the six native formats
    (by id % 6), then DETERMINISTIC damage by id % 3 — 0: truncate to 8
    bytes (header incomplete, every format), 1: zero the magic bytes
    (every decoder's first check), 2: left intact.  The damage classes
    are chosen so the quarantine outcome is id-derivable, which makes
    the decode_with_quarantine pipeline SQL-oracle-checkable."""
    fmts = ("bmp", "ppm", "png", "jpeg", "gif", "tiff")
    encoders = {
        "bmp": _encode_bmp, "ppm": _encode_ppm, "png": _encode_png,
        "jpeg": lambda W, H, rgb: _encode_jpeg(W, H, rgb, quality=85),
        "gif": _encode_gif, "tiff": _encode_tiff,
    }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, fs, blobs = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                did = int(did)
                raw = (t or "").encode("utf-8") or b"\x00"
                rgb = np.resize(
                    np.frombuffer(raw, np.uint8), (h, w, 3)
                ).tobytes()
                fmt = fmts[did % 6]
                blob = encoders[fmt](w, h, rgb)
                if did % 3 == 0:
                    blob = blob[:8]
                elif did % 3 == 1:
                    blob = b"\x00\x00" + blob[2:]
                ids.append(did)
                fs.append(fmt)
                blobs.append(blob)
            yield pd.DataFrame(
                {"media_id": ids, "fmt": fs, "content": blobs}
            )

    return df.select(id_col, text_col).mapInPandas(
        run, schema="media_id long, fmt string, content binary"
    )


def _nn_resize(w: int, h: int, rgb: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample of a top-down RGB buffer (numpy fancy
    indexing on the source grid — no per-pixel Python)."""
    px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return px[ys][:, xs].tobytes()


def _byte_histogram(content: bytes, buckets: int = 16) -> list[float]:
    """Deterministic fallback feature extractor for non-decodable formats:
    normalized byte histogram.  Stands in for a CNN/embedding forward pass
    with the same batch shape and feature width as the pixel path."""
    arr = np.frombuffer(content, np.uint8)
    counts = np.bincount(arr % buckets, minlength=buckets)
    return (counts / (len(arr) or 1)).tolist()


def _luminance_histogram(content: bytes, fmt: str, buckets: int) -> list[float]:
    """REAL pixel statistics for decodable image formats: normalized
    luminance (BT.601 integer weights) histogram over decoded RGB pixels."""
    w, h, rgb = decode_media(content, fmt)
    px = np.frombuffer(rgb, np.uint8).reshape(-1, 3).astype(np.int64)
    lum = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]) // 1000
    counts = np.bincount((lum * buckets) // 256, minlength=buckets)
    return (counts / ((w * h) or 1)).tolist()


def _amplitude_histogram(content: bytes, fmt: str, buckets: int) -> list[float]:
    """REAL sample statistics for decodable audio formats: normalized
    amplitude histogram over the int16 PCM range — the audio analogue of
    the luminance histogram, same feature width."""
    _ch, _rate, frames = decode_audio(content, fmt)
    samples = np.frombuffer(frames, "<i2").astype(np.int64)
    counts = np.bincount(
        ((samples + 32768) * buckets) >> 16, minlength=buckets
    )
    return (counts / (len(samples) or 1)).tolist()


def extract_features(media: DataFrame, buckets: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over binary content via mapInPandas.

    Per-row format dispatch: bmp/ppm/png rows decode and yield real
    luminance statistics, wav rows yield real PCM amplitude statistics;
    other formats fall back to the byte histogram (same feature width, so
    one fixed-width vector schema downstream either way).  The
    iterator-of-batches shape is exactly what a GPU inference step needs
    (load model once per partition, process batches).
    """

    def features_of(content: bytes, fmt: str) -> list[float]:
        if fmt in _CODECS:
            return _luminance_histogram(content, fmt, buckets)
        if fmt in _AUDIO_CODECS:
            return _amplitude_histogram(content, fmt, buckets)
        return _byte_histogram(content, buckets)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # model load would happen here, once per partition
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["content"].map(len),
                    "features": [
                        features_of(bytes(c), f)
                        for c, f in zip(pdf["content"], pdf["format"])
                    ],
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def _fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Fallback resize kernel for non-decodable formats: deterministic
    truncate-or-cycle of the blob to width*height bytes.  A real codec
    resize (PIL.Image.resize on the cluster image) replaces this per
    format; the Spark-side contract — bounded output size per row, 1:1
    batch shape — is identical."""
    target = width * height
    if not content:
        return bytes(target)
    reps = (target // len(content)) + 1
    return (content * reps)[:target]


def _real_resize(content: bytes, fmt: str, width: int, height: int) -> bytes:
    """REAL resize for decodable formats: decode -> nearest-neighbor
    resample -> re-encode in the same format."""
    w, h, rgb = decode_media(content, fmt)
    return _CODECS[fmt][1](width, height, _nn_resize(w, h, rgb, width, height))


def _real_audio_resample(content: bytes, fmt: str, n_target: int) -> bytes:
    """REAL audio 'resize': nearest-neighbor resample of the PCM frame
    stream to ``n_target`` frames (all channels kept), re-encoded in the
    same container — the fixed-byte-budget normalization an audio
    pipeline applies before shuffling waveforms."""
    ch, rate, frames = decode_audio(content, fmt)
    pcm = np.frombuffer(frames, "<i2").reshape(-1, ch)
    if len(pcm) == 0:
        pcm = np.zeros((1, ch), "<i2")  # silence stands in for empty input
    idx = (np.arange(n_target) * len(pcm)) // n_target
    return _AUDIO_CODECS[fmt][1](ch, rate, pcm[idx].astype("<i2").tobytes())


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """1:1 Arrow-batched media resize via mapInPandas, format-dispatched:
    bmp/ppm/png rows go through a real decode -> nearest-neighbor ->
    re-encode, wav rows resample to width*height PCM frames; other formats
    use the deterministic fallback kernel.

    Scale note: output rows have a FIXED byte budget (width*height pixels
    or frames plus a constant-size header), so downstream partition sizing
    becomes deterministic — the usual reason a pipeline resizes before
    shuffling media at all.
    """

    def resize_of(content: bytes, fmt: str) -> bytes:
        if fmt in _CODECS:
            return _real_resize(content, fmt, width, height)
        if fmt in _AUDIO_CODECS:
            return _real_audio_resample(content, fmt, width * height)
        return _fake_resize(content, width, height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pd.Series(
                [
                    resize_of(bytes(c), f)
                    for c, f in zip(pdf["content"], pdf["format"])
                ]
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].reset_index(drop=True),
                    "content": resized,
                    "width": width,
                    "height": height,
                    "n_bytes": resized.map(len),
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", LongType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """1:N frame sampling via mapInPandas (one video row -> n_frames rows).

    STUB frame extraction: the blob is split into n_frames contiguous
    chunks (a real ffmpeg keyframe sampler drops in per-row).  The Spark
    shape is the important part: mapInPandas may emit more rows than it
    consumes, so frame explosion happens WITHOUT a join or explode over
    re-encoded arrays — blobs never round-trip through an array column.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content)
                step = max(1, len(blob) // n_frames)
                for k in range(n_frames):
                    chunk = blob[k * step : (k + 1) * step]
                    if not chunk:
                        break
                    ids.append(mid)
                    idxs.append(k)
                    chunks.append(chunk)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_index": idxs,
                    "content": chunks,
                    "n_bytes": [len(c) for c in chunks],
                }
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real video CONTAINER codec (stdlib struct only): minimal ISO BMFF / MP4
# (ISO/IEC 14496-12).  The container layer is what a frame-sampling pipeline
# actually needs — sample byte ranges, timestamps and sync (key) frames come
# from the moov/trak/stbl tables (stts/stsc/stsz/stco/stss), no codec decode
# required.  The writer emits ftyp|mdat|moov with a single video track; the
# parser walks the box tree and expands the sample tables into one
# (offset, size, pts, keyframe) row per sample.  Decoding the codec PAYLOAD
# (H.264 etc.) needs ffmpeg and stays behind the documented seam — exactly
# how production frame samplers work: demux with the container tables,
# decode only the frames you selected.
# ---------------------------------------------------------------------------


def _mp4_box(kind: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + kind + payload


def _mp4_full(kind: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _mp4_box(kind, bytes([version]) + flags.to_bytes(3, "big") + payload)


def _encode_mp4(
    frames: list,
    keyframe_every: int = 2,
    frame_duration: int = 1,
    timescale: int = 30,
    width: int = 64,
    height: int = 64,
    samples_per_chunk: int = 2,
    avc_config: tuple | None = None,
) -> bytes:
    """Write a valid single-video-track MP4 around opaque frame payloads.

    Layout ftyp|mdat|moov (moov last, so stco offsets are known when the
    sample tables are written).  Samples are grouped ``samples_per_chunk``
    per chunk so the stsc/stco chunk->sample mapping is genuinely exercised
    (a single-chunk file never tests the expansion logic).  Sample k is a
    sync sample iff k % keyframe_every == 0.
    """
    import struct

    n = len(frames)
    if n == 0:
        raise ValueError("mp4 needs at least one frame")

    ftyp = _mp4_box(
        b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" + b"iso2" + b"mp41"
    )
    mdat = _mp4_box(b"mdat", b"".join(frames))

    # absolute file offsets (mdat payload starts after ftyp + 8-byte header)
    sample_off, cur = [], len(ftyp) + 8
    for f in frames:
        sample_off.append(cur)
        cur += len(f)
    spc = max(1, samples_per_chunk)
    chunk_offsets = [sample_off[i] for i in range(0, n, spc)]

    stts = _mp4_full(
        b"stts", 0, 0, struct.pack(">III", 1, n, frame_duration)
    )
    sync = [k + 1 for k in range(n) if k % keyframe_every == 0]
    stss = _mp4_full(
        b"stss", 0, 0,
        struct.pack(">I", len(sync)) + b"".join(struct.pack(">I", s) for s in sync),
    )
    if n <= spc:
        stsc_entries = [(1, n, 1)]
    else:
        stsc_entries = [(1, spc, 1)]
        if n % spc:
            stsc_entries.append((n // spc + 1, n % spc, 1))
    stsc = _mp4_full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _mp4_full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _mp4_full(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )

    # visual sample entry: a REAL avc1 entry with an avcC configuration
    # record (SPS/PPS generated by llmops.h264) when avc_config is given
    # — (width, height, profile_idc, level_idc, cabac) — else a generic
    # mp4v box with opaque payloads
    se = (
        b"\x00" * 6 + struct.pack(">H", 1)              # data_reference_index
        + b"\x00" * 16                                   # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)     # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)                           # frame_count
        + b"\x00" * 32                                   # compressorname
        + struct.pack(">Hh", 0x0018, -1)                 # depth, pre_defined
    )
    if avc_config is not None:
        from data_pipeline_spark.llmops import h264

        aw, ah, profile_idc, level_idc, cabac = avc_config
        avcc = _mp4_box(
            b"avcC",
            h264.build_avcc(
                [h264.encode_sps(aw, ah, profile_idc, level_idc)],
                [h264.encode_pps(entropy_cabac=cabac)],
            ),
        )
        entry = _mp4_box(b"avc1", se + avcc)
    else:
        entry = _mp4_box(b"mp4v", se)
    stsd = _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stbl = _mp4_box(b"stbl", stsd + stts + stss + stsc + stsz + stco)

    vmhd = _mp4_full(b"vmhd", 0, 1, b"\x00" * 8)
    dref = _mp4_full(b"dref", 0, 0, struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b""))
    dinf = _mp4_box(b"dinf", dref)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)

    dur = n * frame_duration
    mdhd = _mp4_full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, dur) + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _mp4_full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)

    matrix = struct.pack(
        ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )
    tkhd = _mp4_full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, dur)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _mp4_box(b"trak", tkhd + mdia)

    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _iter_mp4_boxes(data: bytes, start: int, end: int):
    """Yield (kind, payload_start, payload_end) for sibling boxes in a span;
    handles 64-bit largesize and size==0 (box extends to span end)."""
    import struct

    pos = start
    while pos + 8 <= end:
        size, kind = struct.unpack_from(">I4s", data, pos)
        hdr = 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"corrupt mp4 box {kind!r} at {pos}")
        yield kind, pos + hdr, pos + size
        pos += size


def _mp4_find(data: bytes, path: list, start: int, end: int):
    """Resolve a box path (e.g. [b'moov', b'trak']) to the FIRST match,
    returning (payload_start, payload_end) or None."""
    for kind, s, e in _iter_mp4_boxes(data, start, end):
        if kind == path[0]:
            if len(path) == 1:
                return s, e
            found = _mp4_find(data, path[1:], s, e)
            if found is not None:
                return found
    return None


def parse_mp4_sample_table(content: bytes) -> list:
    """Expand the first video track's stbl into per-sample rows.

    Returns [(offset, size, pts_ticks, keyframe)] in sample order.  This is
    the demux half of frame sampling: byte ranges + timestamps + sync flags
    with ZERO codec work.  Raises ValueError on a missing/corrupt box tree.
    """
    import struct

    moov = _mp4_find(content, [b"moov"], 0, len(content))
    if moov is None:
        raise ValueError("no moov box (not an MP4 or truncated)")

    stbl = None
    for kind, s, e in _iter_mp4_boxes(content, *moov):
        if kind != b"trak":
            continue
        mdia = _mp4_find(content, [b"mdia"], s, e)
        if mdia is None:
            continue
        hdlr = _mp4_find(content, [b"hdlr"], *mdia)
        handler = content[hdlr[0] + 8 : hdlr[0] + 12] if hdlr else b""
        cand = _mp4_find(content, [b"minf", b"stbl"], *mdia)
        if cand is not None and (handler == b"vide" or stbl is None):
            stbl = cand
            if handler == b"vide":
                break
    if stbl is None:
        raise ValueError("no sample table (stbl) in any track")

    boxes = {k: (s, e) for k, s, e in _iter_mp4_boxes(content, *stbl)}
    for req in (b"stts", b"stsc", b"stsz"):
        if req not in boxes:
            raise ValueError(f"missing {req!r} in stbl")
    if b"stco" not in boxes and b"co64" not in boxes:
        raise ValueError("missing chunk offsets (stco/co64)")

    def full_payload(kind):
        s, _e = boxes[kind]
        return s + 4  # skip version+flags

    # stsz: per-sample sizes (or one constant size)
    p = full_payload(b"stsz")
    const_size, n = struct.unpack_from(">II", content, p)
    if const_size:
        sizes = [const_size] * n
    else:
        sizes = list(struct.unpack_from(f">{n}I", content, p + 8))

    # stts: RLE (count, delta) -> cumulative pts per sample
    p = full_payload(b"stts")
    (n_stts,) = struct.unpack_from(">I", content, p)
    pts, t, q = [], 0, p + 4
    for _ in range(n_stts):
        cnt, delta = struct.unpack_from(">II", content, q)
        q += 8
        for _k in range(cnt):
            pts.append(t)
            t += delta
    if len(pts) < n:
        raise ValueError("stts covers fewer samples than stsz")

    # chunk offsets
    if b"stco" in boxes:
        p = full_payload(b"stco")
        (n_ch,) = struct.unpack_from(">I", content, p)
        chunk_off = list(struct.unpack_from(f">{n_ch}I", content, p + 4))
    else:
        p = full_payload(b"co64")
        (n_ch,) = struct.unpack_from(">I", content, p)
        chunk_off = list(struct.unpack_from(f">{n_ch}Q", content, p + 4))

    # stsc: (first_chunk, samples_per_chunk, sdi) runs -> per-chunk spc
    p = full_payload(b"stsc")
    (n_stsc,) = struct.unpack_from(">I", content, p)
    runs = [
        struct.unpack_from(">III", content, p + 4 + 12 * i) for i in range(n_stsc)
    ]
    spc_by_chunk = []
    for i, (first, spc, _sdi) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else len(chunk_off)
        spc_by_chunk.extend([spc] * (last - first + 1))

    # sync samples (1-based); absent stss => every sample is a keyframe
    if b"stss" in boxes:
        p = full_payload(b"stss")
        (n_ss,) = struct.unpack_from(">I", content, p)
        sync = set(struct.unpack_from(f">{n_ss}I", content, p + 4))
    else:
        sync = None

    rows, si = [], 0
    for ci, coff in enumerate(chunk_off):
        off = coff
        for _ in range(spc_by_chunk[ci] if ci < len(spc_by_chunk) else 0):
            if si >= n:
                break
            rows.append(
                (
                    off,
                    sizes[si],
                    pts[si],
                    (si + 1) in sync if sync is not None else True,
                )
            )
            off += sizes[si]
            si += 1
    if si != n:
        raise ValueError(f"chunk map covers {si} of {n} samples")
    return rows


def probe_webp(content: bytes) -> dict:
    """WebP header probe (RIFF container): dimensions and variant from
    the VP8 (lossy: 3-byte frame tag + 9D 01 2A start code + 14-bit
    dims), VP8L (lossless: 0x2F signature + packed 14-bit dims) or VP8X
    (extended: 24-bit canvas minus-one dims) chunk — the decide-before-
    decode pass for WebP corpora; payload decode (boolean-coder VP8 /
    LZ77-Huffman VP8L) stays behind the PIL seam."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    pos = 12
    while pos + 8 <= len(content):
        kind = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if kind == b"VP8 ":
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 start code")
            (w,) = struct.unpack_from("<H", body, 6)
            (h,) = struct.unpack_from("<H", body, 8)
            return {
                "format": "vp8", "width": w & 0x3FFF, "height": h & 0x3FFF,
                "keyframe": not (body[0] & 1),
            }
        if kind == b"VP8L":
            if body[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            (bits,) = struct.unpack_from("<I", body, 1)
            return {
                "format": "vp8l",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "alpha": bool((bits >> 28) & 1),
            }
        if kind == b"VP8X":
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {
                "format": "vp8x", "width": w, "height": h,
                "alpha": bool(body[0] & 0x10),
                "animation": bool(body[0] & 0x02),
            }
        pos += 8 + size + (size & 1)  # RIFF chunks pad to even
    raise ValueError("no VP8/VP8L/VP8X chunk in WebP")


def build_webp(
    width: int, height: int, variant: str = "vp8", payload: bytes = b""
) -> bytes:
    """Structurally valid WebP header wrapper (probe-grade, payload
    opaque) — the writer half of probe_webp's coupled test."""
    import struct

    if variant == "vp8":
        body = (
            b"\x10\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", width, height) + payload
        )
        chunk = b"VP8 "
    elif variant == "vp8l":
        bits = (width - 1) | ((height - 1) << 14)
        body = b"\x2f" + struct.pack("<I", bits) + payload
        chunk = b"VP8L"
    elif variant == "vp8x":
        body = (
            b"\x00\x00\x00\x00"
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little") + payload
        )
        chunk = b"VP8X"
    else:
        raise ValueError(f"unknown WebP variant {variant}")
    inner = chunk + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        inner += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"WEBP" + inner


CONTAINER_PROBE_SCHEMA = (
    "doc_id long, vid_width long, vid_height long, avc_profile string, "
    "avc_level string, entropy_coding string, audio_codec string, "
    "audio_channels long, audio_rate long, audio_duration_sec double, "
    "ogg_pages long, ogg_packets long, mp3_bitrate long, "
    "mp3_sample_rate long, mp3_channels long, mp3_frames long, "
    "mp3_duration_sec double, webp_format string, webp_width long, "
    "webp_height long"
)


def container_probe(df: DataFrame, id_col: str) -> DataFrame:
    """Per row: synthesize a REAL avc1 MP4 (generated SPS/PPS in an avcC
    record, dims/profile/level/entropy derived from the id) and a REAL
    Ogg stream (Opus/Vorbis alternating, CRC-sealed pages), then parse
    both back through the container probes — the metadata-extraction
    pass a video/audio ingest pipeline runs before deciding what to
    decode.  Deterministic id -> metadata arithmetic makes the whole
    round SQL-oracle-checkable.  One mapInPandas, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_pipeline_spark.llmops import mp3, ogg

        cols = [f.split(" ")[0] for f in CONTAINER_PROBE_SCHEMA.split(", ")]
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for raw in pdf[id_col]:
                did = int(raw)
                w = 128 + 2 * (did % 33)
                h = 96 + 2 * (did % 17)
                prof, lvl = ((66, 30), (77, 31), (100, 40))[did % 3]
                mp4 = _encode_mp4(
                    [b"\x00" + str(did).encode()] * 2,
                    avc_config=(w, h, prof, lvl, bool(did % 2)),
                )
                vi = parse_avc_config(mp4)
                secs = 1 + did % 5
                if did % 2:
                    ident = ogg.build_opus_head(2, 48000)
                    granule = 48000 * secs + 312
                else:
                    ident = ogg.build_vorbis_ident(1, 44100)
                    granule = 44100 * secs
                blob = ogg.write_stream(
                    did % 997 + 1,
                    [ident, b"payload-%d" % did],
                    [0, granule],
                )
                ai = ogg.probe(blob)
                n_frames = 10 + did % 7
                mp3_blob = b"ID3\x04\x00\x00" + bytes(
                    [0, 0, 0, 12]
                ) + bytes(12) + b"".join(
                    mp3.build_frame(
                        "1",
                        3,
                        (96, 128, 160, 192)[did % 4],
                        (44100, 48000, 32000)[did % 3],
                        mono=bool(did % 2),
                    )
                    for _ in range(n_frames)
                )
                mi = mp3.probe(mp3_blob)
                wi = probe_webp(
                    build_webp(
                        100 + did % 50,
                        80 + did % 40,
                        ("vp8", "vp8l", "vp8x")[did % 3],
                    )
                )
                rows.append(
                    (
                        did, vi["width"], vi["height"], vi["profile"],
                        vi["level"], vi["entropy_coding"], ai["codec"],
                        ai["channels"], ai["sample_rate"],
                        ai["duration_sec"], ai["n_pages"], ai["n_packets"],
                        mi["avg_bitrate"], mi["sample_rate"],
                        mi["channels"], mi["n_frames"], mi["duration_sec"],
                        wi["format"], wi["width"], wi["height"],
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col).mapInPandas(run, schema=CONTAINER_PROBE_SCHEMA)


def parse_avc_config(content: bytes) -> dict:
    """Codec self-description from the MP4 box tree: walk to the video
    track's stsd, and when the sample entry is ``avc1`` parse its avcC
    AVCDecoderConfigurationRecord (llmops.h264) — profile, level, coded
    dimensions, chroma format, entropy mode — with ZERO payload decode.
    Raises ValueError when no avc1 entry is present (e.g. the opaque
    mp4v entries the stub synthesizer emits)."""
    import struct

    moov = _mp4_find(content, [b"moov"], 0, len(content))
    if moov is None:
        raise ValueError("no moov box (not an MP4 or truncated)")
    stsd = None
    for kind, s, e in _iter_mp4_boxes(content, *moov):
        if kind != b"trak":
            continue
        cand = _mp4_find(content, [b"mdia", b"minf", b"stbl", b"stsd"], s, e)
        if cand is not None:
            hdlr = _mp4_find(
                content, [b"mdia", b"hdlr"], s, e
            )
            if hdlr and content[hdlr[0] + 8 : hdlr[0] + 12] == b"vide":
                stsd = cand
                break
            stsd = stsd or cand
    if stsd is None:
        raise ValueError("no stsd box in any track")
    p = stsd[0] + 4  # skip version+flags
    (n_entries,) = struct.unpack_from(">I", content, p)
    for kind, s, e in _iter_mp4_boxes(content, p + 4, stsd[1]):
        if kind != b"avc1":
            continue
        # child boxes start after the 78-byte visual sample entry fields
        for ck, cs, ce in _iter_mp4_boxes(content, s + 78, e):
            if ck == b"avcC":
                from data_pipeline_spark.llmops import h264

                return h264.parse_avcc(content[cs:ce])
        raise ValueError("avc1 entry without avcC record")
    raise ValueError("no avc1 sample entry (codec config absent)")


def extract_mp4_frames(
    content: bytes, n_frames: int | None = None, keyframes_only: bool = True
) -> list:
    """Demux frame payloads: [(sample_index, pts_ticks, payload_bytes)].

    Selects sync samples (or all samples), evenly strided down to
    ``n_frames`` when given — the standard thumbnail/preview sampling
    pattern, reading ONLY the selected byte ranges (on object storage this
    becomes ranged GETs; here it is slicing)."""
    table = parse_mp4_sample_table(content)
    picks = [
        (i, r) for i, r in enumerate(table) if (not keyframes_only) or r[3]
    ]
    if not picks:
        picks = list(enumerate(table))
    if n_frames is not None and n_frames < len(picks):
        stride_idx = [(k * len(picks)) // n_frames for k in range(n_frames)]
        picks = [picks[j] for j in stride_idx]
    return [
        (i, r[2], content[r[0] : r[0] + r[1]]) for i, r in picks
    ]


def synthesize_mp4_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic REAL video-container fixture: one valid MP4 per row
    with 3 + (media_id % 5) frames; frame k's payload is the byte k
    followed by the row's utf-8 text (or a NUL for empty text), keyframes
    every 2nd sample.  The frame count, per-frame size and keyframe grid
    are pure arithmetic over (media_id, octet_length(text)) — which is what
    lets a SQL oracle verify the PARSED container tables row-for-row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for mid, t in zip(pdf["media_id"], pdf["text"]):
                raw = (t or "").encode("utf-8") or b"\x00"
                n = 3 + int(mid) % 5
                frames = [bytes([k & 0xFF]) + raw for k in range(n)]
                blobs.append(_encode_mp4(frames, keyframe_every=2))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].reset_index(drop=True),
                    "content": blobs,
                    "media_type": "video",
                    "format": "mp4",
                    "n_bytes": [len(b) for b in blobs],
                }
            )

    prepared = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(text_col).alias("text")
    )
    return prepared.mapInPandas(run, schema=MEDIA_SCHEMA)


KEYFRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", LongType()),
        StructField("pts_ticks", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content", BinaryType()),
    ]
)


def sample_keyframes(
    media: DataFrame, n_frames: int | None = None, keyframes_only: bool = True
) -> DataFrame:
    """1:N REAL keyframe sampling via mapInPandas: mp4 rows are demuxed
    through the container sample tables (stts/stsc/stsz/stco/stss) and emit
    the selected sync-sample payloads with their timestamps; non-container
    formats fall back to ``sample_frames``-style contiguous chunking so the
    operator is total over mixed media tables.  Blob-discipline as ever:
    frames never transit an array column, the 1:N explosion happens inside
    the Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ptss, chunks = [], [], [], []
            for mid, content, fmt in zip(
                pdf["media_id"], pdf["content"], pdf["format"]
            ):
                blob = bytes(content)
                if fmt == "mp4":
                    for i, pts, payload in extract_mp4_frames(
                        blob, n_frames, keyframes_only
                    ):
                        ids.append(mid)
                        idxs.append(i)
                        ptss.append(pts)
                        chunks.append(payload)
                else:
                    k_target = n_frames or 4
                    step = max(1, len(blob) // k_target)
                    for k in range(k_target):
                        chunk = blob[k * step : (k + 1) * step]
                        if not chunk:
                            break
                        ids.append(mid)
                        idxs.append(k)
                        ptss.append(k)
                        chunks.append(chunk)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_index": idxs,
                    "pts_ticks": ptss,
                    "n_bytes": [len(c) for c in chunks],
                    "content": chunks,
                }
            )

    return media.mapInPandas(run, schema=KEYFRAME_SCHEMA)


def synthesize_audio_media(
    df: DataFrame, id_col: str, text_col: str, fmt: str = "flac",
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic REAL audio fixture: one mono 16-bit stream per row in
    the requested native codec (wav or flac), sample i = (text byte i -
    128) * 256 — so n_samples == octet_length(text) (1 for empty text),
    pure arithmetic a SQL oracle can reconstruct."""
    if fmt not in _AUDIO_CODECS:
        raise ValueError(f"no native audio codec for {fmt!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                raw = (t or "").encode("utf-8") or b"\x00"
                pcm = (
                    (np.frombuffer(raw, np.uint8).astype(np.int64) - 128) * 256
                ).astype("<i2")
                blobs.append(_AUDIO_CODECS[fmt][1](1, sample_rate, pcm.tobytes()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].reset_index(drop=True),
                    "content": blobs,
                    "media_type": "audio",
                    "format": fmt,
                    "n_bytes": [len(b) for b in blobs],
                }
            )

    prepared = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(text_col).alias("text")
    )
    return prepared.mapInPandas(run, schema=MEDIA_SCHEMA)


AUDIO_VERIFY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", LongType()),
        StructField("pcm_ok", BooleanType()),
    ]
)


def verify_audio_roundtrip(media_with_text: DataFrame) -> DataFrame:
    """Decode each audio row through the native codec and compare the PCM
    byte-for-byte against the stream recomputed from the row's source text
    (``synthesize_audio_media``'s derivation) — the lossless-roundtrip
    certificate a SQL oracle can check via (n_samples, pcm_ok)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_samples, rates, oks = [], [], []
            for content, fmt, t in zip(
                pdf["content"], pdf["format"], pdf["text"]
            ):
                ch, rate, frames = decode_audio(bytes(content), fmt)
                raw = (t or "").encode("utf-8") or b"\x00"
                expected = (
                    (np.frombuffer(raw, np.uint8).astype(np.int64) - 128) * 256
                ).astype("<i2").tobytes()
                n_samples.append(len(frames) // 2)
                rates.append(rate)
                oks.append(ch == 1 and frames == expected)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].reset_index(drop=True),
                    "n_samples": n_samples,
                    "sample_rate": rates,
                    "pcm_ok": oks,
                }
            )

    return media_with_text.mapInPandas(run, schema=AUDIO_VERIFY_SCHEMA)


JPEG_DIFFERENTIAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("img_w", LongType()),
        StructField("img_h", LongType()),
        StructField("progressive_match", IntegerType()),
        StructField("restart_match", IntegerType()),
        StructField("lossless_match", IntegerType()),
        StructField("arithmetic_match", IntegerType()),
        StructField("hierarchical_match", IntegerType()),
    ]
)


def jpeg_progressive_differential(
    df: DataFrame, id_col: str, text_col: str, w: int = 24, h: int = 16
) -> DataFrame:
    """Per row: derive a deterministic w x h RGB image from the text
    bytes (cycled; empty text -> black), encode it as baseline JPEG, as
    a 9-scan progressive JPEG, and as both layouts with a restart
    interval — then decode all four inside the same Arrow batch and flag
    whether the progressive and restart decodes are PIXEL-IDENTICAL to
    the baseline decode (they transmit identical quantized coefficients,
    so any mismatch is a codec bug).  The flags and fixed dimensions are
    SQL-derivable, giving the differential property a DuckDB oracle the
    driver can hash-verify."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pm, rm, lm, am, hm = [], [], [], [], []
            for rid, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8") or b"\x00"
                px = np.frombuffer(raw, np.uint8)
                rgb = np.resize(px, (h, w, 3)).tobytes()
                base = _decode_jpeg(
                    _encode_jpeg(w, h, rgb, quality=75, subsampling="420")
                )
                prog = _decode_jpeg(
                    _encode_jpeg_progressive(
                        w, h, rgb, quality=75, subsampling="420"
                    )
                )
                base_ri = _decode_jpeg(
                    _encode_jpeg(
                        w, h, rgb, quality=75, subsampling="420",
                        restart_interval=1,
                    )
                )
                prog_ri = _decode_jpeg(
                    _encode_jpeg_progressive(
                        w, h, rgb, quality=75, subsampling="420",
                        restart_interval=2,
                    )
                )
                pm.append(int(prog == base))
                rm.append(int(base_ri == base and prog_ri == base))
                # lossless (SOF3) must reproduce the ORIGINAL pixels
                # byte-exactly (no quantization); predictor cycles per
                # row so all seven T.81 predictors stay driver-covered
                ll = _decode_jpeg(
                    _encode_jpeg_lossless(
                        w, h, rgb, predictor=1 + int(rid) % 7
                    )
                )
                # the arithmetic lossless mode (SOF11) must be byte-exact
                # too, same per-row predictor cycle
                from data_pipeline_spark.llmops.jpeg_arith import (
                    encode_jpeg_lossless_arithmetic,
                )

                lla = _decode_jpeg(
                    encode_jpeg_lossless_arithmetic(
                        w, h, rgb, predictor=1 + int(rid) % 7
                    )
                )
                lm.append(int(ll == (w, h, rgb) and lla == (w, h, rgb)))
                # arithmetic coding (SOF9 sequential + SOF10 progressive)
                # transmits the same quantized coefficients through the
                # QM coder; the sequential leg's restart interval cycles
                # per row so segmented re-init stays driver-covered
                from data_pipeline_spark.llmops.jpeg_arith import (
                    decode_jpeg_arithmetic,
                    decode_jpeg_arithmetic_progressive,
                    encode_jpeg_arithmetic,
                    encode_jpeg_arithmetic_progressive,
                )

                ar = decode_jpeg_arithmetic(
                    encode_jpeg_arithmetic(
                        w, h, rgb, quality=75, subsampling="420",
                        restart_interval=int(rid) % 3,
                    )
                )
                ar_prog = decode_jpeg_arithmetic_progressive(
                    encode_jpeg_arithmetic_progressive(
                        w, h, rgb, quality=75, subsampling="420"
                    )
                )
                am.append(int(ar == base and ar_prog == base))
                # hierarchical (Annex J pyramid): the encoder runs the
                # decoder's reconstruction in its loop, so each decode
                # must match the encoder-returned recon byte-exactly —
                # Huffman sequential (SOF5), Huffman progressive (SOF6)
                # and the QM-coded family (SOF9 base + SOF13/15) with a
                # lossless final frame
                ok = 1
                for kw in (
                    {},
                    {"progressive_refine": True},
                    {"entropy": "arithmetic", "lossless_final": True},
                    {"base_mode": "progressive"},
                    {"base_mode": "lossless", "lossless_final": True},
                ):
                    hs, hexpect = _encode_jpeg_hierarchical(
                        w, h, rgb, quality=75, levels=2,
                        return_recon=True, **kw,
                    )
                    ok &= int(_decode_jpeg(hs) == (w, h, hexpect))
                hm.append(ok)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].reset_index(drop=True),
                    "img_w": w,
                    "img_h": h,
                    "progressive_match": pm,
                    "restart_match": rm,
                    "lossless_match": lm,
                    "arithmetic_match": am,
                    "hierarchical_match": hm,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run, schema=JPEG_DIFFERENTIAL_SCHEMA
    )
