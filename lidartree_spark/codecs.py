"""Tile pixel codecs.

The input table (BASELINE.json ``input_hint``) is
``tiles(image_id, bytes, w, h, fmt, caption, phash)``. ``bytes`` holds the
encoded pixel payload of one georeferenced raster tile (a canopy height model
patch, float values, NaN = no-data). Three formats are supported — all
decodable without PIL/cv2 (not available in this environment):

- ``raw_f32``  : row-major little-endian float32, lossless (NaN preserved).
- ``png16``    : zlib-compressed 16-bit fixed-point with a small header,
                 lossless for values on a 1/256 grid (our generator grid);
                 NaN encoded as sentinel 0xFFFF.
- ``q8``       : lossy 8-bit linear quantization of [lo, hi] — exercises the
                 PSNR >= 40 dB acceptance path of the input contract.
- ``png``      : real ISO 15948 16-bit grayscale PNG (below), lossless on
                 the 1/256 grid.
- ``jpeg``     : real baseline JFIF (lidartree_spark.jpeg, pure python) of
                 the 8-bit [lo, hi] quantization, [lo, hi] carried in an
                 APP1 segment; lossy (PSNR >= 40 dB contract), NaN filled
                 with lo and NOT restored.

Replaces the reference's terra/lidR file readers
(/root/reference/R/common.R:16-20, tree_detection.R:1165-1173).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"LTRS"


def encode_tile(arr: np.ndarray, fmt: str) -> bytes:
    """Encode a 2D float array (h, w) into the tile payload for `fmt`."""
    a = np.asarray(arr, dtype=np.float32)
    if a.ndim != 2:
        raise ValueError("tile array must be 2D (h, w)")
    h, w = a.shape
    if fmt == "raw_f32":
        return a.tobytes(order="C")
    if fmt == "png16":
        # fixed-point 1/256 units, NaN -> 0xFFFF sentinel; zlib-compressed.
        q = np.round(np.nan_to_num(a, nan=0.0) * 256.0)
        q = np.clip(q, 0, 0xFFFE).astype(np.uint16)
        q[np.isnan(a)] = 0xFFFF
        payload = zlib.compress(q.tobytes(order="C"), level=6)
        return _MAGIC + struct.pack("<HH", h, w) + payload
    if fmt == "png":
        return encode_png_gray16(a)
    if fmt == "q8":
        # lossy: linear 8-bit quantization of the tile's [lo, hi] range.
        finite = a[np.isfinite(a)]
        lo = float(finite.min()) if finite.size else 0.0
        hi = float(finite.max()) if finite.size else 1.0
        if hi <= lo:
            hi = lo + 1.0
        q = np.round((np.nan_to_num(a, nan=lo) - lo) / (hi - lo) * 254.0)
        q = np.clip(q, 0, 254).astype(np.uint8)
        q[np.isnan(a)] = 255  # NaN sentinel
        payload = zlib.compress(q.tobytes(order="C"), level=6)
        return _MAGIC + struct.pack("<HHff", h, w, lo, hi) + payload
    if fmt == "jpeg":
        return encode_jpeg_tile(a)
    raise ValueError(f"unknown tile format: {fmt!r}")


def decode_tile(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode a tile payload back to a float32 array of shape (h, w)."""
    if fmt == "raw_f32":
        return np.frombuffer(buf, dtype=np.float32).reshape(h, w).copy()
    if fmt == "png16":
        if buf[:4] != _MAGIC:
            raise ValueError("bad png16 header")
        hh, ww = struct.unpack_from("<HH", buf, 4)
        q = np.frombuffer(zlib.decompress(buf[8:]), dtype=np.uint16).reshape(hh, ww)
        out = q.astype(np.float32) / 256.0
        out[q == 0xFFFF] = np.nan
        return out
    if fmt == "png":
        return decode_png_gray16(buf)
    if fmt == "q8":
        if buf[:4] != _MAGIC:
            raise ValueError("bad q8 header")
        hh, ww, lo, hi = struct.unpack_from("<HHff", buf, 4)
        q = np.frombuffer(zlib.decompress(buf[16:]), dtype=np.uint8).reshape(hh, ww)
        out = (q.astype(np.float32) / 254.0) * (hi - lo) + lo
        out[q == 255] = np.nan
        return out
    if fmt == "jpeg":
        return decode_jpeg_tile(buf)
    raise ValueError(f"unknown tile format: {fmt!r}")


# ---------------------------------------------------------------------------
# JPEG float-tile wrapper: a real baseline JFIF (lidartree_spark.jpeg) of the
# 8-bit [lo, hi]-quantized tile, with [lo, hi] in a private APP1 segment so
# the float range round-trips. Any JPEG viewer renders the file (APP1 is
# skipped); only decode_jpeg_tile restores map units.

_JPEG_APP1_TAG = b"LTRJ"


def encode_jpeg_tile(arr: np.ndarray, quality: int = 95) -> bytes:
    from lidartree_spark.jpeg import encode_jpeg_gray
    a = np.asarray(arr, dtype=np.float32)
    finite = a[np.isfinite(a)]
    lo = float(finite.min()) if finite.size else 0.0
    hi = float(finite.max()) if finite.size else 1.0
    if hi <= lo:
        hi = lo + 1.0
    u8 = np.clip(np.round((np.nan_to_num(a, nan=lo) - lo)
                          / (hi - lo) * 255.0), 0, 255).astype(np.uint8)
    jpg = encode_jpeg_gray(u8, quality=quality)
    payload = _JPEG_APP1_TAG + struct.pack("<ff", lo, hi)
    app1 = struct.pack(">HH", 0xFFE1, len(payload) + 2) + payload
    return jpg[:2] + app1 + jpg[2:]  # APP1 right after SOI


def decode_jpeg_tile(buf: bytes) -> np.ndarray:
    from lidartree_spark.jpeg import decode_jpeg_gray
    # scan marker segments for our APP1 range tag
    lo, hi = 0.0, 255.0
    pos = 2
    while pos + 4 <= len(buf) and buf[pos] == 0xFF:
        marker = buf[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", buf, pos + 2)
        if marker == 0xE1 and buf[pos + 4:pos + 8] == _JPEG_APP1_TAG:
            lo, hi = struct.unpack_from("<ff", buf, pos + 8)
        if marker == 0xDA:
            break
        pos += 2 + length
    u8 = decode_jpeg_gray(buf)
    return (u8.astype(np.float32) / 255.0) * (hi - lo) + lo


# ---------------------------------------------------------------------------
# Real PNG (ISO/IEC 15948) 16-bit grayscale codec — spec-compliant files
# decodable by any PNG reader, implemented with stdlib zlib only (no PIL in
# this environment; SURVEY.md environment facts). Height values use the same
# 1/256 fixed-point grid as the png16 tile format; NaN -> 0xFFFF sentinel.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png_gray16(arr: np.ndarray) -> bytes:
    """Encode (h, w) float array as a real 16-bit grayscale PNG (filter 0
    scanlines). Values quantized to 1/256 units; NaN -> 0xFFFF."""
    a = np.asarray(arr, dtype=np.float32)
    h, w = a.shape
    q = np.round(np.nan_to_num(a, nan=0.0) * 256.0)
    q = np.clip(q, 0, 0xFFFE).astype(np.uint16)
    q[np.isnan(a)] = 0xFFFF
    raw = q.astype(">u2").tobytes()  # PNG is big-endian
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, w * 2)
    scan = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), rows], axis=1).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)  # 16-bit gray
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(scan, 6))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(scan: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters 0-4 (spec §9); returns (h, stride) bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(scan[y, 0])
        cur = scan[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(
            stride, dtype=np.int32)
        if ftype == 0:
            rec = cur
        elif ftype == 2:  # Up
            rec = (cur + prev) & 0xFF
        else:  # Sub / Average / Paeth need left-to-right recurrence
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    rec[x] = (cur[x] + left) & 0xFF
                elif ftype == 3:
                    rec[x] = (cur[x] + (left + up) // 2) & 0xFF
                elif ftype == 4:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else \
                        (up if pb <= pc else ul)
                    rec[x] = (cur[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png_gray16(buf: bytes) -> np.ndarray:
    """Decode a 16-bit grayscale PNG (filters 0-4, non-interlaced) back to
    (h, w) float32 with the 1/256 grid and 0xFFFF -> NaN."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4:pos + 8]
        payload = buf[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if (depth, color, comp, filt, interlace) != (16, 0, 0, 0, 0):
                raise ValueError("only 16-bit gray non-interlaced supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    stride = w * 2
    scan = np.frombuffer(zlib.decompress(idat), dtype=np.uint8) \
        .reshape(h, stride + 1)
    rows = _png_unfilter(scan, h, stride, bpp=2)
    q = rows.reshape(h, w, 2)
    vals = (q[:, :, 0].astype(np.uint16) << 8) | q[:, :, 1]
    out = vals.astype(np.float32) / 256.0
    out[vals == 0xFFFF] = np.nan
    return out


def psnr(ref: np.ndarray, test: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB over finite pixels (inf if identical)."""
    m = np.isfinite(ref) & np.isfinite(test)
    if not m.any():
        return float("inf")
    err = ref[m].astype(np.float64) - test[m].astype(np.float64)
    mse = float(np.mean(err * err))
    if mse == 0.0:
        return float("inf")
    peak = float(np.max(np.abs(ref[m]))) or 1.0
    return 10.0 * np.log10(peak * peak / mse)


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash: 8x8 block-mean image thresholded at its median.

    This is the AVERAGE-hash variant used for the tiles table's `phash`
    fingerprint column (cheap, codec-roundtrip-stable).

    Deterministic, pure numpy (no DCT libs needed). The input is first
    snapped to the 1/256 value grid — the precision every lossless codec
    here preserves — so phash(source) == phash(decode(encode(source))) holds
    EXACTLY for raw_f32/png16/png instead of depending on whether a block
    mean sits within quantization distance of the median threshold.
    """
    # same float32 arithmetic as encode_png_gray16/png16, so the snap is
    # bit-identical to what those codecs store
    q = np.round(np.nan_to_num(np.asarray(arr, dtype=np.float32), nan=0.0)
                 * 256.0)
    a = np.clip(q, 0, 0xFFFE).astype(np.float64) / 256.0
    h, w = a.shape
    # average-pool to 8x8 by splitting into near-equal blocks
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    means = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blk = a[ys[i]:max(ys[i + 1], ys[i] + 1), xs[j]:max(xs[j + 1], xs[j] + 1)]
            means[i, j] = blk.mean() if blk.size else 0.0
    med = np.median(means)
    bits = (means > med).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # to signed int64 range
    if v >= 1 << 63:
        v -= 1 << 64
    return int(v)
