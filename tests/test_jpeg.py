"""Pure-python baseline JPEG codec (lidartree_spark.jpeg) + the float-tile
wrapper in codecs.py."""

import struct

import numpy as np
import pytest

from lidartree_spark.codecs import (
    decode_jpeg_tile,
    decode_tile,
    encode_jpeg_tile,
    encode_tile,
    psnr,
)
from lidartree_spark.generator import gen_tile
from lidartree_spark.jpeg import (
    _ZZ,
    decode_jpeg_gray,
    encode_jpeg_gray,
    quality_qtbl,
)


def test_zigzag_order_is_the_spec_order():
    assert _ZZ[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert sorted(_ZZ.tolist()) == list(range(64))


def test_marker_structure():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    buf = encode_jpeg_gray(img)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    # JFIF APP0 right after SOI
    assert buf[2:4] == b"\xff\xe0" and buf[6:11] == b"JFIF\x00"


@pytest.mark.parametrize("quality,min_db", [(75, 38.0), (90, 45.0),
                                            (95, 48.0)])
def test_roundtrip_psnr_on_chm_content(quality, min_db):
    _, chm, _ = gen_tile(3, 5)
    lo, hi = np.nanmin(chm), np.nanmax(chm)
    u8 = np.clip(np.round((np.nan_to_num(chm, nan=lo) - lo)
                          / (hi - lo) * 255), 0, 255).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(u8, quality))
    assert dec.shape == u8.shape
    assert psnr(u8.astype(float), dec.astype(float)) >= min_db


@pytest.mark.parametrize("shape", [(8, 8), (1, 1), (9, 17), (37, 61),
                                   (64, 3)])
def test_roundtrip_arbitrary_shapes(shape):
    rng = np.random.default_rng(sum(shape))
    # smooth field so lossy error stays tiny regardless of shape
    y = np.linspace(0, 4, shape[0])[:, None]
    x = np.linspace(0, 4, shape[1])[None, :]
    img = np.clip(np.round(127 + 100 * np.sin(y + x)
                           + rng.normal(0, 2, shape)), 0, 255) \
        .astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(img, 95))
    assert dec.shape == shape
    assert psnr(img.astype(float), dec.astype(float)) >= 40.0


def test_flat_image_is_exact():
    flat = np.full((16, 24), 200, np.uint8)
    assert (decode_jpeg_gray(encode_jpeg_gray(flat, 50)) == flat).all()


def test_decoder_uses_tables_from_the_stream():
    """Quality changes the DQT written to the file; the decoder must
    dequantize with the parsed table, not a hardcoded one."""
    img = (np.add.outer(np.arange(16), np.arange(16)) * 8).astype(np.uint8)
    out_lo = decode_jpeg_gray(encode_jpeg_gray(img, 20))
    out_hi = decode_jpeg_gray(encode_jpeg_gray(img, 95))
    # both approximate the source; the high-quality one strictly better
    assert psnr(img.astype(float), out_hi.astype(float)) \
        > psnr(img.astype(float), out_lo.astype(float))
    assert quality_qtbl(20).max() > quality_qtbl(95).max()


def test_jpeg_tile_roundtrip_float_range_and_nan_fill():
    _, chm, _ = gen_tile(7, 2)  # seeded; may contain NaN patch
    buf = encode_jpeg_tile(chm)
    # APP1 range segment present right after SOI
    assert buf[2:4] == b"\xff\xe1" and buf[6:10] == b"LTRJ"
    out = decode_jpeg_tile(buf)
    assert out.shape == chm.shape
    m = np.isfinite(chm)
    assert psnr(chm, out) >= 40.0
    lo = float(chm[m].min())
    # NaN pixels were filled with lo (lossy contract: NOT restored as NaN)
    assert np.isfinite(out).all()
    assert float(out.min()) >= lo - (chm[m].max() - lo) * 0.05


def test_encode_decode_tile_dispatch():
    _, chm, _ = gen_tile(0, 1)
    buf = encode_tile(chm, "jpeg")
    out = decode_tile(buf, "jpeg", chm.shape[1], chm.shape[0])
    assert psnr(chm, out) >= 40.0


@pytest.mark.parametrize("fmt", ["avi", "mp4", "h264"])
def test_unknown_tile_format_raises(fmt):
    """A format the tile codecs do not implement (video containers
    included) raises instead of yielding fabricated pixels or bytes."""
    with pytest.raises(ValueError, match="unknown tile format"):
        decode_tile(b"\x00" * 256, fmt, 8, 8)
    with pytest.raises(ValueError, match="unknown tile format"):
        encode_tile(np.zeros((8, 8), np.float32), fmt)


def test_truncated_stream_raises():
    img = np.zeros((8, 8), np.uint8)
    buf = encode_jpeg_gray(img)
    with pytest.raises(ValueError):
        decode_jpeg_gray(buf[:20])
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x01" + buf[2:])


def test_decode_check_gate_accepts_jpeg_tiles():
    """Every generator tile encodes/decodes through fmt=jpeg within the
    PSNR >= 40 dB input contract (the decode-invariant gate's lossy path)."""
    worst = np.inf
    for row in range(4):
        for col in range(4):
            _, chm, _ = gen_tile(row, col)
            out = decode_tile(encode_tile(chm, "jpeg"), "jpeg", 64, 64)
            worst = min(worst, psnr(chm, out))
    assert worst >= 40.0
