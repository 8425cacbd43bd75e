"""Pure-python AVI / Motion-JPEG video codec (RIFF, OpenDML subset).

Real spec-compliant AVI files — RIFF('AVI ') with LIST(hdrl){avih,
LIST(strl){strh,strf}} + LIST(movi){00dc...} — where every frame payload is
a baseline JPEG from lidartree_spark.jpeg. Grayscale frames; stdlib struct
+ numpy only (no ffmpeg/pyav in this environment; same motivation as the
WAV and PNG codecs). It is the decoder behind fmt == "avi"
(operators/multimodal.video_frame_sample).

The writer emits the fields players actually read (dwMicroSecPerFrame,
frame count, dimensions, 'MJPG' fourcc); the reader only trusts the movi
chunk stream and the JPEG headers inside it, so third-party MJPEG AVIs
with extra chunks (idx1, JUNK, vprp) decode too.
"""

from __future__ import annotations

import struct

import numpy as np

from lidartree_spark.jpeg import decode_jpeg_gray, encode_jpeg_gray


def _chunk(tag: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks are word-aligned
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(kind: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", kind + payload)


def encode_avi_mjpeg(frames: np.ndarray, fps: int = 10,
                     quality: int = 90) -> bytes:
    """(n, h, w) uint8 (or float in [0,1]) -> AVI/MJPG bytes."""
    f = np.asarray(frames)
    if f.ndim != 3:
        raise ValueError("frames must be (n, h, w)")
    if f.dtype != np.uint8:
        f = np.clip(np.round(f.astype(np.float64) * 255.0), 0, 255) \
            .astype(np.uint8)
    n, h, w = f.shape
    jpegs = [encode_jpeg_gray(f[i], quality=quality) for i in range(n)]
    buf_size = max((len(j) for j in jpegs), default=0)

    avih = struct.pack("<10I", 1_000_000 // max(1, fps), buf_size * fps, 0,
                       0x10, n, 0, 1, buf_size, w, h) + b"\x00" * 16
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, n, buf_size,
                                            0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00dc", j) for j in jpegs))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_mjpeg(buf: bytes) -> np.ndarray:
    """AVI/MJPG bytes -> (n, h, w) uint8 frames (frames must share dims)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")

    frames: list[np.ndarray] = []

    def walk(data: bytes) -> None:
        pos = 0
        while pos + 8 <= len(data):
            tag = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            payload = data[pos + 8:pos + 8 + size]
            if tag == b"LIST":
                walk(payload[4:])  # skip the list kind, recurse into chunks
            elif tag in (b"00dc", b"00db") and size > 0:
                frames.append(decode_jpeg_gray(payload))
            pos += 8 + size + (size & 1)

    walk(buf[12:])
    if not frames:
        raise ValueError("no video frames found")
    if len({f.shape for f in frames}) != 1:
        raise ValueError("inconsistent frame dimensions")
    return np.stack(frames)
