"""Pure-python baseline JPEG codec (ITU-T T.81, sequential DCT, 8-bit gray).

Real spec-compliant JFIF files — SOI/APP0/DQT/SOF0/DHT/SOS/EOI with the
Annex K luminance quantization + Huffman tables — encodable and decodable
with numpy + stdlib only (no libjpeg/PIL in this environment; same
motivation as the PNG codec in codecs.py). Single component (grayscale),
no subsampling, no restart markers: the subset every baseline decoder
accepts. The tile codecs use it for fmt == "jpeg"; the lossy acceptance
contract is PSNR >= 40 dB (BASELINE.json input_hint), asserted in the
decode-invariant gate.

DCT convention: with the orthonormal DCT-II matrix T (T[0,:] = 1/sqrt(8),
T[u,x] = 0.5*cos((2x+1)u*pi/16) for u>0), T @ f @ T.T equals the JPEG FDCT
of T.81 A.3.3 exactly, so forward and inverse are single matmuls over all
blocks at once.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K.1: luminance quantization table (natural row-major order)
_QTBL_BASE = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

# --- Annex K.3: DC luminance Huffman spec (BITS counts per code length,
# then the symbol values in canonical order)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

# --- Annex K.5: AC luminance Huffman spec
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Flat (row*8+col) indices in JPEG zigzag order (T.81 figure 5):
    anti-diagonals; even sums walk up-right (row descending), odd sums
    walk down-left (row ascending)."""
    cells = sorted(
        ((r + c, r if (r + c) % 2 else -r, r, c)
         for r in range(8) for c in range(8)))
    return np.array([r * 8 + c for _, _, r, c in cells], dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)


def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    t = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16.0)
    t[0, :] = 1.0 / np.sqrt(8.0)
    return t


_T = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), T.81 Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


def quality_qtbl(quality: int) -> np.ndarray:
    """Quality-scaled quantization table (the libjpeg convention, public)."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (_QTBL_BASE * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (F.1.2.3)
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put(0xFF, 8 - self.n)  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(ssss category, raw bits) for a DC diff / AC coefficient (F.1.2.1):
    negatives are encoded as v + 2^ssss - 1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    ssss = a.bit_length()
    bits = v if v > 0 else v + (1 << ssss) - 1
    return ssss, bits


def _blocks(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to 8-multiples and split into (n, 8, 8)."""
    h, w = img.shape
    ph, pw = (-h) % 8, (-w) % 8
    a = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    hh, ww = a.shape
    b = (a.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
         .reshape(-1, 8, 8))
    return b, hh // 8, ww // 8


def encode_jpeg_gray(img: np.ndarray, quality: int = 90) -> bytes:
    """uint8 (h, w) -> baseline JFIF grayscale bytes."""
    a = np.asarray(img)
    if a.dtype != np.uint8:
        a = np.clip(np.round(np.asarray(a, dtype=np.float64)), 0, 255) \
            .astype(np.uint8)
    h, w = a.shape
    qtbl = quality_qtbl(quality)
    blocks, _, _ = _blocks(a)
    f = blocks.astype(np.float64) - 128.0
    coefs = _T @ f @ _T.T  # batched matmul FDCT
    quant = np.round(coefs / qtbl[None, :, :]).astype(np.int32)
    zz = quant.reshape(-1, 64)[:, _ZZ]

    bw = _BitWriter()
    pred = 0
    for block in zz:
        ssss, bits = _magnitude(int(block[0]) - pred)
        pred = int(block[0])
        code, ln = _DC_ENC[ssss]
        bw.put(code, ln)
        bw.put(bits, ssss)
        run = 0
        ac = block[1:]
        nz = np.nonzero(ac)[0]
        last = nz[-1] if nz.size else -1
        for k in range(last + 1):
            v = int(ac[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = _AC_ENC[0xF0]  # ZRL
                bw.put(code, ln)
                run -= 16
            ssss, bits = _magnitude(v)
            code, ln = _AC_ENC[(run << 4) | ssss]
            bw.put(code, ln)
            bw.put(bits, ssss)
            run = 0
        if last < 62:
            code, ln = _AC_ENC[0x00]  # EOB
            bw.put(code, ln)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    app0 = b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    dqt = bytes([0]) + bytes(qtbl.reshape(64)[_ZZ].astype(np.uint8).tolist())
    sof = struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
    dht = (bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
           + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00) + b"\x00\x3f\x00"
    return (b"\xff\xd8" + seg(0xFFE0, app0) + seg(0xFFDB, dqt)
            + seg(0xFFC0, sof) + seg(0xFFC4, dht) + seg(0xFFDA, sos)
            + scan + b"\xff\xd9")


_LUT_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


def _decode_tables(bits: list[int], vals: list[int]) -> tuple[list[int],
                                                              list[int]]:
    """Table-driven Huffman: (length, symbol) LUTs over every 16-bit
    window — one list index decodes a whole symbol instead of a per-bit
    loop. Cached by table spec (every image with the standard Annex K
    tables shares one build); plain python lists because the hot loop
    indexes them ~500x per tile and list indexing beats numpy scalar
    access there."""
    key = bytes(bits) + bytes(vals)
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    lens = np.zeros(1 << 16, dtype=np.int64)
    syms = np.zeros(1 << 16, dtype=np.int64)
    for sym, (code, ln) in _canonical_codes(bits, vals).items():
        lo = code << (16 - ln)
        hi = (code + 1) << (16 - ln)
        lens[lo:hi] = ln
        syms[lo:hi] = sym
    out = (lens.tolist(), syms.tolist())
    _LUT_CACHE[key] = out
    return out


def _extract_scan(raw: bytes) -> bytes:
    """Entropy-coded bytes up to the next marker, 0xFF00 unstuffed."""
    i = 0
    while True:
        j = raw.find(b"\xff", i)
        if j == -1 or j + 1 >= len(raw):
            end = len(raw)
            break
        if raw[j + 1] == 0x00:
            i = j + 2
            continue
        end = j
        break
    return raw[:end].replace(b"\xff\x00", b"\xff")


def _bit_windows(scan: bytes) -> np.ndarray:
    """V[p] = the 16 bits starting at bit position p, with 16 zero-padded
    tail positions so value-bit reads right at the data end cannot
    overrun (the per-symbol truncation checks still fire on the NEXT
    symbol start)."""
    b = np.frombuffer(scan + b"\x00\x00\x00\x00", dtype=np.uint8) \
        .astype(np.uint32)
    w24 = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]  # 24 bits from byte i
    p = np.arange(len(scan) * 8 + 16, dtype=np.int64)
    return (((w24[p >> 3] << (p & 7).astype(np.uint32)) >> 8)
            & 0xFFFF).astype(np.uint16)




def decode_jpeg_gray(buf: bytes) -> np.ndarray:
    """Baseline JFIF grayscale bytes -> uint8 (h, w). Parses DQT/DHT from
    the stream (any tables, not just the ones this encoder writes)."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtbls: dict[int, np.ndarray] = {}
    htbls: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = None
    qsel = dcsel = acsel = 0
    scan_start = None
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack_from(">H", buf, pos)
        payload = buf[pos + 2:pos + length]
        pos += length
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(payload):
                pq, tq = payload[off] >> 4, payload[off] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                zzq = np.frombuffer(payload, dtype=np.uint8,
                                    count=64, offset=off + 1)
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZZ] = zzq
                qtbls[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(payload):
                tc, th = payload[off] >> 4, payload[off] & 0x0F
                bits = list(payload[off + 1:off + 17])
                nval = sum(bits)
                vals = list(payload[off + 17:off + 17 + nval])
                htbls[(tc, th)] = _decode_tables(bits, vals)
                off += 17 + nval
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nf = struct.unpack_from(">BHHB", payload)
            if prec != 8 or nf != 1:
                raise ValueError("only 8-bit single-component baseline")
            # component spec: id, HiVi sampling, quant selector
            if payload[7] != 0x11:
                raise ValueError("subsampling not supported")
            qsel = payload[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline (SOF0) JPEG supported")
        elif marker == 0xDA:  # SOS
            dcsel, acsel = payload[2] >> 4, payload[2] & 0x0F
            scan_start = pos
            break
        # APPn / COM / others: skipped
    if h is None or scan_start is None:
        raise ValueError("missing SOF0/SOS")
    qtbl = qtbls[qsel]
    dc_len, dc_sym = htbls[(0, dcsel)]
    ac_len, ac_sym = htbls[(1, acsel)]

    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    scan = _extract_scan(buf[scan_start:])
    win = _bit_windows(scan).tolist()  # python ints: hot-loop indexing
    nbits = len(win) - 16  # exclude the zero-padding tail
    nblk = bh * bw_
    flat = [0] * (nblk * 64)  # zigzag-order coefficients, all blocks
    pred = 0
    pos = 0
    for n in range(nblk):
        if pos >= nbits:
            raise ValueError("JPEG scan truncated")
        wv = win[pos]
        ln = dc_len[wv]
        if ln == 0:
            raise ValueError("bad Huffman code")
        ssss = dc_sym[wv]
        pos += ln
        if ssss:
            v = win[pos] >> (16 - ssss)
            pred += v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1
            pos += ssss
        base = n * 64
        flat[base] = pred
        k = 1
        while k < 64:
            if pos >= nbits:
                raise ValueError("JPEG scan truncated")
            wv = win[pos]
            ln = ac_len[wv]
            if ln == 0:
                raise ValueError("bad Huffman code")
            sym = ac_sym[wv]
            pos += ln
            if sym == 0x00:  # EOB
                break
            run, ssss = sym >> 4, sym & 0x0F
            if ssss == 0:
                if run != 15:
                    raise ValueError("bad AC symbol")
                k += 16  # ZRL
                continue
            k += run
            if k >= 64:
                raise ValueError("AC coefficient overrun")
            v = win[pos] >> (16 - ssss)
            flat[base + k] = v if v >= (1 << (ssss - 1)) \
                else v - (1 << ssss) + 1
            pos += ssss
            k += 1
    zz = np.asarray(flat, dtype=np.int32).reshape(nblk, 64)
    coefs = (zz[:, _UNZZ].reshape(-1, 8, 8) * qtbl[None, :, :]) \
        .astype(np.float64)
    f = (_T.T @ coefs @ _T) + 128.0  # batched matmul IDCT
    out = (f.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3)
           .reshape(bh * 8, bw_ * 8))
    return np.clip(np.round(out), 0, 255).astype(np.uint8)[:h, :w]
