"""Integer-DCT perceptual hash (pHash) for image deduplication.

Classic pHash (Zauner 2010, "Implementation and Benchmarking of
Perceptual Image Hash Functions") thresholds the low-frequency block of a
float DCT against its median — which is NOT exactly reproducible across
engines (summation order changes the bits near the median). This variant
replaces the float DCT-II with an INTEGER approximation, the same design
move H.264 made for its 4x4 transform (ITU-T H.264 §8.5): every
coefficient, the median, and every hash bit are exact int64 arithmetic,
so a distributed Spark run and a relational re-derivation (DuckDB oracle)
agree bit-for-bit.

Transform: T[u][x] = round(64 * cos((2x+1) * u * pi / 16)) — the scaled
8-point DCT-II basis rounded to integers (orthogonality is approximate,
which is irrelevant: the hash only needs a fixed energy-compacting
linear map). Coefficients C = T @ P @ T^T over 8x8 integer pixels.

Hash: the 63 AC coefficients in raster order (u*8 + v - 1); bit i is set
iff coeff_i > median (the exact 32nd-smallest of the 63 ints — odd count,
so the median is an element, no averaging). 63 bits => always a
non-negative int64.

Near-dup pairing splits the hash into 8 bands of 8 bits: two images at
Hamming distance <= 7 MUST share at least one unchanged band
(pigeonhole), so a band equi-join is a COMPLETE candidate generator for
the <= 7 filter: one keyed shuffle on (band, band value), no all-pairs.
"""

from __future__ import annotations

import numpy as np

# round(64*cos((2x+1)*u*pi/16)) — integer DCT-II basis, rows u, cols x.
DCT8_INT = np.round(
    64.0 * np.cos((2 * np.arange(8)[None, :] + 1)
                  * np.arange(8)[:, None] * np.pi / 16.0)
).astype(np.int64)


def int_dct2_8x8(pix: np.ndarray) -> np.ndarray:
    """C = T @ P @ T^T over an (8, 8) integer pixel block -> int64 (8, 8).

    Max |C| <= 64*64 * 8*8 * max|P| — safe in int64 for 16-bit pixels.
    """
    p = np.asarray(pix, dtype=np.int64)
    if p.shape != (8, 8):
        raise ValueError(f"int_dct2_8x8 wants (8, 8), got {p.shape}")
    return DCT8_INT @ p @ DCT8_INT.T


def phash64(pix: np.ndarray) -> int:
    """64-bit (63 used) perceptual hash of an (8, 8) integer block."""
    ac = int_dct2_8x8(pix).ravel()[1:]  # raster order, DC dropped
    med = int(np.partition(ac.copy(), 31)[31])  # exact 32nd smallest
    bits = ac > med
    h = 0
    for i in np.nonzero(bits)[0]:
        h |= 1 << int(i)
    return h


def phash64_batch(blocks: np.ndarray) -> np.ndarray:
    """Vectorized phash64 over (n, 8, 8) integer blocks -> int64 (n,)."""
    b = np.asarray(blocks, dtype=np.int64)
    if b.ndim != 3 or b.shape[1:] != (8, 8):
        raise ValueError(f"phash64_batch wants (n, 8, 8), got {b.shape}")
    coeffs = np.einsum("ux,nxy,vy->nuv", DCT8_INT, b, DCT8_INT,
                       optimize=True)
    ac = coeffs.reshape(len(b), 64)[:, 1:]
    med = np.partition(ac, 31, axis=1)[:, 31:32]
    bits = ac > med
    weights = (np.int64(1) << np.arange(63, dtype=np.int64))
    return (bits * weights).sum(axis=1, dtype=np.int64)
