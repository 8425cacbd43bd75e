"""Multimodal columns: images as opaque binary + typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shapes, UDF
signatures) is real and tested. Format decoders:

- fmt == "raw_f32" -> real decode (shared tile codec)
- fmt == "png"     -> REAL ISO 15948 16-bit-gray PNG (codecs.decode_png_gray16)
- fmt == "jpeg"    -> REAL baseline JFIF (lidartree_spark.jpeg, pure-python
  T.81 sequential DCT — no libjpeg in this environment)

Any other fmt raises. `FakeDecoder` is only the deterministic pixel
SOURCE for synthetic_media — i.e. a data generator, never a decode path.
Downstream ops (resize, feature extraction, hashing, augmentation) are
REAL numpy implementations over whatever the decode stage yields.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = ("media_id string, kind string, bytes binary, fmt string, "
                "width int, height int, channels int")


class FakeDecoder:
    """Deterministic media-id-seeded array SOURCE used by synthetic_media
    to fabricate pixels BEFORE they are encoded with the real
    codecs (and by tests as the independent ground truth for what a decode
    should approximately return). Not a decode path — no fmt routes here."""

    @staticmethod
    def _rng(media_id: str):
        return np.random.default_rng(
            int.from_bytes(hashlib.sha256(media_id.encode()).digest()[:8],
                           "little"))

    @classmethod
    def image(cls, media_id: str, w: int, h: int, c: int) -> np.ndarray:
        return cls._rng(media_id).uniform(0, 1, (h, w, c)).astype(np.float32)


def decode_image_array(rec) -> np.ndarray:
    if rec.fmt == "raw_f32":
        from lidartree_spark.codecs import decode_tile
        return decode_tile(rec.bytes, "raw_f32", rec.width, rec.height)[..., None]
    if rec.fmt == "png":
        from lidartree_spark.codecs import decode_png_gray16
        return decode_png_gray16(rec.bytes)[..., None]
    if rec.fmt == "jpeg":
        from lidartree_spark.jpeg import decode_jpeg_gray
        return (decode_jpeg_gray(rec.bytes).astype(np.float32)
                / 255.0)[..., None]
    raise ValueError(f"unknown media fmt {rec.fmt!r}")


def resize_bilinear(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Real separable bilinear resize (pure numpy, vectorized)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0, 1)[:, None, None]
    wx = np.clip(xs - x0, 0, 1)[None, :, None]
    a = img[np.ix_(y0, x0)]
    b = img[np.ix_(y0, x1)]
    c = img[np.ix_(y1, x0)]
    d = img[np.ix_(y1, x1)]
    return (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
            + c * wy * (1 - wx) + d * wy * wx)


def image_features(media: DataFrame, resize_to: int = 16) -> DataFrame:
    """decode -> resize -> per-image features (mean/std/gradient energy) +
    a flattened thumbnail embedding. One mapInPandas pass, Arrow-batched."""
    schema = ("media_id string, mean double, std double, grad_energy double, "
              "thumb array<float>")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                img = decode_image_array(rec)
                # float64 accumulators: f32 accumulation loses precision on
                # large images, and exact-valued (integer/dyadic) pixels
                # stay EXACT through every reduction — which is what makes
                # the multimodal_image_features DuckDB gate possible
                g = img.mean(axis=2, dtype=np.float64)
                thumb = resize_bilinear(g[..., None], resize_to, resize_to)
                gy, gx = np.gradient(g)
                out.append({
                    "media_id": rec.media_id,
                    "mean": float(np.nanmean(g, dtype=np.float64)),
                    "std": float(np.nanstd(g, dtype=np.float64)),
                    "grad_energy": float(np.nanmean(gx * gx + gy * gy,
                                                    dtype=np.float64)),
                    "thumb": thumb.ravel().astype(np.float32).tolist(),
                })
            yield pd.DataFrame(out, columns=["media_id", "mean", "std",
                                             "grad_energy", "thumb"])

    cols = ["media_id", "bytes", "fmt", "width", "height", "channels"]
    return media.select(*cols).mapInPandas(run, schema=schema)


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """decode -> per-image pixel extrema/mean (float64 accumulators, so
    dyadic-grid pixels stay EXACT through the reductions — the property the
    caption_alignment DuckDB gate relies on). One mapInPandas pass; caption
    parsing deliberately stays OUTSIDE this operator in Catalyst
    (regexp_extract is JVM-side; only the codec needs Python)."""
    schema = ("media_id string, n_px long, px_max double, px_mean double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                img = decode_image_array(rec)
                g = img.mean(axis=2, dtype=np.float64)
                out.append({
                    "media_id": rec.media_id,
                    "n_px": int(g.size),
                    "px_max": float(np.nanmax(g)),
                    "px_mean": float(np.nanmean(g, dtype=np.float64)),
                })
            yield pd.DataFrame(out, columns=["media_id", "n_px", "px_max",
                                             "px_mean"])

    cols = ["media_id", "bytes", "fmt", "width", "height"]
    return media.select(*cols).mapInPandas(run, schema=schema)


def synthetic_media(spark, n: int = 24) -> DataFrame:
    """Small deterministic image table: one row per i in range(n) with
    i % 3 == 0, alternating REAL PNG and REAL baseline JPEG payloads."""
    from lidartree_spark.codecs import encode_png_gray16
    from lidartree_spark.jpeg import encode_jpeg_gray
    rows = []
    for i in range(0, n, 3):
        mid = f"m{i:04d}"
        w, h = 32, 24 + 8 * (i % 2)
        img = FakeDecoder.image(mid, w, h, 1)[:, :, 0]
        if i % 2 == 0:
            data, fmt = encode_png_gray16(img), "png"
        else:
            u8 = np.clip(np.round(img * 255.0), 0, 255).astype(np.uint8)
            data, fmt = encode_jpeg_gray(u8, quality=95), "jpeg"
        rows.append({"media_id": mid, "kind": "image", "bytes": data,
                     "fmt": fmt, "width": w, "height": h, "channels": 1})
    return spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)


def image_phash(media: DataFrame, pixel_scale: int = 256) -> DataFrame:
    """decode -> (bilinear resize to 8x8 if needed) -> integer-DCT pHash.

    One Arrow-batched mapInPandas pass over the binary column — the same
    scan-stage shape as image_features: embarrassingly parallel, zero
    shuffle, so it runs at whatever parallelism the parquet scan gives it.
    Pixels are quantized to round(value * pixel_scale) int64 before the
    integer transform (kernels/phash.py); for the lossless decode paths
    (raw_f32, png's 1/256 grid) the quantization is exact, so the hash is
    a pure function of the stored bytes — rerun-stable and
    oracle-reproducible (driver gate: queries.phash_neardup).
    """
    from lidartree_spark.kernels.phash import phash64_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blocks = [], []
            for rec in pdf.itertuples():
                img = decode_image_array(rec)[..., 0]
                if img.shape != (8, 8):
                    img = resize_bilinear(img[..., None], 8, 8)[..., 0]
                blocks.append(np.round(np.asarray(img, dtype=np.float64)
                                       * pixel_scale).astype(np.int64))
                ids.append(rec.media_id)
            hs = phash64_batch(np.stack(blocks)) if blocks else []
            yield pd.DataFrame({"media_id": ids,
                                "phash": pd.array(hs, dtype="int64")},
                               columns=["media_id", "phash"])

    cols = ["media_id", "bytes", "fmt", "width", "height"]
    return media.select(*cols).mapInPandas(
        run, schema="media_id string, phash long")


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 7,
                        n_bands: int = 8, band_bits: int = 8) -> DataFrame:
    """Banded-LSH near-duplicate pairs over a (media_id, phash) table.

    Splits the 63-bit hash into `n_bands` bands of `band_bits` bits and
    equi-joins on (band index, band value): complete for Hamming distance
    <= n_bands - 1 by pigeonhole (default 8 bands => every pair at
    distance <= 7 shares an unchanged band). One keyed shuffle on the
    band key — no all-pairs stage, the plan that survives 100x data.
    """
    from pyspark.sql import functions as F

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding with {n_bands} bands is only complete for "
            f"Hamming <= {n_bands - 1}, got max_hamming={max_hamming}")
    bands = hashes.select(
        "media_id", "phash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("b"))
    mask = (1 << band_bits) - 1
    bands = bands.withColumn(
        "band_val",
        F.expr(f"shiftright(phash, b * {band_bits}) & {mask}L"))
    a, c = bands.alias("a"), bands.alias("c")
    cand = (a.join(c, [F.col("a.b") == F.col("c.b"),
                       F.col("a.band_val") == F.col("c.band_val"),
                       F.col("a.media_id") < F.col("c.media_id")])
            .select(F.col("a.media_id").alias("media_a"),
                    F.col("c.media_id").alias("media_b"),
                    F.col("a.phash").alias("ha"),
                    F.col("c.phash").alias("hb"))
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                        .cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("media_a", "media_b", "hamming"))


AUGMENT_OPS = ("identity", "flip_h", "flip_v", "rot90", "rot180", "rot270",
               "crop_center", "brighten")


def augment_images(media: DataFrame, ops: tuple[str, ...] = AUGMENT_OPS,
                   crop_frac: float = 0.5,
                   brighten_by: float = 16.0) -> DataFrame:
    """Training-data image augmentation: decode -> one output image per
    (input, op) -> re-encode as 16-bit-gray PNG bytes.

    Ops are exact index/value transforms (no resampling), so every output
    pixel is a relabeling of an input pixel — a DuckDB oracle re-derives
    them by transforming indices (driver-verified via the extended
    image_augment_stats gate):
      flip_h   out[y, x] = in[y, w-1-x]
      flip_v   out[y, x] = in[h-1-y, x]
      rot90    out[y, x] = in[x, w-1-y]      (90° counterclockwise,
               np.rot90 convention: out shape (w, h))
      rot180   out[y, x] = in[h-1-y, w-1-x]
      rot270   out[y, x] = in[h-1-x, y]      (out shape (w, h))
      crop_center  the centered floor(h*f) x floor(w*f) window
      brighten     in + brighten_by, clamped to the png16 domain
    One mapInPandas pass; the fan-out is inside the UDF (k outputs per
    input row), so the stage stays shuffle-free and embarrassingly
    parallel — at 100 TB the augmentation multiplies bytes, not shuffles.
    """
    from lidartree_spark.codecs import encode_png_gray16

    schema = ("media_id string, op string, height int, width int, "
              "bytes binary")

    def transform(g: np.ndarray, op: str) -> np.ndarray:
        if op == "identity":
            return g
        if op == "flip_h":
            return g[:, ::-1]
        if op == "flip_v":
            return g[::-1, :]
        if op == "rot90":
            return np.rot90(g, 1)
        if op == "rot180":
            return np.rot90(g, 2)
        if op == "rot270":
            return np.rot90(g, 3)
        if op == "crop_center":
            h, w = g.shape
            ch, cw = max(int(h * crop_frac), 1), max(int(w * crop_frac), 1)
            y0, x0 = (h - ch) // 2, (w - cw) // 2
            return g[y0:y0 + ch, x0:x0 + cw]
        if op == "brighten":
            return np.clip(g + brighten_by, 0.0, 0xFFFE / 256.0)
        raise ValueError(f"unknown augmentation op {op!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                g = decode_image_array(rec)[..., 0].astype(np.float64)
                for op in ops:
                    aug = transform(g, op)
                    out.append({"media_id": rec.media_id, "op": op,
                                "height": int(aug.shape[0]),
                                "width": int(aug.shape[1]),
                                "bytes": encode_png_gray16(aug)})
            yield pd.DataFrame(out, columns=["media_id", "op", "height",
                                             "width", "bytes"])

    cols = ["media_id", "bytes", "fmt", "width", "height"]
    return media.select(*cols).mapInPandas(run, schema=schema)
