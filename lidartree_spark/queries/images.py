"""Image-corpus gates: multimodal features, pHash near-dups and their
clusters, caption alignment, batch packing and augmentation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.queries import Query


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image_features operator (decode -> bilinear resize ->
    mean/std/gradient-energy + thumbnail embedding, one Arrow-batched
    mapInPandas pass) on analytic raw_f32 images, vs a fully relational
    oracle (_MULTIMODAL_DUCK) that re-derives EVERY value from first
    principles — np.gradient's clamped central differences, the two-pass
    std, and the separable bilinear kernel itself (4-term clamped weighted
    sum per thumbnail pixel).

    Exactness argument: pixels are small integers, pixel counts are powers
    of two, and the resize coordinates (k+0.5)*h/16 - 0.5 are dyadic
    rationals, so every reduction in the operator's float64 accumulators
    is EXACT (order-independent) and the f32 thumbnail cast is the same
    correctly-rounded value DuckDB's CAST(.. AS REAL) produces. ROUND(,6)
    on both sides only guards the final sqrt ulp.

    The PNG/JPEG decode paths feeding the same operator are pinned by
    tiles_roundtrip_stats (driver gate) and the pytest media suite."""
    import pandas as pd

    from lidartree_spark.operators.multimodal import image_features

    def gen(batches):
        import numpy as np
        from lidartree_spark.codecs import encode_tile
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                w = (16, 32, 64)[t % 3]
                h = (32, 16, 64)[(t + 1) % 3]
                ii, jj = np.meshgrid(np.arange(h), np.arange(w),
                                     indexing="ij")
                z = ((ii * 37 + jj * 61 + t * 29) % 23).astype(np.float32)
                out.append({"media_id": f"m{t:04d}",
                            "bytes": encode_tile(z, "raw_f32"),
                            "fmt": "raw_f32", "width": w, "height": h,
                            "channels": 1})
            yield pd.DataFrame(out, columns=["media_id", "bytes", "fmt",
                                             "width", "height", "channels"])

    media = spark.range(16).repartition(8).mapInPandas(
        gen, schema=("media_id string, bytes binary, fmt string, "
                     "width int, height int, channels int"))
    feats = image_features(media)
    return feats.select(
        "media_id",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        F.round("grad_energy", 6).alias("grad_energy"),
        F.size("thumb").cast("long").alias("thumb_len"),
        F.round(F.aggregate(
            "thumb", F.lit(0.0),
            lambda acc, x: acc + x.cast("double")), 6).alias("thumb_sum"),
        F.round(
            F.sqrt(F.aggregate(
                "thumb", F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"))),
            6).alias("thumb_norm"),
    )


_MULTIMODAL_DUCK = """
WITH dims AS (
  SELECT t,
         CASE t % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (t + 1) % 3 WHEN 0 THEN 32 WHEN 1 THEN 16 ELSE 64 END AS h
  FROM UNNEST(generate_series(0, 15)) tt(t)
), px AS (
  SELECT d.t, d.w, d.h, i, j,
         CAST((i * 37 + j * 61 + d.t * 29) % 23 AS DOUBLE) AS z
  FROM dims d,
       UNNEST(generate_series(0, 63)) ii(i),
       UNNEST(generate_series(0, 63)) jj(j)
  WHERE i < d.h AND j < d.w
), grad AS (
  -- np.gradient: one-sided at the edges (divisor 1), central elsewhere
  SELECT p.t, p.i, p.j,
         (py1.z - py0.z) / (CASE WHEN p.i = 0 OR p.i = p.h - 1
                                 THEN 1.0 ELSE 2.0 END) AS gy,
         (px1.z - px0.z) / (CASE WHEN p.j = 0 OR p.j = p.w - 1
                                 THEN 1.0 ELSE 2.0 END) AS gx
  FROM px p
  JOIN px py0 ON py0.t = p.t AND py0.j = p.j
             AND py0.i = GREATEST(p.i - 1, 0)
  JOIN px py1 ON py1.t = p.t AND py1.j = p.j
             AND py1.i = LEAST(p.i + 1, p.h - 1)
  JOIN px px0 ON px0.t = p.t AND px0.i = p.i
             AND px0.j = GREATEST(p.j - 1, 0)
  JOIN px px1 ON px1.t = p.t AND px1.i = p.i
             AND px1.j = LEAST(p.j + 1, p.w - 1)
), stats AS (
  SELECT t,
         SUM(z) / COUNT(*) AS mean,
         SQRT(SUM((z - m.mean) * (z - m.mean)) / COUNT(*)) AS std
  FROM px, LATERAL (
    SELECT SUM(z) / COUNT(*) AS mean FROM px p2 WHERE p2.t = px.t) m
  GROUP BY t, m.mean
), ge AS (
  SELECT t, SUM(gx * gx + gy * gy) / COUNT(*) AS grad_energy
  FROM grad GROUP BY t
), coords AS (
  SELECT d.t, d.w, d.h, ky, kx,
         (ky + 0.5) * d.h / 16.0 - 0.5 AS ys,
         (kx + 0.5) * d.w / 16.0 - 0.5 AS xs
  FROM dims d,
       UNNEST(generate_series(0, 15)) yy(ky),
       UNNEST(generate_series(0, 15)) xx(kx)
), thumb AS (
  -- the exact 4-term clamped bilinear sum, f32-cast like the operator
  SELECT c.t, c.ky, c.kx,
         CAST(za.z * (1 - wy.v) * (1 - wx.v) + zb.z * (1 - wy.v) * wx.v
              + zc.z * wy.v * (1 - wx.v) + zd.z * wy.v * wx.v
              AS REAL) AS th
  FROM coords c,
  LATERAL (SELECT LEAST(GREATEST(CAST(FLOOR(c.ys) AS BIGINT), 0),
                        c.h - 1) AS v) y0,
  LATERAL (SELECT LEAST(y0.v + 1, c.h - 1) AS v) y1,
  LATERAL (SELECT LEAST(GREATEST(CAST(FLOOR(c.xs) AS BIGINT), 0),
                        c.w - 1) AS v) x0,
  LATERAL (SELECT LEAST(x0.v + 1, c.w - 1) AS v) x1,
  LATERAL (SELECT LEAST(GREATEST(c.ys - y0.v, 0), 1) AS v) wy,
  LATERAL (SELECT LEAST(GREATEST(c.xs - x0.v, 0), 1) AS v) wx,
  LATERAL (SELECT z FROM px WHERE t = c.t AND i = y0.v AND j = x0.v) za,
  LATERAL (SELECT z FROM px WHERE t = c.t AND i = y0.v AND j = x1.v) zb,
  LATERAL (SELECT z FROM px WHERE t = c.t AND i = y1.v AND j = x0.v) zc,
  LATERAL (SELECT z FROM px WHERE t = c.t AND i = y1.v AND j = x1.v) zd
), tstats AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS thumb_len,
         ROUND(SUM(CAST(th AS DOUBLE)), 6) AS thumb_sum,
         ROUND(SQRT(SUM(CAST(th AS DOUBLE) * CAST(th AS DOUBLE))), 6)
           AS thumb_norm
  FROM thumb GROUP BY t
)
SELECT printf('m%04d', s.t) AS media_id,
       ROUND(s.mean, 6) AS mean, ROUND(s.std, 6) AS std,
       ROUND(g.grad_energy, 6) AS grad_energy,
       ts.thumb_len, ts.thumb_sum, ts.thumb_norm
FROM stats s
JOIN ge g ON g.t = s.t
JOIN tstats ts ON ts.t = s.t
"""


# --- perceptual-hash image near-dup (integer-DCT pHash + banded LSH) -------
# The image-side twin of simhash_neardup: 48 real 16-bit-gray PNGs (24
# base/perturbed pairs — the odd image bumps ONE pixel of its even twin by
# 6..30), decoded distributed, hashed with the INTEGER 8x8 DCT-II
# approximation (kernels/phash.py — every coefficient, the 32nd-smallest
# median, and every hash bit are exact int64, so DuckDB re-derives the
# hash bit-for-bit), then paired by 8x8-bit band LSH (complete for
# Hamming <= 7 by pigeonhole; one keyed shuffle, no all-pairs). The bump
# magnitudes straddle the threshold on purpose: 14 of the 24 true pairs
# land at <= 7 plus one accidental cross-base collision, so the Hamming
# filter provably rejects AND accepts on this corpus.

def _phash_media(spark: SparkSession) -> DataFrame:
    """The 48-image analytic pHash corpus (24 base/perturbed PNG pairs
    straddling the Hamming threshold) shared by the phash_neardup driver
    gate and the image_dedup_clusters composite."""
    import pandas as pd

    def gen(batches):
        import numpy as np

        from lidartree_spark.codecs import encode_png_gray16
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                j = i - (i % 2)
                x = np.arange(8)[None, :]
                y = np.arange(8)[:, None]
                p = (200 + ((j * 53 + x * 17) % 29)
                     * ((y * 13 + j * 7) % 23)).astype(np.int64)
                if i % 2 == 1:
                    p[(i * 5) % 8, (i * 3) % 8] += 6 + (i % 7) * 4
                out.append({"media_id": f"{i:02d}",
                            "bytes": encode_png_gray16(p / 256.0),
                            "fmt": "png", "width": 8, "height": 8})
            yield pd.DataFrame(out, columns=["media_id", "bytes", "fmt",
                                             "width", "height"])

    return spark.range(48).repartition(8).mapInPandas(
        gen, schema=("media_id string, bytes binary, fmt string, "
                     "width int, height int"))


def _phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode -> integer-DCT pHash -> banded-LSH pair join
    (operators/multimodal.image_phash + phash_neardup_pairs) on an
    analytic corpus DuckDB re-derives from first principles."""
    from lidartree_spark.operators.multimodal import (image_phash,
                                                      phash_neardup_pairs)

    media = _phash_media(spark)
    hashes = image_phash(media)
    pairs = phash_neardup_pairs(hashes, max_hamming=7)
    hrows = hashes.select(
        F.lit("hash").alias("section"),
        F.col("media_id").cast("long").alias("a"),
        F.lit(-1).cast("long").alias("b"),
        F.col("phash").alias("val"))
    prows = pairs.select(
        F.lit("pair").alias("section"),
        F.col("media_a").cast("long").alias("a"),
        F.col("media_b").cast("long").alias("b"),
        F.col("hamming").alias("val"))
    return hrows.unionByName(prows)


# the CTE chain (pixels -> integer DCT -> median -> hash bits -> LSH
# bands -> candidate pairs) is shared by BOTH phash oracles below; the
# WITH/WITH RECURSIVE keyword is supplied by each consumer
_PHASH_CTES = """px AS (
  SELECT i, x, y,
         200 + (((i - (i % 2)) * 53 + x * 17) % 29)
             * ((y * 13 + (i - (i % 2)) * 7) % 23)
         + CASE WHEN i % 2 = 1 AND x = (i * 3) % 8 AND y = (i * 5) % 8
                THEN 6 + (i % 7) * 4 ELSE 0 END AS p
  FROM UNNEST(generate_series(0, 47)) g(i),
       UNNEST(generate_series(0, 7)) xx(x),
       UNNEST(generate_series(0, 7)) yy(y)
), tmat(u, x, t) AS (VALUES
  (0, 0, 64), (0, 1, 64), (0, 2, 64), (0, 3, 64), (0, 4, 64), (0, 5, 64), (0, 6, 64), (0, 7, 64),
  (1, 0, 63), (1, 1, 53), (1, 2, 36), (1, 3, 12), (1, 4, -12), (1, 5, -36), (1, 6, -53), (1, 7, -63),
  (2, 0, 59), (2, 1, 24), (2, 2, -24), (2, 3, -59), (2, 4, -59), (2, 5, -24), (2, 6, 24), (2, 7, 59),
  (3, 0, 53), (3, 1, -12), (3, 2, -63), (3, 3, -36), (3, 4, 36), (3, 5, 63), (3, 6, 12), (3, 7, -53),
  (4, 0, 45), (4, 1, -45), (4, 2, -45), (4, 3, 45), (4, 4, 45), (4, 5, -45), (4, 6, -45), (4, 7, 45),
  (5, 0, 36), (5, 1, -63), (5, 2, 12), (5, 3, 53), (5, 4, -53), (5, 5, -12), (5, 6, 63), (5, 7, -36),
  (6, 0, 24), (6, 1, -59), (6, 2, 59), (6, 3, -24), (6, 4, -24), (6, 5, 59), (6, 6, -59), (6, 7, 24),
  (7, 0, 12), (7, 1, -36), (7, 2, 53), (7, 3, -63), (7, 4, 63), (7, 5, -53), (7, 6, 36), (7, 7, -12)
), coeff AS (
  -- C[u][v] = sum_y sum_x T[u][y] * P[y][x] * T[v][x]
  SELECT px.i, tu.u AS u, tv.u AS v,
         CAST(SUM(tu.t * tv.t * px.p) AS BIGINT) AS c
  FROM px
  JOIN tmat tu ON tu.x = px.y
  JOIN tmat tv ON tv.x = px.x
  GROUP BY px.i, tu.u, tv.u
), ac AS (
  SELECT i, u * 8 + v - 1 AS idx, c,
         ROW_NUMBER() OVER (PARTITION BY i ORDER BY c) AS rn
  FROM coeff WHERE NOT (u = 0 AND v = 0)
), med AS (
  SELECT i, c AS m FROM ac WHERE rn = 32
), hash AS (
  SELECT ac.i,
         CAST(SUM(CASE WHEN ac.c > med.m
                       THEN CAST(1 AS BIGINT) << CAST(ac.idx AS INTEGER)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS h
  FROM ac JOIN med ON ac.i = med.i
  GROUP BY ac.i
), bands AS (
  SELECT i, h, b, (h >> (8 * b)) & 255 AS band_val
  FROM hash, UNNEST(generate_series(0, 7)) bb(b)
), cand AS (
  SELECT DISTINCT l.i AS ia, r.i AS ib, l.h AS ha, r.h AS hb
  FROM bands l JOIN bands r
    ON l.b = r.b AND l.band_val = r.band_val AND l.i < r.i
)"""

_PHASH_ND_DUCK = "WITH " + _PHASH_CTES + """
SELECT 'hash' AS section, CAST(i AS BIGINT) AS a,
       CAST(-1 AS BIGINT) AS b, h AS val
FROM hash
UNION ALL
SELECT 'pair' AS section, CAST(ia AS BIGINT) AS a, CAST(ib AS BIGINT) AS b,
       CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS BIGINT) AS val
FROM cand
WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 7
"""

# --- image near-dup clustering + canonical selection -------------------------
# The image-side twin of dedup_clusters: pHash banded-LSH pairs feed the
# REAL distributed connected-components operator, then keep-one-per-cluster.
# Singletons survive with themselves as canonical (left join).
# Oracle = the phash_neardup CTE chain extended with a
# recursive-CTE transitive closure.

def _image_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lidartree_spark.operators.gaps import cc_min_labels
    from lidartree_spark.operators.multimodal import (image_phash,
                                                      phash_neardup_pairs)

    hashes = image_phash(_phash_media(spark))
    pairs = phash_neardup_pairs(hashes, max_hamming=7)
    lab = cc_min_labels(pairs, "media_a", "media_b",
                        driver_threshold=2_000_000).selectExpr(
        "node AS media_id", "comp AS canonical")
    base = hashes.select(F.col("media_id").cast("long").alias("media_id"))
    allv = base.join(lab, "media_id", "left").select(
        "media_id", F.coalesce("canonical", "media_id").alias("canonical"))
    w = Window.partitionBy("canonical")
    return allv.select(
        "media_id", "canonical",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("media_id") == F.col("canonical")).alias("keep"))


_IMG_DEDUP_DUCK = "WITH RECURSIVE " + _PHASH_CTES + """,
pr AS (
  SELECT ia, ib FROM cand
  WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 7
), sym AS (
  SELECT ia AS u, ib AS w FROM pr UNION SELECT ib, ia FROM pr
  UNION SELECT ia, ia FROM pr UNION SELECT ib, ib FROM pr
), cc AS (
  SELECT u, w FROM sym
  UNION
  SELECT c.u, s.w FROM cc c JOIN sym s ON s.u = c.w
), lab AS (
  SELECT u AS i, MIN(w) AS canonical FROM cc GROUP BY u
), allv AS (
  SELECT h.i, COALESCE(l.canonical, h.i) AS canonical
  FROM hash h LEFT JOIN lab l ON l.i = h.i
)
SELECT CAST(i AS BIGINT) AS media_id, CAST(canonical AS BIGINT) AS canonical,
       CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT)
           AS cluster_size,
       i = canonical AS keep
FROM allv
"""


# --- image augmentation gate -------------------------------------------------
# Training-data augmentation as exact index/value transforms: 12 analytic
# NON-SQUARE PNGs (orientation-pinning) run through all eight ops of
# operators/multimodal.augment_images, the augmented PNG BYTES are decoded
# back, and per-(image, op) stats — dims, pixel sum, both corners — are
# compared against a DuckDB oracle that re-derives each op as a coordinate
# bijection of the source lattice. Corners distinguish every rotation and
# flip from each other; sums pin value transforms (brighten = +16 in
# decoded units = +4096 on the png16 integer grid).

def _image_augment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """augment_images (decode -> 8 exact augmentations -> re-encode PNG)
    with the OUTPUT bytes decoded again for stats — the gate pins both the
    transforms and the png16 round-trip of every augmented image."""
    import pandas as pd

    from lidartree_spark.operators.multimodal import augment_images

    def gen(batches):
        import numpy as np

        from lidartree_spark.codecs import encode_png_gray16
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                w = 6 + (i % 3) * 2
                h = 5 + (i % 2) * 4
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                p = ((i * 31 + x * 17 + y * 29) % 211).astype(np.int64)
                out.append({"media_id": f"{i:02d}",
                            "bytes": encode_png_gray16(p / 256.0),
                            "fmt": "png", "width": w, "height": h})
            yield pd.DataFrame(out, columns=["media_id", "bytes", "fmt",
                                             "width", "height"])

    media = spark.range(12).repartition(4).mapInPandas(
        gen, schema=("media_id string, bytes binary, fmt string, "
                     "width int, height int"))
    aug = augment_images(media)

    def stats(batches):
        import numpy as np

        from lidartree_spark.codecs import decode_png_gray16
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                g = np.round(decode_png_gray16(rec.bytes).astype(np.float64)
                             * 256.0).astype(np.int64)
                out.append({"img": int(rec.media_id), "op": rec.op,
                            "oh": g.shape[0], "ow": g.shape[1],
                            "sum_px": int(g.sum()),
                            "px00": int(g[0, 0]),
                            "px_last": int(g[-1, -1])})
            yield pd.DataFrame(out, columns=["img", "op", "oh", "ow",
                                             "sum_px", "px00", "px_last"])

    return aug.mapInPandas(
        stats, schema=("img bigint, op string, oh bigint, ow bigint, "
                       "sum_px bigint, px00 bigint, px_last bigint"))


_IMAGE_AUGMENT_DUCK = """
WITH dims AS (
  SELECT i, 6 + (i % 3) * 2 AS w, 5 + (i % 2) * 4 AS h
  FROM UNNEST(generate_series(0, 11)) g(i)
), src AS (
  SELECT d.i, d.h, d.w, x, y,
         (d.i * 31 + x * 17 + y * 29) % 211 AS p
  FROM dims d,
       UNNEST(generate_series(0, 9)) xx(x),
       UNNEST(generate_series(0, 8)) yy(y)
  WHERE x < d.w AND y < d.h
), outpx AS (
  -- each op as a source->output coordinate bijection (+ value map)
  SELECT i, 'identity' AS op, h AS oh, w AS ow, y AS oy, x AS ox, p
  FROM src
  UNION ALL
  SELECT i, 'flip_h', h, w, y, w - 1 - x, p FROM src
  UNION ALL
  SELECT i, 'flip_v', h, w, h - 1 - y, x, p FROM src
  UNION ALL
  SELECT i, 'rot90', w, h, w - 1 - x, y, p FROM src
  UNION ALL
  SELECT i, 'rot180', h, w, h - 1 - y, w - 1 - x, p FROM src
  UNION ALL
  SELECT i, 'rot270', w, h, x, h - 1 - y, p FROM src
  UNION ALL
  SELECT i, 'crop_center', h // 2, w // 2,
         y - (h - h // 2) // 2, x - (w - w // 2) // 2, p
  FROM src
  WHERE y >= (h - h // 2) // 2 AND y < (h - h // 2) // 2 + h // 2
    AND x >= (w - w // 2) // 2 AND x < (w - w // 2) // 2 + w // 2
  UNION ALL
  SELECT i, 'brighten', h, w, y, x, p + 4096 FROM src
)
SELECT CAST(i AS BIGINT) AS img, op,
       CAST(oh AS BIGINT) AS oh, CAST(ow AS BIGINT) AS ow,
       CAST(SUM(p) AS BIGINT) AS sum_px,
       CAST(MAX(CASE WHEN oy = 0 AND ox = 0 THEN p END) AS BIGINT)
           AS px00,
       CAST(MAX(CASE WHEN oy = oh - 1 AND ox = ow - 1 THEN p END)
            AS BIGINT) AS px_last
FROM outpx
GROUP BY i, op, oh, ow
"""


# --- aspect-ratio bucketed image batch packing -------------------------------
# Vision-training batch prep (NaViT / SDXL-style aspect bucketing) packs
# images into fixed pixel-budget batches WITHIN an aspect class, so a batch
# never mixes orientations. Buckets come from integer cross-multiplication
# (4w<=3h tall, 4h<=3w wide — no float ratios), order within a bucket is the
# md5-ranked rerun-stable stream, and the pack is ONE partitioned
# cumulative-sum window — no global total order at any corpus size.
# Dimensions derive deterministically from doc_id so both engines own
# identical ground truth; every output is BIGINT-exact.

def _image_pack_sql(d: str) -> str:
    cast_t = "STRING" if d == "spark" else "VARCHAR"
    return f"""
WITH imgs AS (
  SELECT doc_id AS image_id,
         64 + ((doc_id * 37) % 9) * 32 AS w,
         64 + ((doc_id * 53) % 9) * 32 AS h
  FROM documents),
cls AS (
  SELECT image_id, w, h, w * h AS px,
         CASE WHEN 4 * w <= 3 * h THEN 'tall'
              WHEN 4 * h <= 3 * w THEN 'wide'
              ELSE 'square' END AS bucket
  FROM imgs),
cum AS (
  SELECT image_id, bucket, w, h, px,
         SUM(px) OVER (PARTITION BY bucket
                       ORDER BY md5(CAST(image_id AS {cast_t})), image_id
                       ROWS UNBOUNDED PRECEDING) AS cpx
  FROM cls)
SELECT CAST(image_id AS BIGINT) AS image_id, bucket,
       CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(px AS BIGINT) AS px,
       CAST(FLOOR((cpx - px) / CAST(400000 AS DOUBLE)) AS BIGINT)
           AS batch_id,
       CAST((cpx - px) % 400000 AS BIGINT) AS px_offset
FROM cum
"""


# --- caption<->image alignment filtering -------------------------------------
# The cross-modal pair filter of image+caption pipelines (the CLIP-score
# step of LAION-style dataset construction, re-expressed with a
# deterministic alignment metric): decode the image with the REAL codec,
# measure pixel stats, parse the caption's claimed stats in Catalyst
# (regexp_extract — JVM-side), keep pairs whose claim matches the pixels.
# The gate corpus is 24 real 16-bit PNGs over an analytic dyadic-grid field
# (quarters + an integer spike 20+t, exact through encode/decode/float64
# reductions) where odd tiles carry their PARTNER's caption — 12 keep / 12
# drop, so the filter provably acts both ways; the DuckDB oracle re-derives
# every value byte-free from the closed form. At 100 TB this is map-only:
# one decode pass + a per-row regex, no shuffle at all.

def _caption_align_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lidartree_spark.operators.multimodal import image_pixel_stats

    def gen(batches):
        import numpy as np
        import pandas as pd
        from lidartree_spark.codecs import encode_png_gray16
        for pdf in batches:
            rows = []
            for t in pdf["id"].astype(int):
                t = int(t)
                i = np.arange(16, dtype=np.float32)[:, None]
                j = np.arange(16, dtype=np.float32)[None, :]
                chm = (i + 2 * j) * np.float32(0.25)
                r, c = t % 16, (3 * t + 1) % 16
                chm[r, c] = 20.0 + t
                src = t if t % 2 == 0 else (t + 5) % 24
                rows.append({
                    "media_id": f"img{t:04d}",
                    "bytes": encode_png_gray16(chm),
                    "fmt": "png", "width": 16, "height": 16,
                    "caption": (f"synthetic canopy tile img{src:04d} "
                                f"peak {20 + src}.0 m"),
                })
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "fmt",
                                              "width", "height", "caption"])

    schema = ("media_id string, bytes binary, fmt string, width int, "
              "height int, caption string")
    corpus = spark.range(0, 24, 1, 4).mapInPandas(gen, schema=schema)
    stats = image_pixel_stats(corpus)
    cap = corpus.select(
        "media_id",
        F.regexp_extract("caption", r"peak (\d+\.0) m", 1)
         .cast("double").alias("claimed_peak"))
    diff = F.abs(F.col("claimed_peak") - F.col("px_max"))
    return stats.join(cap, "media_id").select(
        "media_id", "n_px", "px_max", "px_mean", "claimed_peak",
        diff.alias("align_diff"), (diff <= F.lit(0.5)).alias("keep"))


_CAPTION_ALIGN_DUCK = """
WITH s AS (SELECT i AS t FROM range(0, 24) r(i)),
v AS (
  SELECT t, t % 16 AS r, (3 * t + 1) % 16 AS c,
         CASE WHEN t % 2 = 0 THEN t ELSE (t + 5) % 24 END AS src
  FROM s)
SELECT printf('img%04d', t) AS media_id,
       CAST(256 AS BIGINT) AS n_px,
       CAST(20 + t AS DOUBLE) AS px_max,
       (1440.0 - (r + 2 * c) * 0.25 + (20 + t)) / 256.0 AS px_mean,
       CAST(20 + src AS DOUBLE) AS claimed_peak,
       ABS(CAST(20 + src AS DOUBLE) - (20 + t)) AS align_diff,
       ABS(CAST(20 + src AS DOUBLE) - (20 + t)) <= 0.5 AS keep
FROM v
"""


QUERIES = [
    Query("multimodal_image_features", _multimodal_features,
          _MULTIMODAL_DUCK, driver=True),
    Query("phash_neardup", _phash_neardup, _PHASH_ND_DUCK, driver=True),
    Query("image_dedup_clusters", _image_dedup_gate, _IMG_DEDUP_DUCK),
    Query("image_augment_stats", _image_augment_stats, _IMAGE_AUGMENT_DUCK),
    Query("image_pack", _image_pack_sql("spark"), _image_pack_sql("duck")),
    Query("caption_alignment", _caption_align_gate, _CAPTION_ALIGN_DUCK),
]
