"""Interchange gates: LAS/LAZ and GeoTIFF round trips feeding the tile
chain, the reference's own .laz tile, and the clustered parquet layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.queries import Query
from lidartree_spark.queries.forestry import _CROWNS_SPIKE_DUCK
from lidartree_spark.queries.raster import _POINTS_LIFECYCLE_DUCK
from lidartree_spark.queries.shared import (
    _lifecycle_points,
    _spike_tiles,
    scratch_dir,
)


# --- LAS 1.2 point-cloud ingestion gate (round 4) --------------------------
# The reference's native input is a .laz file read by lidR::readLAS
# (lidaRtRee R/common.R:16-20; inst/extdata las_chablais3.laz). This
# gate closes the uncompressed-container parity gap END TO END: it PLANTS
# real LAS 1.2 bytes on disk (3 files, point format 1, power-of-two scale
# factors so every coordinate decodes to an exact double), reads them back
# through the DISTRIBUTED reader (header-manifest scan -> record-range
# chunks -> vectorized struct decode; chunk_records=2048 forces 3 chunks
# per file so the range math is exercised, not bypassed), and aggregates
# the points to DSM cells (the points2DSM max-per-cell rule,
# common.R:53-70) plus attribute-roundtrip sums. DuckDB re-derives every
# row from the closed-form point formula — any header/stride/scale/flag
# decode error lands in some cell's aggregate.
_LAS_GATE_N = 15000  # 3 files x 5000 points


def _las_plant_files() -> str:
    # a FRESH temp dir per call: a fixed skip-if-exists dir would keep
    # validating bytes written by an OLDER encoder after a codec change
    # (gate green, encoder broken) and races concurrent runs on the same
    # tmp path; the 420 KB of files cost nothing to rewrite
    import os

    import numpy as np

    from lidartree_spark.las import encode_las
    d = scratch_dir("lidartree_las_gate_")
    for f in range(3):
        g = np.arange(f * 5000, (f + 1) * 5000, dtype=np.int64)
        path = os.path.join(d, f"part{f}.las")
        buf = encode_las(
            x=(g % 200) * 0.25, y=((g * 7) % 160) * 0.25,
            z=(g % 97) * 0.125,
            classification=np.where(g % 5 == 0, 2, 1),
            intensity=(g * 13) % 1024,
            gps_time=g * 0.5,
            return_number=1 + (g % 3).astype(np.int64),
            # powers of two: X_int * scale is exact binary arithmetic, so
            # the decoded doubles equal the oracle's closed forms bit-wise
            scale=(0.25, 0.25, 0.125), offset=(0.0, 0.0, 0.0),
            point_format=1)
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(buf)
        os.replace(tmp, path)
    return d


def _las_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lidartree_spark.las import read_las
    d = _las_plant_files()
    pts = read_las(spark, d, chunk_records=2048)
    return (pts
            .groupBy(F.floor("x").cast("long").alias("cx"),
                     F.floor("y").cast("long").alias("cy"))
            .agg(F.max("z").alias("z_max"),
                 F.count("*").cast("long").alias("n_points"),
                 F.sum(F.when(F.col("classification") == 2, 1)
                        .otherwise(0)).cast("long").alias("n_ground"),
                 F.sum("intensity").cast("long").alias("intensity_sum"),
                 F.max("gps_time").alias("t_max"),
                 F.max("return_number").cast("int").alias("rn_max")))


_LAS_INGEST_DUCK = f"""
WITH p AS (
  SELECT g, (g % 200) * CAST(0.25 AS DOUBLE) AS x,
         ((g * 7) % 160) * CAST(0.25 AS DOUBLE) AS y,
         (g % 97) * CAST(0.125 AS DOUBLE) AS z,
         CASE WHEN g % 5 = 0 THEN 2 ELSE 1 END AS cls,
         (g * 13) % 1024 AS inten,
         g * CAST(0.5 AS DOUBLE) AS gps, 1 + (g % 3) AS rn
  FROM UNNEST(generate_series(0, {_LAS_GATE_N - 1})) t(g)
)
SELECT CAST(FLOOR(x) AS BIGINT) AS cx, CAST(FLOOR(y) AS BIGINT) AS cy,
       MAX(z) AS z_max, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ground,
       CAST(SUM(inten) AS BIGINT) AS intensity_sum,
       MAX(gps) AS t_max, CAST(MAX(rn) AS INT) AS rn_max
FROM p GROUP BY 1, 2
"""


def _las_lifecycle_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The points_lifecycle chain FROM A .las FILE: the same plane+spike
    construction as points_lifecycle_stats, but the points round-trip
    through the DISTRIBUTED LAS sink (write_las, one file per partition)
    and the distributed reader (read_las) before the TIN-DTM + DSM + CHM +
    detection chain — i.e. a lidR user's `readLAS -> tree_detection`
    workflow end to end, ground/canopy split by LAS classification
    (2 = ground, ASPRS standard). The oracle is points_lifecycle's,
    VERBATIM. Why the LAS round-trip cannot change the result: z =
    100 + 0.05x + 0.03y sits on the 0.0025 DECIMAL z-grid (0.0125 = 5
    units, 0.0075 = 3 units, H integer) and x, y on the exact-binary
    0.25 grid, so rint() hits the intended integer exactly and the only
    round-trip drift is double-representation noise in N*0.0025
    (measured <= 1.4e-14) — four orders below the chain's own f32 noise
    (~1e-5) that the gate's ROUND(h, 3) already absorbs, and seven
    below any detection threshold/tie spacing (0.5-unit grids)."""
    return _file_lifecycle_detect(spark, compressed=False)


def _file_lifecycle_detect(spark: SparkSession,
                           compressed: bool) -> DataFrame:
    """The shared file-sink lifecycle chain of las_lifecycle_detect and
    laz_lifecycle_detect — ONE builder so the select/round expressions
    that must stay byte-identical to _POINTS_LIFECYCLE_DUCK cannot
    drift between the two gates (the _lifecycle_points precedent)."""
    from lidartree_spark.las import read_las, write_las, write_laz
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.rasterize import (
        normalize_tiles,
        points_to_dtm_tiles,
        points_to_tiles,
    )
    ground, canopy = _lifecycle_points(spark, with_class=True)
    pts = ground.unionByName(canopy).repartition(8)
    if compressed:
        d = scratch_dir("lidartree_laz_lc_")
        write_laz(pts, d, scale=(0.25, 0.25, 0.0025)).count()
        back = read_las(spark, d)
    else:
        d = scratch_dir("lidartree_las_lc_")
        write_las(pts, d, scale=(0.25, 0.25, 0.0025)).count()
        back = read_las(spark, d, chunk_records=4096)
    g2 = back.where("classification = 2").select("x", "y", "z")
    dtm = points_to_dtm_tiles(g2, halo_m=8.0)
    dsm = points_to_tiles(back.select("x", "y", "z"))
    det = detect_trees(normalize_tiles(dsm, dtm))
    return det.select(
        "image_id", "x", "y", F.round("h", 3).alias("h"), "dom_radius",
        F.round("s", 6).alias("s"), F.round("v", 3).alias("v"))


def _laz_lifecycle_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """las_lifecycle_detect with the COMPRESSED sink: the same analytic
    point field round-trips through write_laz (LASzip encode, one .laz
    per partition) and read_las's chunk-parallel LASzip decode before
    the TIN-DTM + DSM + CHM + detection chain. Oracle: points_lifecycle's
    VERBATIM — LASzip is lossless over the quantized integers (encoder
    and decoder are exact mirrors; round-trip pinned bit-exactly in
    tests/test_laz.py), so compression must not move a single output
    value. This is the DuckDB-oracle evidence for the .laz codec: the
    rows-only laz_chablais_detect covers the real reference file, this
    covers the engine's own compressed write->read cycle."""
    return _file_lifecycle_detect(spark, compressed=True)


def _clustered_layout_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered layout round-trip (operators/layout): 200K
    arithmetically-scattered points -> write_clustered (range shuffle on
    the Hilbert code + in-partition sort) -> bbox_scan back -> exact
    aggregates, vs DuckDB re-deriving from the closed-form point
    definitions. Any clustering bug that drops/duplicates/mangles rows
    (boundary off-by-one in repartitionByRange, a lossy sort column
    collision, hcode guard misfire) lands in count/sum. The PRUNING
    effect (1-of-32 row groups for this 1/64-domain bbox vs 32-of-32
    hash-scattered) is engine-metadata, so it is asserted in
    tests/test_layout.py rather than here."""
    from lidartree_spark.operators.layout import bbox_scan, write_clustered
    pts = spark.range(200_000).selectExpr(
        "id",
        "CAST((id * 7919) % 25600 AS DOUBLE) / CAST(100 AS DOUBLE) AS x",
        "CAST((id * 104729 + 13) % 25600 AS DOUBLE) / CAST(100 AS DOUBLE)"
        " AS y",
        "CAST(id % 97 AS DOUBLE) AS z")
    d = scratch_dir("lidartree_layout_")
    write_clustered(pts, d, res=0.5, n_files=32)
    got = bbox_scan(spark, d, 0.0, 0.0, 32.0, 32.0)
    return got.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("id").cast("long").alias("id_sum"),
        F.sum("z").alias("z_sum"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"))


_CLUSTERED_LAYOUT_DUCK = """
WITH p AS (
  SELECT g AS id,
         CAST((g * 7919) % 25600 AS DOUBLE) / CAST(100 AS DOUBLE) AS x,
         CAST((g * 104729 + 13) % 25600 AS DOUBLE) / CAST(100 AS DOUBLE)
           AS y,
         CAST(g % 97 AS DOUBLE) AS z
  FROM UNNEST(generate_series(0, 199999)) t(g)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(id) AS BIGINT) AS id_sum,
       SUM(z) AS z_sum, MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM p
WHERE x >= 0 AND x < 32 AND y >= 0 AND y < 32
"""

# the reference's bundled tile, read where a lidaRtRee checkout puts it
CHABLAIS3 = "/root/reference/inst/extdata/las_chablais3.laz"


def _laz_chablais_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's REAL bundled workflow on its REAL bundled data:
    read las_chablais3.laz (the exact file common.R:16-20 loads) with the
    engine's own LASzip decoder (lidartree_spark/laz.py, chunk-parallel),
    then the full tree_detection(las) lifecycle (tree_detection.R:173-206)
    — ground-class TIN DTM, max-in-cell DSM, CHM normalize, per-tile
    segmentation + extraction. Rows-only gate: DuckDB cannot decode LAZ,
    so correctness of the decode itself is pinned by tests/test_laz.py's
    exact-bbox stream checksum; this entry evidences the end-to-end
    .laz -> trees path as one Spark plan."""
    from lidartree_spark.las import read_las
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.rasterize import (
        normalize_tiles,
        points_to_dtm_tiles,
        points_to_tiles,
    )
    pts = read_las(spark, CHABLAIS3)
    local = pts.selectExpr("x - 974326.0 AS x", "y - 6581619.0 AS y", "z",
                           "classification")
    ground = local.where("classification = 2").select("x", "y", "z")
    dtm = points_to_dtm_tiles(ground, halo_m=8.0)
    dsm = points_to_tiles(local.select("x", "y", "z"))
    return detect_trees(normalize_tiles(dsm, dtm))


def _geotiff_spike_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crowns_spike THROUGH THE GeoTIFF CYCLE: the spike corpus writes
    to one georeferenced .tif per tile (lidartree_spark.tiff — the
    on-disk form of the reference's terra rasters), reads back via the
    grid-aligned distributed source, then runs the full crown=True
    detection chain. Oracle: crowns_spike's VERBATIM — the float32
    raster round-trip is lossless (uncompressed strips, same dtype), so
    the interchange format must not move a single detection or WKT
    vertex. DuckDB-oracle evidence for the raster source/sink, the
    exact analog of laz_lifecycle_detect on the point side."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.tiff import read_geotiff_tiles, write_geotiff_tiles
    d = scratch_dir("lidartree_tif_")
    write_geotiff_tiles(_spike_tiles(spark), d).count()
    back = read_geotiff_tiles(spark, d)
    det = detect_trees(back, crown=True)
    return det.select("image_id", "x", "y", "h", "crown")


QUERIES = [
    Query("las_ingest_dsm", _las_ingest_gate, _LAS_INGEST_DUCK),
    Query("las_lifecycle_detect", _las_lifecycle_gate, _POINTS_LIFECYCLE_DUCK),
    Query("laz_lifecycle_detect", _laz_lifecycle_gate, _POINTS_LIFECYCLE_DUCK),
    Query("clustered_layout_scan", _clustered_layout_gate,
          _CLUSTERED_LAYOUT_DUCK),
    Query("laz_chablais_detect", _laz_chablais_detect, needs=CHABLAIS3),
    Query("geotiff_spike_detect", _geotiff_spike_gate, _CROWNS_SPIKE_DUCK),
]
