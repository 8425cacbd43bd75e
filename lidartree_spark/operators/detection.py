"""Flagship operator: per-tile tree detection / segmentation / extraction.

Spark-first design (NOT the reference's catalog_apply port):
- one tile = one row, so detection is mapInPandas — embarrassingly parallel,
  ZERO shuffle; Catalyst prunes columns so only (image_id, bytes, w, h, fmt)
  are read from parquet.
- ROI pruning is a Catalyst range predicate / broadcast semi-join on derived
  bbox columns, mirroring the reference's st_filter tile pruning
  (/root/reference/R/tree_detection.R:103-111) but pushed into the scan.
- buffered-tile dedup: each detection is kept only if its apex lies in the
  tile CORE (crop-to-chunk rule, tree_detection.R:160-165). With halo
  assembly (operators/halo.py) tiles see `buffer_px` of their neighbors and
  the core filter removes duplicates exactly.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lidartree_spark.operators.grid import RES, tile_bbox

TREES_SCHEMA = ("image_id string, id long, x double, y double, h double, "
                "dom_radius double, s double, v double")

LAYERS_SCHEMA = ("image_id string, layer string, bytes binary, w int, h int")

DEFAULT_PARAMS = dict(
    res=RES, nl_filter="Closing", nl_size=5, sigma=0.3, max_width=11.0,
    hmin=5.0, dmin=0.0, dprop=0.05, prop=0.3, min_value=2.0,
)


def _segment_batch(pdf: pd.DataFrame, p: dict):
    """Decode and segment every tile of one Arrow batch, yielding
    (row, tree_segmentation output): the per-tile step detect_trees and
    segment_layers share."""
    from lidartree_spark.codecs import decode_tile
    from lidartree_spark.kernels.segmentation import tree_segmentation
    kw = {k: p[k] for k in DEFAULT_PARAMS}
    for rec in pdf.itertuples(index=False):
        yield rec, tree_segmentation(
            decode_tile(rec.bytes, rec.fmt, rec.w, rec.h), **kw)


def _core_trees(rec, seg: dict, res: float, crown: bool = False) -> list:
    """tree_extraction rows of one segmented tile in map coordinates; on a
    padded tile (rec.pad > 0) only the apexes inside the tile core are kept
    (crop-to-core dedup, tree_detection.R:160-165): an apex in the halo
    belongs to the neighbor whose core holds it."""
    from lidartree_spark.generator import parse_tile_id, tile_origin
    from lidartree_spark.kernels.extraction import tree_extraction
    row, col = parse_tile_id(rec.image_id)
    pad = int(getattr(rec, "pad", 0))
    w_core, h_core = rec.w - 2 * pad, rec.h - 2 * pad
    x0, y1 = tile_origin(row, col, w_core, h_core, res)
    rows = tree_extraction(
        seg["filled_dem"], seg["local_maxima"], seg["segments_id"],
        x0=x0 - pad * res, y1=y1 + pad * res, res=res, crown=crown)
    if pad:
        x1 = x0 + w_core * res
        y0 = y1 - h_core * res
        rows = [r for r in rows if x0 <= r["x"] < x1 and y0 <= r["y"] < y1]
    return rows


def detect_trees(tiles: DataFrame, params: dict | None = None,
                 crown: bool = False) -> DataFrame:
    """tiles -> tree rows (tree_detection LAS/SpatRaster branch semantics,
    tree_detection.R:173-206 via tree_segmentation :862-947 +
    tree_extraction :1000-1086)."""
    p = {**DEFAULT_PARAMS, **(params or {})}
    out_schema = TREES_SCHEMA + (", crown string" if crown else "")
    padded = "pad" in tiles.columns
    cols = ["image_id", "bytes", "w", "h", "fmt"] + (["pad"] if padded else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec, seg in _segment_batch(pdf, p):
                rows = _core_trees(rec, seg, p["res"], crown)
                for r in rows:
                    r["image_id"] = rec.image_id
                out.extend(rows)
            cols_out = ["image_id", "id", "x", "y", "h", "dom_radius", "s", "v"]
            if crown:
                cols_out.append("crown")
            yield pd.DataFrame(out, columns=cols_out)

    return tiles.select(*cols).mapInPandas(run, schema=out_schema)


def segment_layers(tiles: DataFrame, params: dict | None = None) -> DataFrame:
    """tiles -> 4 re-encoded raster layers per tile (tree_segmentation
    output stack, tree_detection.R:944-946), for fixture comparison and
    downstream zonal queries."""
    p = {**DEFAULT_PARAMS, **(params or {})}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import encode_tile
        for pdf in batches:
            out = []
            for rec, seg in _segment_batch(pdf, p):
                for name in ("local_maxima", "segments_id", "filled_dem",
                             "smoothed_dem"):
                    arr = np.asarray(seg[name], dtype=np.float32)
                    out.append({"image_id": rec.image_id, "layer": name,
                                "bytes": encode_tile(arr, "raw_f32"),
                                "w": rec.w, "h": rec.h})
            yield pd.DataFrame(out, columns=["image_id", "layer", "bytes",
                                             "w", "h"])

    return tiles.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, schema=LAYERS_SCHEMA)


def tree_detection_catalog(tiles: DataFrame, roi_wkt: str | None = None,
                           params: dict | None = None,
                           halo_px: int = 16) -> DataFrame:
    """The reference's top-level entry point, catalog branch
    (tree_detection.R:94-127 + :160-206), composed end-to-end:

    1. tile pruning against the ROI's bbox — Catalyst range predicates,
       the distributed st_filter (:103-111);
    2. buffered decomposition — halo strip exchange (chunk buffer,
       :114-115);
    3. per-tile segmentation + extraction with in-UDF crop-to-core dedup
       (:160-165, inside detect_trees);
    4. exact ROI clip — broadcast polygon ring + vectorized ray-casting
       point-in-polygon (st_intersection, :195-199).

    roi_wkt: a `POLYGON ((x y, ...))` string; None processes the whole
    corpus (steps 1 and 4 drop out of the plan entirely — no dead
    predicates left behind for Catalyst to carry)."""
    from lidartree_spark.kernels.geometry import parse_wkt_polygon
    from lidartree_spark.operators.halo import with_halo

    ring = None
    if roi_wkt is not None:
        ring = parse_wkt_polygon(roi_wkt)
        bbox = (float(ring[:, 0].min()), float(ring[:, 1].min()),
                float(ring[:, 0].max()), float(ring[:, 1].max()))
        tiles = prune_tiles_to_roi(tiles, bbox)
    det = detect_trees(with_halo(tiles, halo_px), params)
    if ring is None:
        return det
    bc = tiles.sparkSession.sparkContext.broadcast(ring)

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lidartree_spark.kernels.geometry import points_in_polygon
        r = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            inside = points_in_polygon(pdf["x"].to_numpy(),
                                       pdf["y"].to_numpy(), r)
            yield pdf[inside]

    return det.mapInPandas(clip, schema=det.schema)


def prune_tiles_to_roi(tiles: DataFrame, roi_bbox: tuple) -> DataFrame:
    """Partition pruning: keep tiles whose bbox intersects the ROI bbox —
    a pure Catalyst range predicate on derived columns (the reference's
    st_filter, tree_detection.R:103-111)."""
    xmin, ymin, xmax, ymax = roi_bbox
    b = tile_bbox(F.col("image_id"), F.col("w"), F.col("h"))
    return tiles.where(
        (b["xmin"] < F.lit(xmax)) & (b["xmax"] > F.lit(xmin))
        & (b["ymin"] < F.lit(ymax)) & (b["ymax"] > F.lit(ymin)))


def crop_to_core(trees: DataFrame, buffer_m: float) -> DataFrame:
    """Buffered-tile dedup: keep detections whose apex falls inside the
    owning tile's unbuffered core (crop-to-bbox rule,
    tree_detection.R:160-165). Apex on the boundary belongs to the tile whose
    half-open core [min, max) contains it — exactly once globally."""
    b = tile_bbox(F.col("image_id"), F.lit(64), F.lit(64))
    return trees.where(
        (F.col("x") >= b["xmin"] + F.lit(buffer_m))
        & (F.col("x") < b["xmax"] - F.lit(buffer_m))
        & (F.col("y") >= b["ymin"] + F.lit(buffer_m))
        & (F.col("y") < b["ymax"] - F.lit(buffer_m)))
