"""Halo exchange, gap detection, coregistration — engine vs oracle."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from lidartree_spark.codecs import decode_tile, encode_tile
from lidartree_spark.generator import gen_tile, gen_tile_row, tile_origin
from lidartree_spark.kernels.extraction import tree_extraction
from lidartree_spark.kernels.segmentation import tree_segmentation
from lidartree_spark.operators.detection import DEFAULT_PARAMS, detect_trees
from lidartree_spark.operators.halo import with_halo
from lidartree_spark.operators.gaps import detect_gaps
from lidartree_spark.operators.coreg import coregister
from lidartree_spark.operators.tiles import synthetic_ref_trees, synthetic_tiles

G = 2  # 2x2 grid -> 128x128 mosaic
HALO = 16


def mosaic_chm():
    """Stitch the 2x2 grid into one 128x128 array (decoded via each tile's
    actual codec, like the engine sees it)."""
    out = np.zeros((64 * G, 64 * G), dtype=np.float32)
    for r in range(G):
        for c in range(G):
            rec = gen_tile_row(r, c)
            arr = decode_tile(rec["bytes"], rec["fmt"], 64, 64)
            # row r=G-1 is the northernmost -> array rows [0:64)
            out[(G - 1 - r) * 64:(G - r) * 64, c * 64:(c + 1) * 64] = arr
    return out


def test_halo_assembly_pixels(spark):
    tiles = synthetic_tiles(spark, G, G)
    padded = {r.image_id: r for r in with_halo(tiles, HALO).collect()}
    assert len(padded) == G * G
    mos = mosaic_chm()
    rec = padded["t0000_0001"]  # SE tile: north + west neighbors exist
    arr = decode_tile(rec.bytes, "raw_f32", rec.w, rec.h)
    assert rec.pad == HALO and arr.shape == (64 + 2 * HALO, 64 + 2 * HALO)
    # core matches mosaic block (south row r=0 -> mosaic rows 64:128)
    core = arr[HALO:-HALO, HALO:-HALO]
    mos_blk = mos[64:128, 64:128]
    m = np.isfinite(mos_blk)
    assert np.allclose(core[m], mos_blk[m], equal_nan=False)
    # west halo strip comes from the real west neighbor
    west = arr[HALO:-HALO, :HALO]
    mos_west = mos[64:128, 64 - HALO:64]
    mw = np.isfinite(mos_west)
    assert np.allclose(west[mw], mos_west[mw])
    # south edge (corpus border) is edge-replicated
    assert np.allclose(np.nan_to_num(arr[-1, HALO:-HALO]),
                       np.nan_to_num(arr[-HALO - 1, HALO:-HALO]))


# a 4x5 grid without two corner tiles and two interior ones: edge tiles
# with a straight neighbor but no diagonal one take the mosaic-corner rule
RAGGED_HOLES = ["t0000_0000", "t0003_0004", "t0001_0001", "t0002_0003"]


@pytest.mark.parametrize("corpus, batch_rows, expected", [
    ("rect_3x4", None,
     "3240e9759c26f0cd73794d06c83408b2dc443f5becb79a50c0ee35cace1054be"),
    ("ragged_4x5", None,
     "62fa578a7b4b5a5c1002809d997cb974dae8e71b718c148abb7005de8a3ff3f7"),
    # 4-row Arrow batches: a tile's 9 parts span batches
    ("ragged_4x5", "4",
     "62fa578a7b4b5a5c1002809d997cb974dae8e71b718c148abb7005de8a3ff3f7"),
])
def test_halo_payloads_pinned(spark, corpus, batch_rows, expected):
    """sha256 of every padded payload (sorted by image_id) equals the
    digest of the per-tile grouped assembly this batched one replaced."""
    if corpus == "rect_3x4":
        tiles = synthetic_tiles(spark, 3, 4)
    else:
        tiles = synthetic_tiles(spark, 4, 5).where(
            ~F.col("image_id").isin(RAGGED_HOLES))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch_rows:
        spark.conf.set(key, batch_rows)
    try:
        rows = with_halo(tiles, HALO).collect()
    finally:
        spark.conf.set(key, old)
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r.image_id):
        h.update(f"{r.image_id},{r.w},{r.h},{r.fmt},{r.pad};".encode())
        h.update(bytes(r.bytes))
    assert h.hexdigest() == expected


def test_halo_detection_equals_mosaic(spark):
    """With halo >= max dominance radius + filter border, apex rows from the
    tiled+halo run must equal a single-node run over the stitched mosaic
    (the buffered-tile guarantee, tree_detection.R:114-115)."""
    p = DEFAULT_PARAMS
    mos = mosaic_chm()
    seg = tree_segmentation(mos.astype(np.float64), res=p["res"],
                            hmin=p["hmin"])
    exp_rows = tree_extraction(seg["filled_dem"], seg["local_maxima"],
                               seg["segments_id"], x0=0.0, y1=G * 32.0,
                               res=p["res"])
    exp = sorted((round(r["x"], 6), round(r["y"], 6), round(r["h"], 4),
                  round(r["dom_radius"], 4)) for r in exp_rows)

    tiles = synthetic_tiles(spark, G, G)
    got_rows = detect_trees(with_halo(tiles, HALO)).collect()
    got = sorted((round(r.x, 6), round(r.y, 6), round(r.h, 4),
                  round(r.dom_radius, 4)) for r in got_rows)
    assert got == exp


def test_halo_dedup_exactly_once(spark):
    tiles = synthetic_tiles(spark, G, G)
    det = detect_trees(with_halo(tiles, HALO))
    pdf = det.toPandas()
    # every apex inside its owner's core
    for r in pdf.itertuples(index=False):
        row = int(r.image_id[1:5]); col = int(r.image_id[6:10])
        x0, y1 = tile_origin(row, col)
        assert x0 <= r.x < x0 + 32.0
        assert y1 - 32.0 <= r.y < y1
    # no duplicate apex coordinates across tiles
    assert not pdf.duplicated(subset=["x", "y"]).any()


def test_detect_gaps_matches_oracle(spark):
    from lidartree_spark.kernels.gaps import gap_detection
    from lidartree_spark.operators.gaps import GAP_PARAMS
    tiles = synthetic_tiles(spark, G, G)
    got = detect_gaps(tiles).toPandas()
    total = 0
    for r in range(G):
        for c in range(G):
            rec = gen_tile_row(r, c)
            chm = decode_tile(rec["bytes"], rec["fmt"], 64, 64)
            g = gap_detection(chm, res=GAP_PARAMS["res"],
                              ratio=GAP_PARAMS["ratio"],
                              gap_max_height=GAP_PARAMS["gap_max_height"],
                              min_gap_surface=GAP_PARAMS["min_gap_surface"],
                              nl_filter=GAP_PARAMS["nl_filter"],
                              nl_size=GAP_PARAMS["nl_size"])
            ids, counts = np.unique(
                g["gap_id"][g["gap_id"] > 0].astype(np.int64),
                return_counts=True)
            sub = got[got.image_id == rec["image_id"]]
            assert sorted(sub.n_pixels) == sorted(counts.tolist())
            total += len(ids)
    assert len(got) == total


def test_coregister_recovers_zero_offset(spark):
    """Virtual CHM built from the TRUE crown centers must correlate best at
    (0, 0) offset."""
    import pandas as pd
    tiles = synthetic_tiles(spark, 1, 1)
    _, _, trees = gen_tile(0, 0)
    tdf = spark.createDataFrame(pd.DataFrame([
        {"image_id": "t0000_0000", "x": t["x"], "y": t["y"], "h": t["h"]}
        for t in trees]))
    out = coregister(tiles, tdf, buffer=3.0, step=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert abs(r.dx1) <= 0.5 and abs(r.dy1) <= 0.5
    # sparse-spike virtual CHM vs smooth crowns: correlation is modest but
    # the peak must stand out over the local median
    assert r.max1 > 0.1
    assert r.rmedloc1 >= 1.0
