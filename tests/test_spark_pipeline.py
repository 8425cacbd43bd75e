"""End-to-end Spark tests: the engine's distributed operators must reproduce
the numpy oracle (same kernels run directly) tile by tile."""

import numpy as np
import pytest

from lidartree_spark.codecs import decode_tile
from lidartree_spark.generator import gen_ref_trees, gen_tile, gen_tile_row, tile_origin
from lidartree_spark.kernels.extraction import tree_extraction
from lidartree_spark.kernels.matching import tree_matching
from lidartree_spark.kernels.segmentation import tree_segmentation
from lidartree_spark.operators.detection import (
    DEFAULT_PARAMS,
    detect_trees,
    prune_tiles_to_roi,
    segment_layers,
)
from lidartree_spark.operators.matching import (
    detection_counts,
    height_regression,
    match_trees,
)
from lidartree_spark.operators.tiles import (
    decode_check,
    synthetic_ref_trees,
    synthetic_tiles,
)

GRID = 3  # 9 tiles


def oracle_trees(row, col):
    """Numpy-oracle detection for one tile — decoding through the tile's
    actual codec, exactly as the engine does (q8 tiles are lossy)."""
    rec = gen_tile_row(row, col)
    chm = decode_tile(rec["bytes"], rec["fmt"], rec["w"], rec["h"])
    p = DEFAULT_PARAMS
    seg = tree_segmentation(chm, res=p["res"], nl_filter=p["nl_filter"],
                            nl_size=p["nl_size"], sigma=p["sigma"],
                            max_width=p["max_width"], hmin=p["hmin"],
                            dmin=p["dmin"], dprop=p["dprop"], prop=p["prop"],
                            min_value=p["min_value"])
    x0, y1 = tile_origin(row, col)
    return tree_extraction(seg["filled_dem"], seg["local_maxima"],
                           seg["segments_id"], x0=x0, y1=y1, res=p["res"])


def test_tiles_decode_invariants(spark):
    tiles = synthetic_tiles(spark, GRID, GRID)
    chk = decode_check(tiles).collect()
    assert len(chk) == GRID * GRID
    assert all(r.pixels_ok for r in chk)
    assert all(r.phash_ok for r in chk)
    assert all(r.caption_ok for r in chk)  # verbatim, not just length


def test_detect_trees_matches_oracle(spark):
    tiles = synthetic_tiles(spark, GRID, GRID)
    got = detect_trees(tiles).collect()
    by_tile = {}
    for r in got:
        by_tile.setdefault(r.image_id, []).append(r)
    total_oracle = 0
    for row in range(GRID):
        for col in range(GRID):
            image_id = f"t{row:04d}_{col:04d}"
            exp = oracle_trees(row, col)
            total_oracle += len(exp)
            gotr = sorted(by_tile.get(image_id, []), key=lambda r: (r.x, r.y))
            expr = sorted(exp, key=lambda r: (r["x"], r["y"]))
            assert len(gotr) == len(expr), image_id
            for g, e in zip(gotr, expr):
                assert g.x == pytest.approx(e["x"])
                assert g.y == pytest.approx(e["y"])
                assert g.h == pytest.approx(e["h"], rel=1e-6)
                assert g.s == pytest.approx(e["s"], rel=1e-6)
                assert g.v == pytest.approx(e["v"], rel=1e-6)
                assert g.dom_radius == pytest.approx(e["dom_radius"])
    assert total_oracle == len(got) > 0


def test_segment_layers_roundtrip(spark):
    tiles = synthetic_tiles(spark, 1, 1)
    layers = {r.layer: r for r in segment_layers(tiles).collect()}
    assert set(layers) == {"local_maxima", "segments_id", "filled_dem",
                           "smoothed_dem"}
    rec = gen_tile_row(0, 0)
    chm = decode_tile(rec["bytes"], rec["fmt"], rec["w"], rec["h"])
    p = DEFAULT_PARAMS
    seg = tree_segmentation(chm, res=p["res"], hmin=p["hmin"])
    got = decode_tile(layers["filled_dem"].bytes, "raw_f32", 64, 64)
    assert np.allclose(got, seg["filled_dem"].astype(np.float32), atol=1e-5)
    got_seg = decode_tile(layers["segments_id"].bytes, "raw_f32", 64, 64)
    # label-permutation-invariant comparison: same partition of pixels
    a, b = got_seg.ravel(), seg["segments_id"].ravel()
    pairs = set(zip(a.tolist(), b.tolist()))
    assert len({p[0] for p in pairs}) == len(pairs) == len({p[1] for p in pairs})


def test_match_trees_matches_oracle(spark):
    tiles = synthetic_tiles(spark, GRID, GRID)
    det = detect_trees(tiles)
    ref = synthetic_ref_trees(spark, GRID, GRID)
    got = match_trees(ref, det).collect()
    by_tile = {}
    for r in got:
        by_tile.setdefault(r.image_id, []).append((r.r, r.d))
    for row in range(GRID):
        for col in range(GRID):
            image_id = f"t{row:04d}_{col:04d}"
            dets = sorted(oracle_trees(row, col), key=lambda r: r["id"])
            refs = gen_ref_trees(row, col)
            if not refs or not dets:
                assert image_id not in by_tile
                continue
            lr = np.array([[t["x"], t["y"], t["h"]] for t in refs])
            ld = np.array([[t["x"], t["y"], t["h"]] for t in dets])
            exp = {(m["r"], m["d"]) for m in tree_matching(lr, ld)}
            assert set(by_tile.get(image_id, [])) == exp, image_id


def test_detection_counts_and_regression(spark):
    tiles = synthetic_tiles(spark, 2, 2)
    det = detect_trees(tiles)
    ref = synthetic_ref_trees(spark, 2, 2)
    matched = match_trees(ref, det)
    cnt = detection_counts(ref, det, matched).collect()
    nm = matched.count()
    assert sum(r.true_detections for r in cnt) == nm
    for r in cnt:
        assert r.true_detections >= 0 and r.false_detections >= 0 and r.omissions >= 0
    reg = height_regression(matched, ref, det).collect()[0]
    assert reg.n == nm
    assert abs(reg.slope - 1.0) < 0.5  # detected ~ reference heights
    assert reg.rmse < 5.0


def test_prune_and_core_crop(spark):
    """ROI pruning; the in-UDF crop-to-core is checked by
    test_halo_dedup_exactly_once and test_halo_detection_equals_mosaic."""
    tiles = synthetic_tiles(spark, GRID, GRID)
    # tile (0,0) covers x,y in [0,32); ROI hits only that tile
    pruned = prune_tiles_to_roi(tiles, (1.0, 1.0, 20.0, 20.0))
    ids = [r.image_id for r in pruned.select("image_id").collect()]
    assert ids == ["t0000_0000"]


def test_detect_and_match_equals_shuffle_path(spark):
    """Fused broadcast-join pipeline == detect_trees + match_trees."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.matching import detect_and_match, match_trees
    from lidartree_spark.operators.tiles import synthetic_ref_trees, synthetic_tiles

    tiles = synthetic_tiles(spark, 3, 3)
    ref = synthetic_ref_trees(spark, 3, 3)
    shuffled = {(r.image_id, r.r, r.d): (r.h_diff, r.plan_diff)
                for r in match_trees(ref, detect_trees(tiles)).collect()}
    fused = {(r.image_id, r.r, r.d): (r.h_diff, r.plan_diff)
             for r in detect_and_match(tiles, ref).collect()}
    assert fused.keys() == shuffled.keys()
    for k in fused:
        assert fused[k][0] == pytest.approx(shuffled[k][0])
        assert fused[k][1] == pytest.approx(shuffled[k][1])


def test_geojson_roi_equals_wkt_roi():
    """parse_wkt_polygon accepts GeoJSON (string / dict / Feature /
    single-feature collection) and yields the identical ring; unsafe
    shapes fail loudly."""
    import json

    import numpy as np
    import pytest as _pt
    from lidartree_spark.kernels.geometry import (
        parse_geojson_polygon,
        parse_wkt_polygon,
    )

    wkt = "POLYGON ((64 10, 118 64, 64 118, 10 64, 64 10))"
    coords = [[64, 10], [118, 64], [64, 118], [10, 64], [64, 10]]
    gj = {"type": "Polygon", "coordinates": [coords]}
    want = parse_wkt_polygon(wkt)
    assert np.array_equal(parse_wkt_polygon(json.dumps(gj)), want)
    assert np.array_equal(parse_geojson_polygon(gj), want)
    feat = {"type": "Feature", "properties": {}, "geometry": gj}
    assert np.array_equal(parse_geojson_polygon(feat), want)
    fc = {"type": "FeatureCollection", "features": [feat]}
    assert np.array_equal(parse_geojson_polygon(json.dumps(fc)), want)
    # unclosed ring gets closed
    open_gj = {"type": "Polygon", "coordinates": [coords[:-1]]}
    assert np.array_equal(parse_geojson_polygon(open_gj), want)
    with _pt.raises(NotImplementedError, match="MultiPolygon"):
        parse_geojson_polygon({"type": "MultiPolygon",
                               "coordinates": [[coords]]})
    with _pt.raises(ValueError, match="2 features"):
        parse_geojson_polygon({"type": "FeatureCollection",
                               "features": [feat, feat]})


def test_tree_detection_catalog_roi(spark):
    """Composed catalog entry point == manual prune+halo+detect then exact
    PIP clip; ROI=None returns the plain halo detection."""
    import numpy as np
    from lidartree_spark.kernels.geometry import (
        parse_wkt_polygon,
        points_in_polygon,
    )
    from lidartree_spark.operators.detection import (
        detect_trees,
        tree_detection_catalog,
    )
    from lidartree_spark.operators.halo import with_halo
    from lidartree_spark.operators.tiles import synthetic_tiles

    tiles = synthetic_tiles(spark, 4, 4)
    # diamond ROI covering the center of the 128 m x 128 m mosaic
    roi = "POLYGON ((64 10, 118 64, 64 118, 10 64, 64 10))"
    got = tree_detection_catalog(tiles, roi).collect()

    ring = parse_wkt_polygon(roi)
    manual = [r for r in detect_trees(with_halo(tiles, 16)).collect()
              if points_in_polygon(np.array([r.x]), np.array([r.y]),
                                   ring)[0]]
    assert {(r.image_id, r.id) for r in got} == \
        {(r.image_id, r.id) for r in manual}
    assert len(got) > 0
    # every reported apex is inside the ROI
    for r in got:
        assert points_in_polygon(np.array([r.x]), np.array([r.y]), ring)[0]

    no_roi = tree_detection_catalog(tiles, None).collect()
    base = detect_trees(with_halo(tiles, 16)).collect()
    assert {(r.image_id, r.id) for r in no_roi} == \
        {(r.image_id, r.id) for r in base}
    assert len(no_roi) > len(got)
