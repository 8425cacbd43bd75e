"""The composed north-star chain must be a lossless composition: the cell
index, salted join, and (cell, image) aggregation layered on top of the
detection pipeline may neither duplicate nor drop a detection, and the
confusion counts carried through must equal the standalone matcher's.
"""

from __future__ import annotations

def test_chain_is_lossless_and_matches_standalone(spark):
    from lidartree_spark.operators.detection import tree_detection_catalog
    from lidartree_spark.operators.matching import (
        detection_counts,
        match_trees,
    )
    from lidartree_spark.operators.tiles import (
        synthetic_ref_trees,
        synthetic_tiles,
    )
    from lidartree_spark.queries import queries

    chain = queries()["north_star_chain"]
    out = chain(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    assert out.n_trees.min() >= 1
    assert out.zone.str.startswith("zone_").all()
    # zone is a pure function of cell: the salted join must not mix keys
    assert (out.zone == "zone_" + (out.cell % 7).astype(str)).all()

    roi = "POLYGON ((8 8, 248 8, 248 248, 8 248, 8 8))"
    det = tree_detection_catalog(synthetic_tiles(spark, 4, 4), roi)
    assert int(out.n_trees.sum()) == det.count()  # lossless through 5-7

    ref = synthetic_ref_trees(spark, 4, 4)
    counts = detection_counts(ref, det, match_trees(ref, det)).toPandas()
    got = (out.drop_duplicates("image_id")
           .set_index("image_id")[["true_detections", "false_detections",
                                   "omissions"]])
    want = counts.set_index("image_id").loc[got.index][got.columns]
    assert (got == want).all().all()

    # deterministic across runs (seeded synthesis + deterministic kernels)
    again = chain(spark, "/root/testdata/sf0.001").toPandas()
    a = out.sort_values(["cell", "image_id"]).reset_index(drop=True)
    b = again.sort_values(["cell", "image_id"]).reset_index(drop=True)
    assert a.equals(b)
