"""Gate-level tests for driver queries: the multimodal feature gate
(canonicalizable scalar schema, like the driver's hash step), the
registry's tier partition (the pinned driver-48 set), the removal of
builders' scratch directories at exit, and tools/check_oracle.py's
refusal of names it does not know."""

import os
import subprocess
import sys

from lidartree_spark.queries import queries

SF = "/root/testdata/sf0.01"


def test_multimodal_gate_is_canonicalizable(spark):
    """The driver canonicalizes by sort_values over ALL columns — every
    column must be hashable scalars (the round-1 failure was a raw
    array<float> column)."""
    df = queries()["multimodal_image_features"](spark, SF)
    pdf = df.toPandas()
    assert len(pdf) == 16
    # this raised TypeError: unhashable type 'list' before the fix
    canon = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    assert canon.thumb_len.eq(256).all()
    assert canon.thumb_norm.gt(0).all()
    assert canon["std"].gt(0).all()


# The driver's correctness harness records at most 50 rows; these 48 are
# they. Changing the set (or any of its oracle SQL) is a decision to record
# in CHANGES.md, not a side effect.
DRIVER_48 = {
    "aba_metrics", "aba_model_scores", "bpe_train",
    "catalog_roi_stats", "cell_index_dual", "cell_join_salted",
    "checkpoint_resume_stats", "coreg_kernel_stats", "coregistration_stats",
    "crown_wkt_rects", "crowns_spike", "dedup_clusters",
    "dem_filtering_surface", "edge_detection_stats",
    "gap_ladder_surface", "gap_merge_mosaic", "halo_dominance_stats",
    "label_components_blocks", "matching_scores", "maxima_localmax",
    "multimodal_image_features", "north_star_stats", "phash_neardup",
    "pip_join", "points2dsm", "points2dtm_tin_plane",
    "points_lifecycle_stats", "rabin_fingerprint", "raster_masks",
    "raster_metrics_regrid", "scalar_map_ops", "simhash_neardup",
    "stat_filters", "std_tree_metrics", "streaming_dedup",
    "streaming_detect_resume", "streaming_running_totals",
    "streaming_windowed_events", "terrain_plane_fit", "text_analysis",
    "text_neardup", "tiles_roundtrip_stats", "training_data_pipeline",
    "tree_extraction_stats", "tree_match_oracle", "tree_metrics_spike",
    "watershed_voronoi", "zonal_adjust_stats",
}
DRIVER_48_SHA256 = ("55383314b069dd44aeb829c9ebb8f3ed"
                    "e4973c57006d0c20615d3109eb3291ae")


# The 43 extended gates and the 16 rows-only entries, pinned the same way.
EXTENDED_43 = {
    "aba_inference", "aba_predict", "aba_quantiles",
    "boxcox_transforms", "bpe_token_count",
    "caption_alignment", "cell_index_hierarchy", "clean_raster",
    "clustered_layout_scan", "coreg_surface", "doc_fingerprint",
    "dsir_select", "exact_dedup", "geotiff_spike_detect",
    "height_regression", "hilbert_index", "hist_detection", "hist_stack",
    "image_augment_stats", "image_dedup_clusters", "image_pack",
    "langid_heuristic", "las_ingest_dsm", "las_lifecycle_detect",
    "laz_lifecycle_detect", "lm_perplexity", "matching_mutual_nn",
    "minhash_lsh", "ngram_jaccard", "overview_pyramid", "polar2projected",
    "raster_chull_mask", "raster_local_max", "raster_xy_mask",
    "rollup_counts", "simhash", "species_dim_join", "stratified_sample",
    "text_quality", "tfidf_keywords", "tile_prune_roi", "token_topk",
    "vegetation_indices",
}
ROWS_ONLY_16 = {
    "checkpointed_detect", "clouds_tree_metrics", "coregistration",
    "gap_detection", "gap_detection_global", "gap_detection_reconstruct",
    "laz_chablais_detect", "north_star_chain", "points2dtm_normalize_detect",
    "points_to_tiles_detect", "tiles_decode_invariants", "tree_detect_crowns",
    "tree_detect_halo", "tree_detect_tiles", "tree_detection_catalog_roi",
    "tree_match_greedy",
}
EXTENDED_91_SHA256 = ("83c7bd52957734aadf7897e325eeb890"
                      "3321c487b56c726e5533e727bab15944")
# {name: SQL} of the 41 queries whose Spark side is a SQL string
SPARK_SQL_41_SHA256 = ("330f55925391b2ec6035244dfaa7504a"
                       "fc845fe7d40b2df208f538d18b866ac3")


def _sha256(d):
    import hashlib
    import json
    return hashlib.sha256(json.dumps(d, sort_keys=True).encode()).hexdigest()


def test_registry_tiers_partition_queries():
    """The three tiers, derived from the declarations, partition queries()
    into the pinned name sets, and every oracle and Spark SQL text is
    pinned by digest."""
    from lidartree_spark.queries import (
        REGISTRY,
        oracle_sql,
        oracle_sql_extended,
    )

    driver, every = oracle_sql(), oracle_sql_extended()
    assert set(driver) == DRIVER_48 and len(DRIVER_48) == 48
    assert _sha256(driver) == DRIVER_48_SHA256
    assert set(every) - set(driver) == EXTENDED_43 and len(EXTENDED_43) == 43
    assert _sha256(every) == EXTENDED_91_SHA256
    assert set(queries()) - set(every) == ROWS_ONLY_16
    assert len(ROWS_ONLY_16) == 16 and len(queries()) == 107
    spark_sql = {name: q.spark for name, q in REGISTRY.items()
                 if isinstance(q.spark, str)}
    assert len(spark_sql) == 41
    assert _sha256(spark_sql) == SPARK_SQL_41_SHA256



_SCRATCH_RUN = """
import os, sys, tempfile
sys.path.insert(0, {repo!r})
from lidartree_spark.queries import REGISTRY
from lidartree_spark.session import get_spark
spark = get_spark("scratch", master="local[1]", shuffle_partitions=2)
REGISTRY["checkpoint_resume_stats"].run(spark, "unused").collect()
print(sorted(os.listdir(tempfile.gettempdir())))
spark.stop()
"""


def test_builder_scratch_dirs_removed_at_exit(tmp_path):
    """A builder's files outlive its call (the DataFrame it returns reads
    them) but not the process: with TMPDIR at tmp_path, the process leaves
    no lidartree_* entry behind."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_RUN.format(repo=repo)],
        env={**os.environ, "TMPDIR": str(tmp_path)}, capture_output=True,
        text=True, timeout=600, check=True).stdout
    assert "lidartree_" in out  # the builder did write under TMPDIR
    assert not [e for e in os.listdir(tmp_path)
                if e.startswith("lidartree_")]


def test_check_oracle_rejects_unknown_names():
    """An unknown name is an error (exit 2, named on stderr), not a sweep
    that checks nothing and reports 0 failures; no Spark session starts."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check_oracle.py"),
         SF, "tree_detect_tiles", "no_such_query"],
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 2
    assert "no_such_query" in out.stderr
    assert "tree_detect_tiles" not in out.stderr
    assert "ok " not in out.stdout
