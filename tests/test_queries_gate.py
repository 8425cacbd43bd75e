"""Gate-level tests for driver queries: the registry's tier partition (the
pinned driver-35 set), the removal of builders' scratch directories at
exit, and the refusal of names they do not know by tools/check_oracle.py
and tools/isolate_query.py."""

import os
import subprocess
import sys

from lidartree_spark.queries import queries

SF = "/root/testdata/sf0.01"


# The driver's correctness harness records at most 50 rows; these 35 are
# they. Changing the set (or any of its oracle SQL) is a decision to record
# in CHANGES.md, not a side effect.
DRIVER_35 = {
    "aba_metrics", "aba_model_scores", "catalog_roi_stats", "cell_index_dual",
    "cell_join_salted", "checkpoint_resume_stats", "coreg_kernel_stats",
    "coregistration_stats", "crown_wkt_rects", "crowns_spike",
    "dem_filtering_surface", "edge_detection_stats", "gap_ladder_surface",
    "gap_merge_mosaic", "halo_dominance_stats", "label_components_blocks",
    "matching_scores", "maxima_localmax", "north_star_stats", "pip_join",
    "points2dsm", "points2dtm_tin_plane", "points_lifecycle_stats",
    "raster_masks", "raster_metrics_regrid", "scalar_map_ops",
    "std_tree_metrics", "streaming_detect_resume", "terrain_plane_fit",
    "tiles_roundtrip_stats", "tree_extraction_stats", "tree_match_oracle",
    "tree_metrics_spike", "watershed_voronoi", "zonal_adjust_stats",
}
DRIVER_35_SHA256 = ("8e283cd8d172a36e8f834687a4ca6c63"
                    "ba3f4382be8e08e8a1ca35aaa69e589b")


# The 25 extended gates and the 16 rows-only entries, pinned the same way.
EXTENDED_25 = {
    "aba_inference", "aba_predict", "aba_quantiles", "boxcox_transforms",
    "cell_index_hierarchy", "clean_raster", "clustered_layout_scan",
    "coreg_surface", "geotiff_spike_detect", "height_regression",
    "hilbert_index", "hist_detection", "hist_stack", "las_ingest_dsm",
    "las_lifecycle_detect", "laz_lifecycle_detect", "matching_mutual_nn",
    "overview_pyramid", "polar2projected", "raster_chull_mask",
    "raster_local_max", "raster_xy_mask", "species_dim_join", "tile_prune_roi",
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
EXTENDED_60_SHA256 = ("c3df473ee827eeb0021255c00ce55535"
                      "b6c3729945d4fcbc5a268f5f1185ce5d")
# {name: SQL} of the 23 queries whose Spark side is a SQL string
SPARK_SQL_23_SHA256 = ("5d3a2c70eefa323ff29eca53e74929ad"
                       "31379a2dccb63329e8d2cfbd4982a2b0")


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
    assert set(driver) == DRIVER_35 and len(DRIVER_35) == 35
    assert _sha256(driver) == DRIVER_35_SHA256
    assert set(every) - set(driver) == EXTENDED_25 and len(EXTENDED_25) == 25
    assert _sha256(every) == EXTENDED_60_SHA256
    assert set(queries()) - set(every) == ROWS_ONLY_16
    assert len(ROWS_ONLY_16) == 16 and len(queries()) == 76
    spark_sql = {name: q.spark for name, q in REGISTRY.items()
                 if isinstance(q.spark, str)}
    assert len(spark_sql) == 23
    assert _sha256(spark_sql) == SPARK_SQL_23_SHA256



def test_sql_query_registers_only_the_views_it_names(spark):
    """A SQL-string query registers the TABLES views its text names and
    no other: each registration is a parquet read of one table."""
    from lidartree_spark.queries import REGISTRY

    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    REGISTRY["pip_join"].run(spark, SF)
    assert {t.name for t in spark.catalog.listTables()
            if t.isTemporary} == {"nation", "customer"}


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


def test_isolate_query_rejects_unknown_names():
    """tools/isolate_query.py refuses an unknown name the same way: exit 2,
    named on stderr, before any Spark session or warm-up job starts."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "isolate_query.py"),
         "tree_detect_tiles", "no_such_query", "--n", "1", "--sf", SF],
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 2
    assert "no_such_query" in out.stderr
    assert "tree_detect_tiles" not in out.stderr
    assert out.stdout == ""
