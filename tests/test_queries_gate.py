"""Gate-level tests for driver queries: the SRP-LSH embedding near-dup
(parity with brute force + no-cartesian plan), the multimodal feature
gate (canonicalizable scalar schema, like the driver's hash step) and the
registry's tier partition (the pinned driver-50 set), and the removal of
builders' scratch directories at exit."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd

from lidartree_spark.queries import queries

SF = "/root/testdata/sf0.01"


def _brute_force_pairs():
    """Independent numpy replica of the near-dup corpus + exact threshold."""
    pdf = pd.read_parquet(f"{SF}/embeddings.parquet")
    pdf = pdf[pdf.vec_id < 300].sort_values("vec_id")
    ids = pdf.vec_id.to_numpy()
    v = np.round(np.stack(pdf.embedding.to_numpy()).astype(np.float64)
                 * 10000.0).astype(np.int64)
    # perturbed copy: v'[i] = v[i] + floor(v[(i mod 64)+1] / 10) (1-based)
    pert = v + np.floor(v[:, (np.arange(64) + 1) % 64] / 10.0).astype(np.int64)
    corpus = np.vstack([v, pert]).astype(np.float64)
    cids = np.concatenate([ids, ids + 100000])
    norm = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    sims = norm @ norm.T
    n = len(cids)
    out = set()
    for i in range(n):
        for j in range(n):
            if cids[i] < cids[j] and sims[i, j] >= 0.95:
                out.add((int(cids[i]), int(cids[j])))
    return out


def test_embedding_neardup_lsh_matches_brute_force(spark):
    """The SRP-LSH + rerank gate returns EXACTLY the brute-force >=0.95
    pair set on this corpus (complete recall of the planted pairs)."""
    got = queries()["embedding_neardup"](spark, SF).collect()
    got_pairs = {(r.doc_a, r.doc_b) for r in got}
    assert got_pairs == _brute_force_pairs()
    # planted pairs: one per original (cosine ~0.995)
    assert len(got_pairs) == 300


def test_embedding_neardup_plan_has_no_cartesian(spark):
    df = queries()["embedding_neardup"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


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


# The driver's correctness harness records at most 50 rows; these are they.
# Changing the set (or any of its oracle SQL) is a decision to record in
# CHANGES.md, not a side effect.
DRIVER_50 = {
    "aba_metrics", "aba_model_scores", "ann_dual", "bpe_train",
    "catalog_roi_stats", "cell_index_dual", "cell_join_salted",
    "checkpoint_resume_stats", "coreg_kernel_stats", "coregistration_stats",
    "crown_wkt_rects", "crowns_spike", "dedup_clusters",
    "dem_filtering_surface", "edge_detection_stats", "embedding_neardup",
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
DRIVER_50_SHA256 = ("cee63f4c7c5ecce288a301489936282b"
                    "ea81763b9b5835fe582b8e76106e1d88")


# The 48 extended gates and the 16 rows-only entries, pinned the same way.
EXTENDED_48 = {
    "aba_inference", "aba_predict", "aba_quantiles", "ann_ivf", "ann_lsh",
    "ann_pq", "asof_join", "boxcox_transforms", "bpe_token_count",
    "caption_alignment", "cell_index_hierarchy", "clean_raster",
    "clustered_layout_scan", "coreg_surface", "doc_fingerprint",
    "dsir_select", "embedding_topk", "exact_dedup", "geotiff_spike_detect",
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
EXTENDED_98_SHA256 = ("059499828436797caddae53cb8fa0cb8"
                      "9cca4edbbc47f48e395114d3904d359e")
# {name: SQL} of the 42 queries whose Spark side is a SQL string
SPARK_SQL_42_SHA256 = ("b6b2a201d84d966a6b69f9a47c7e33c7"
                       "d3231c7d4f39eda5e532bcb849d359af")


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
    assert set(driver) == DRIVER_50 and len(DRIVER_50) == 50
    assert _sha256(driver) == DRIVER_50_SHA256
    assert set(every) - set(driver) == EXTENDED_48 and len(EXTENDED_48) == 48
    assert _sha256(every) == EXTENDED_98_SHA256
    assert set(queries()) - set(every) == ROWS_ONLY_16
    assert len(ROWS_ONLY_16) == 16 and len(queries()) == 114
    spark_sql = {name: q.spark for name, q in REGISTRY.items()
                 if isinstance(q.spark, str)}
    assert len(spark_sql) == 42
    assert _sha256(spark_sql) == SPARK_SQL_42_SHA256



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
