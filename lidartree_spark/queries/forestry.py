"""The tile chain's gates: CHM decode -> dem_filtering -> maxima ->
watershed -> extraction -> matching, end to end (north_star_*,
tree_detect_*, tree_match_*, matching_scores) and kernel by kernel
(maxima, watershed, dem_filtering, label_components, zonal, extraction,
crown WKT), plus the spike-corpus composites, catalog ROI, checkpoint
resume, tiles and the grid-bucketed vector joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.queries import Query, load_views
from lidartree_spark.queries.shared import (
    _MORTON_TERMS,
    _lat_seq,
    _spike_tiles,
)


# §2.7 std_tree_metrics (metrics.R:200-214): gini via the sort-rank formula
# sum((2i - n - 1) h_i) / (n sum h) — window row_number, integer-exact.
_STD_TREE_METRICS = """
WITH ranked AS (
  SELECT l_suppkey AS plot_id, l_quantity AS h,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS i,
         COUNT(*) OVER (PARTITION BY l_suppkey) AS n
  FROM lineitem
)
SELECT plot_id,
       ROUND(AVG(h), 6) AS tree_meanh,
       ROUND(STDDEV_SAMP(h), 6) AS tree_sdh,
       ROUND(SUM((2.0 * i - n - 1) * h) / (MAX(n) * SUM(h)), 6) AS tree_ginih,
       CAST(SUM(CASE WHEN h <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS treeinf10,
       CAST(SUM(CASE WHEN h > 20 THEN 1 ELSE 0 END) AS BIGINT) AS treesup20,
       CAST(SUM(CASE WHEN h > 30 THEN 1 ELSE 0 END) AS BIGINT) AS treesup30
FROM ranked
GROUP BY plot_id
"""

# §2.6 matching via mutual nearest neighbors (SQL-expressible surrogate for
# the greedy loop; the exact greedy semantics live in q_match_trees_greedy,
# checked rows-only + pytest). ref = customer-derived, det = supplier-derived
# synthetic positions; rmax = 20.
# Mutual-NN matching surrogate, GRID-BUCKETED (north rule "grid-bucketed
# kNN"): candidate pairs within Euclidean 20 come from an EQUI-join on a
# 20-unit cell key — the ref side expands to its 3x3 neighbor cells
# (lateral sequence, no join operator), the det side carries one cell —
# instead of a range-predicate nested loop. Complete by construction:
# |dx|,|dy| <= 20 implies cell deltas in {-1,0,1}.
def _mutual_nn_sql(d: str) -> str:
    cxs = _lat_seq(d, "cx0 - 1", "cx0 + 1", "cxs", "cx")
    cys = _lat_seq(d, "cy0 - 1", "cy0 + 1", "cys", "cy")
    return f"""
WITH ref0 AS (
  SELECT c_custkey AS rid, (c_custkey % 97) * 1.0 AS x,
         (c_custkey % 89) * 1.0 AS y, c_acctbal / 100.0 AS h,
         CAST(FLOOR((c_custkey % 97) / 20.0) AS BIGINT) AS cx0,
         CAST(FLOOR((c_custkey % 89) / 20.0) AS BIGINT) AS cy0
  FROM customer WHERE c_custkey <= 400
), ref AS (
  SELECT rid, x, y, h, cx, cy FROM ref0{cxs}{cys}
), det AS (
  SELECT s_suppkey AS did, (s_suppkey % 97) * 1.0 AS x,
         (s_suppkey % 89) * 1.0 AS y, s_acctbal / 100.0 AS h,
         CAST(FLOOR((s_suppkey % 97) / 20.0) AS BIGINT) AS cx,
         CAST(FLOOR((s_suppkey % 89) / 20.0) AS BIGINT) AS cy
  FROM supplier
), pairs AS (
  SELECT r.rid, d.did,
         (r.x - d.x) * (r.x - d.x) + (r.y - d.y) * (r.y - d.y) AS d2
  FROM ref r JOIN det d ON r.cx = d.cx AND r.cy = d.cy
  WHERE (r.x - d.x) * (r.x - d.x) + (r.y - d.y) * (r.y - d.y) <= 400
), best_r AS (
  SELECT rid, did, d2,
         ROW_NUMBER() OVER (PARTITION BY rid ORDER BY d2, did) AS rk
  FROM pairs
), best_d AS (
  SELECT rid, did,
         ROW_NUMBER() OVER (PARTITION BY did ORDER BY d2, rid) AS rk
  FROM pairs
)
SELECT r.rid, r.did, ROUND(SQRT(r.d2), 6) AS plan_diff
FROM best_r r JOIN best_d d ON r.rid = d.rid AND r.did = d.did
WHERE r.rk = 1 AND d.rk = 1
"""

# §2.5 hist_detection confusion counts from the mutual-NN matching
# (tree_match.R:201-232): anti-join counts.
def _hist_detection_sql(d: str) -> str:
    return f"""
WITH matched AS ({_mutual_nn_sql(d)})
SELECT CAST((SELECT COUNT(*) FROM matched) AS BIGINT) AS true_detections,
       CAST((SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
             (SELECT 1 FROM matched m WHERE m.did = s.s_suppkey)) AS BIGINT)
           AS false_detections,
       CAST((SELECT COUNT(*) FROM customer c WHERE c.c_custkey <= 400
             AND NOT EXISTS
             (SELECT 1 FROM matched m WHERE m.rid = c.c_custkey)) AS BIGINT)
           AS omissions
"""


# §2.6 height_regression — closed-form lm(Hm ~ Hl) + error stats
# (tree_match.R:303-353) over mutual-NN matched pairs.
def _height_regression_sql(d: str) -> str:
    return f"""
WITH matched AS ({_mutual_nn_sql(d)}),
hs AS (
  SELECT c.c_acctbal / 100.0 AS hm, s.s_acctbal / 100.0 AS hl
  FROM matched m
  JOIN customer c ON c.c_custkey = m.rid
  JOIN supplier s ON s.s_suppkey = m.did
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((AVG(hl * hm) - AVG(hl) * AVG(hm))
             / (AVG(hl * hl) - AVG(hl) * AVG(hl)), 6) AS slope,
       ROUND(AVG(hm) - (AVG(hl * hm) - AVG(hl) * AVG(hm))
             / (AVG(hl * hl) - AVG(hl) * AVG(hl)) * AVG(hl), 6) AS intercept,
       ROUND(SQRT(AVG((hl - hm) * (hl - hm))), 6) AS rmse,
       ROUND(AVG(hl - hm), 6) AS bias
FROM hs
"""

# hist_detection + height_regression are single-row gates over the SAME
# mutual-NN matching CTE — one section-tagged driver row pins both, and
# its 'stack' section folds in hist_stack's full fact set (every
# (bucket, category) count) as long-format rows. The standalone twins are
# extended gates.
def _matching_scores_sql(d: str) -> str:
    s = "STRING" if d == "spark" else "VARCHAR"
    return f"""
WITH h AS ({_hist_detection_sql(d)}),
r AS ({_height_regression_sql(d)}),
hs AS ({_HIST_STACK})
SELECT 'hist' AS section, 'true_detections' AS k,
       CAST(true_detections AS DOUBLE) AS val FROM h
UNION ALL SELECT 'hist', 'false_detections',
       CAST(false_detections AS DOUBLE) FROM h
UNION ALL SELECT 'hist', 'omissions', CAST(omissions AS DOUBLE) FROM h
UNION ALL SELECT 'reg', 'n', CAST(n AS DOUBLE) FROM r
UNION ALL SELECT 'reg', 'slope', slope FROM r
UNION ALL SELECT 'reg', 'intercept', intercept FROM r
UNION ALL SELECT 'reg', 'rmse', rmse FROM r
UNION ALL SELECT 'reg', 'bias', bias FROM r
UNION ALL SELECT 'stack',
       CONCAT(category, '_', CAST(h_bucket AS {s})),
       CAST(n AS DOUBLE) FROM hs
"""


# §2.6 point-in-polygon join — rectangles derived from nation; points from
# customer; half-open [min, max) inclusion. GRID-BUCKETED: polygons expand
# to the 32-unit cells their bbox covers (lateral sequence), points carry
# one cell, candidates come from a hash equi-join on (cx, cy) and the exact
# containment predicate reranks — the "broadcast-or-partitioned
# point-in-polygon hash join" shape of the north rule, which survives a
# polygon side too big to broadcast.
def _pip_join_sql(d: str) -> str:
    cxs = _lat_seq(d, "CAST(FLOOR(xmin / 32.0) AS BIGINT)",
                   "CAST(FLOOR(xmax / 32.0) AS BIGINT)", "cxs", "cx")
    cys = _lat_seq(d, "CAST(FLOOR(ymin / 32.0) AS BIGINT)",
                   "CAST(FLOOR(ymax / 32.0) AS BIGINT)", "cys", "cy")
    return f"""
WITH poly AS (
  SELECT n_nationkey AS poly_id,
         n_nationkey * 7.0 AS xmin, n_nationkey * 5.0 AS ymin,
         n_nationkey * 7.0 + 40 AS xmax, n_nationkey * 5.0 + 35 AS ymax
  FROM nation
), poly_cells AS (
  SELECT poly_id, xmin, ymin, xmax, ymax, cx, cy FROM poly{cxs}{cys}
), pts AS (
  SELECT c_custkey, (c_custkey % 211) * 1.0 AS x,
         (c_custkey % 173) * 1.0 AS y,
         CAST(FLOOR((c_custkey % 211) / 32.0) AS BIGINT) AS cx,
         CAST(FLOOR((c_custkey % 173) / 32.0) AS BIGINT) AS cy
  FROM customer
)
SELECT p.poly_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
       CAST(MIN(c_custkey) AS BIGINT) AS first_pt
FROM poly_cells p JOIN pts
  ON pts.cx = p.cx AND pts.cy = p.cy
WHERE pts.x >= p.xmin AND pts.x < p.xmax
  AND pts.y >= p.ymin AND pts.y < p.ymax
GROUP BY p.poly_id
"""

# §2.2 tile x ROI pruning — bbox intersection semi-join
# (tree_detection.R:103-111). GRID-BUCKETED: both bbox sides expand to
# their covered 512-unit cells, overlap candidates come from a cell
# equi-join (overlapping boxes always share a covered cell), the exact
# bbox predicate reranks, DISTINCT restores semi-join semantics.
def _tile_prune_sql(d: str) -> str:
    def cells(pfx: str) -> str:
        return (_lat_seq(d, "CAST(FLOOR(xmin / 512.0) AS BIGINT)",
                         "CAST(FLOOR(xmax / 512.0) AS BIGINT)",
                         f"{pfx}cxs", "cx")
                + _lat_seq(d, "CAST(FLOOR(ymin / 512.0) AS BIGINT)",
                           "CAST(FLOOR(ymax / 512.0) AS BIGINT)",
                           f"{pfx}cys", "cy"))
    return f"""
WITH tiles AS (
  SELECT o_orderkey AS tile_id,
         (o_orderkey % 100) * 32.0 AS xmin, (o_orderkey % 50) * 32.0 AS ymin,
         (o_orderkey % 100) * 32.0 + 32 AS xmax,
         (o_orderkey % 50) * 32.0 + 32 AS ymax
  FROM orders WHERE o_orderkey <= 2000
), roi AS (
  SELECT r_regionkey AS roi_id, r_regionkey * 600.0 AS xmin,
         r_regionkey * 300.0 AS ymin, r_regionkey * 600.0 + 700 AS xmax,
         r_regionkey * 300.0 + 500 AS ymax
  FROM region
), tile_cells AS (
  SELECT tile_id, xmin, ymin, xmax, ymax, cx, cy FROM tiles{cells('t')}
), roi_cells AS (
  SELECT xmin AS rxmin, ymin AS rymin, xmax AS rxmax, ymax AS rymax, cx, cy
  FROM roi{cells('r')}
)
SELECT DISTINCT t.tile_id
FROM tile_cells t JOIN roi_cells r ON t.cx = r.cx AND t.cy = r.cy
WHERE t.xmin < r.rxmax AND t.xmax > r.rxmin
  AND t.ymin < r.rymax AND t.ymax > r.rymin
"""

# §2.6 species lookup — broadcast dimension-table join (common.R:192-274:
# 66-row species dim). Inline VALUES dim; Spark broadcasts it automatically.
_SPECIES_JOIN_SPARK = """
SELECT d.name AS segment_name, d.kind,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_bal
FROM customer
JOIN (VALUES ('AUTOMOBILE','vehicles'), ('BUILDING','construction'),
             ('FURNITURE','interior'), ('MACHINERY','industry'),
             ('HOUSEHOLD','interior')) AS d(name, kind)
  ON c_mktsegment = d.name
GROUP BY d.name, d.kind
"""
_SPECIES_JOIN_DUCK = """
SELECT d.name AS segment_name, d.kind,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_bal
FROM customer
JOIN (VALUES ('AUTOMOBILE','vehicles'), ('BUILDING','construction'),
             ('FURNITURE','interior'), ('MACHINERY','industry'),
             ('HOUSEHOLD','interior')) d(name, kind)
  ON c_mktsegment = d.name
GROUP BY d.name, d.kind
"""

# §2.7 hist_stack — stacked histogram counts per category
# (tree_match.R:245-265): integer bucket + category counts.
_HIST_STACK = """
SELECT CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS h_bucket,
       l_returnflag AS category,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY 1, 2
"""


# Skew-salted cell join (north rule: salted shuffles on (cell_id, tile_id)):
# heavy side = lineitem with a deliberately HOT cell (half the rows land in
# cell 0), light side = a per-cell dim. The Spark plan runs
# grid.salted_join (salt from l_orderkey spreads cell 0 over 16 reducers);
# the oracle is the plain join — identical results prove the physical
# rewrite is semantics-preserving. Integer-exact aggregates.
_SALTED_JOIN_ORACLE = """
WITH heavy AS (
  SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
              ELSE l_suppkey % 50 END AS cell,
         l_orderkey, l_quantity
  FROM lineitem
), dim AS (
  SELECT s_suppkey % 50 AS cell, MAX(s_nationkey) AS factor
  FROM supplier GROUP BY s_suppkey % 50
)
SELECT h.cell, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(h.l_quantity * d.factor) AS DOUBLE) AS weighted
FROM heavy h JOIN dim d ON h.cell = d.cell
GROUP BY h.cell
"""


def _salted_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from lidartree_spark.operators.grid import salted_join
    load_views(spark, sf_dir)
    heavy = spark.sql(
        "SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0 "
        "ELSE l_suppkey % 50 END AS cell, l_orderkey, l_quantity "
        "FROM lineitem")
    dim = spark.sql(
        "SELECT s_suppkey % 50 AS cell, MAX(s_nationkey) AS factor "
        "FROM supplier GROUP BY s_suppkey % 50")
    joined = salted_join(heavy, dim, ["cell"], salt_buckets=16,
                         salt_src="l_orderkey", shuffle=True)
    return joined.groupBy("cell").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("l_quantity") * F.col("factor"))
        .cast("double").alias("weighted"))


# ---------------------------------------------------------------------------
# Non-SQL tile-pipeline operators (rows-only driver check; full validation in
# tests/ against the numpy oracle).

def _north_star_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-star chain as ONE Spark plan over the input_hint
    table (image_id, bytes, w, h, fmt, caption, phash):

    1. ROI tile prune — Catalyst range predicates (partition pruning);
    2. buffered decomposition — halo strip exchange;
    3. decode + detect — one mapInPandas pass (tree_segmentation +
       tree_extraction + in-UDF crop-to-core dedup);
    4. exact polygon clip — broadcast ring + vectorized ray casting;
    5. hierarchical Morton cell assignment — whole-stage-codegen bit ops
       (the H3/S2-style batched cell encoding of the north rule);
    6. grid-bucketed greedy matching vs the reference inventory — one
       keyed shuffle, batched grouped map;
    7. skew-salted join of per-cell detections against the zone dim, then
       aggregation keyed (cell_id, image_id) — the north rule's salted
       shuffle shape.

    Every stage is the same operator the standalone gated queries pin;
    tests/test_north_star_chain.py asserts the chain neither duplicates
    nor drops a detection across stages 5-7 (sum(n_trees) == clipped
    detection count) and that the matching layer agrees with the
    standalone matcher."""
    from lidartree_spark.operators.detection import tree_detection_catalog
    from lidartree_spark.operators.grid import (
        morton_cell,
        morton_parent,
        salted_join,
    )
    from lidartree_spark.operators.matching import (
        detection_counts,
        match_trees,
    )
    from lidartree_spark.operators.tiles import (
        synthetic_ref_trees,
        synthetic_tiles,
    )

    roi = "POLYGON ((8 8, 248 8, 248 248, 8 248, 8 8))"
    tiles = synthetic_tiles(spark, 4, 4)
    # det feeds three consumers (cell agg, matcher, confusion counts) and
    # is deliberately NOT persisted: measured A/B-interleaved at this
    # corpus, recompute wins (2.5-3.0 s vs 3.7-5.1 s persisted) because the
    # three branch recomputations overlap on idle cores while caching
    # serializes stage scheduling and pays materialization. The crossover
    # is executor saturation: at corpus scale you materialize the detection
    # output once — that is exactly plans/checkpoint.Pipeline's job (and
    # the checkpointed_detect gate exercises it).
    det = tree_detection_catalog(tiles, roi)
    ref = synthetic_ref_trees(spark, 4, 4)
    matched = match_trees(ref, det)
    counts = detection_counts(ref, det, matched)

    cells = det.select(
        "image_id", "h",
        morton_parent(morton_cell(F.col("x"), F.col("y"), 1.0), 5)
        .alias("cell"))
    zones = spark.range(7).select(
        F.col("id").alias("zone_id"),
        F.concat(F.lit("zone_"), F.col("id")).alias("zone"))
    heavy = cells.withColumn("zone_id", F.pmod(F.col("cell"), F.lit(7)))
    joined = salted_join(heavy, zones, on=["zone_id"], salt_src="cell")
    agg = (joined.groupBy("cell", "image_id")
           .agg(F.count("*").cast("long").alias("n_trees"),
                F.round(F.avg("h"), 6).alias("mean_h"),
                F.first("zone").alias("zone")))
    return (agg.join(F.broadcast(counts), "image_id", "left")
            .select("cell", "image_id", "zone", "n_trees", "mean_h",
                    "true_detections", "false_detections", "omissions"))


def _north_star_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE north-star chain — halo exchange, the real
    decode->dem_filtering->maxima->watershed->seg_adjust->tree_extraction
    kernels, crop-to-core dedup, exact ROI clip, Morton cell assignment,
    grid-bucketed greedy matching, skew-salted zone join, (cell, image)
    aggregation — as ONE plan with a full DuckDB oracle.

    Construction that makes the chain analytically invertible (planted
    single-pixel spikes on flat ground, 32 px apart, integer heights
    10..25):
    - grey closing (disk 5) is IDENTITY on isolated spikes (dilation
      spreads a spike to a radius-2 plateau; erosion shrinks it back), so
      filled_dem == the planted field and extracted h == the exact
      planted integer (tree_detection.R:294-389 semantics);
    - Gaussian smoothing turns each spike into a 5x5 bump whose center is
      the strict window max at every tested radius (spacing 32 px >
      max_radius 11 px), so dom_radius == (11+1)*0.5 == 6.0 for every
      tree (tree_detection.R:425-499);
    - flat-ground maxima become watershed seeds but their segments have
      chm max 0 < min_maxvalue, so seg_adjust drops them, and spike
      segments are trimmed to exactly the spike pixel (chm < max(prop*h,
      min_value) elsewhere) -> s == res^2, v == h*res^2, independent of
      watershed tie-breaking on the flat region (tree_detection.R:930-942);
    - spikes sit 4.25/20.25 m into each 32 m tile, so halo'd detection +
      crop-to-core yields each exactly once, and the ROI rectangle
      (5..100)^2 clips columns C in {0,6,7} and rows R in {6,7} with
      >=0.25 m boundary margin;
    - refs are the spikes shifted (+0.3, -0.4, +0.5 m) -> every in-ROI
      detection matches its own ref (cost ~0.02 << 1) and nothing else
      (nearest foreign spike 16 m -> cost capped at 1), so the confusion
      counts are closed-form (tree_match.R:47-103, :201-232).
    DuckDB re-derives the surviving apex set, the Morton interleave (the
    50-term per-bit sum), the zone key, and every aggregate."""
    import pandas as pd

    from lidartree_spark.operators.detection import tree_detection_catalog
    from lidartree_spark.operators.grid import morton_cell, morton_parent
    from lidartree_spark.operators.matching import (
        detection_counts,
        match_trees,
    )

    tiles = _spike_tiles(spark)
    roi = "POLYGON ((5 5, 100 5, 100 100, 5 100, 5 5))"
    det = tree_detection_catalog(tiles, roi, halo_px=16)

    refs = spark.range(64).selectExpr(
        "id AS tree_id",
        "CAST(id DIV 8 AS INT) AS R",
        "CAST(id % 8 AS INT) AS C",
    ).selectExpr(
        "printf('t%04d_%04d', R DIV 2, C DIV 2) AS image_id",
        "tree_id",
        "32 * (C DIV 2) + 4.25 + 16 * (C % 2) + 0.3 AS x",
        "32 * (R DIV 2) + 27.75 - 16 * (R % 2) - 0.4 AS y",
        "CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) + 0.5 AS h",
    )
    matched = match_trees(refs, det)
    counts = detection_counts(refs, det, matched)

    cells = det.select(
        "image_id", "h", "v",
        morton_parent(morton_cell(F.col("x"), F.col("y"), 1.0), 5)
        .alias("cell"))
    zones = spark.range(7).select(
        F.col("id").alias("zone_id"),
        F.concat(F.lit("zone_"), F.col("id")).alias("zone"))
    from lidartree_spark.operators.grid import salted_join
    heavy = cells.withColumn("zone_id", F.pmod(F.col("cell"), F.lit(7)))
    joined = salted_join(heavy, zones, on=["zone_id"], salt_src="cell")
    agg = (joined.groupBy("cell", "image_id")
           .agg(F.count("*").cast("long").alias("n_trees"),
                F.round(F.avg("h"), 6).alias("mean_h"),
                F.round(F.sum("v"), 6).alias("sum_v"),
                F.first("zone").alias("zone")))
    return (agg.join(F.broadcast(counts), "image_id")
            .select("cell", "image_id", "zone", "n_trees", "mean_h", "sum_v",
                    F.col("true_detections").cast("long")
                    .alias("true_detections"),
                    F.col("false_detections").cast("long")
                    .alias("false_detections"),
                    F.col("omissions").cast("long").alias("omissions")))


_NORTH_STAR_DUCK = """
WITH sp AS (
  SELECT R, C,
         32 * (R // 2) AS trow_off,
         CAST(32 * (C // 2) + 4.25 + 16 * (C % 2) AS DOUBLE) AS x,
         CAST(32 * (R // 2) + 27.75 - 16 * (R % 2) AS DOUBLE) AS y,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h,
         printf('t%04d_%04d', R // 2, C // 2) AS image_id
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
), dets AS (
  SELECT * FROM sp
  WHERE x > 5 AND x < 100 AND y > 5 AND y < 100
), counts AS (
  SELECT image_id, CAST(COUNT(*) AS BIGINT) AS tp FROM dets GROUP BY image_id
), enc AS (
  SELECT image_id, h,
         CAST(FLOOR(x) AS BIGINT) + 16777216 AS cx,
         CAST(FLOOR(y) AS BIGINT) + 16777216 AS cy
  FROM dets
), cells AS (
  SELECT image_id, h, (%%MORTON_TERMS%%) >> 10 AS cell FROM enc
), agg AS (
  SELECT cell, image_id,
         'zone_' || CAST(cell % 7 AS VARCHAR) AS zone,
         CAST(COUNT(*) AS BIGINT) AS n_trees,
         ROUND(AVG(h), 6) AS mean_h,
         ROUND(SUM(h * 0.25), 6) AS sum_v
  FROM cells GROUP BY cell, image_id
)
SELECT a.cell, a.image_id, a.zone, a.n_trees, a.mean_h, a.sum_v,
       c.tp AS true_detections,
       CAST(0 AS BIGINT) AS false_detections,
       CAST(4 - c.tp AS BIGINT) AS omissions
FROM agg a JOIN counts c ON c.image_id = a.image_id
""".replace("%%MORTON_TERMS%%", _MORTON_TERMS)


def _flagship_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tiles -> detected trees, grid size seeded from the testdata scale."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.tiles import synthetic_tiles
    n = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    side = max(2, min(8, int(n ** 0.5 // 16)))
    tiles = synthetic_tiles(spark, side, side)
    return detect_trees(tiles)


# Greedy tree matching (tree_match.R:47-103) with a REAL DuckDB oracle:
# point sets are derived from `events` by identical integer/double
# arithmetic in both engines (planted near-duplicates + spurious extras);
# Spark runs the actual kernel (kernels/matching.tree_matching — iterative
# global argmin with the reference's exact cost and tie-break), DuckDB
# re-derives the same pairing with a recursive CTE whose LATERAL step picks
# the global minimum-cost unmatched pair each round. The constants below
# are inlined into BOTH sides so the cost doubles are bit-identical.
_TM_C0 = 2.1 ** 2            # delta_ground^2
_TM_C1 = 2.0 * 0.14 * 2.1    # 2 * h_prec * delta_ground
_TM_C2 = 0.14 ** 2           # h_prec^2

_TM_REFS_SQL = """
  SELECT event_id AS rid,
         CAST(event_id % 97 AS DOUBLE) + value / 1000 AS x,
         CAST(CAST(FLOOR(event_id / 97.0) AS BIGINT) % 89 AS DOUBLE)
             + value / 997 AS y,
         10.0 + CAST(event_id % 25 AS DOUBLE) + value / 100 AS h
  FROM events WHERE event_id % 211 = 0
"""

_TM_DETS_SQL = f"""
  SELECT rid + 1000000 AS did, x + 0.3 AS x, y - 0.4 AS y, h + 0.5 AS h
  FROM ({_TM_REFS_SQL}) planted
  UNION ALL
  SELECT event_id AS did,
         CAST(event_id % 97 AS DOUBLE) + value / 1000 AS x,
         CAST(CAST(FLOOR(event_id / 97.0) AS BIGINT) % 89 AS DOUBLE)
             + value / 997 AS y,
         10.0 + CAST(event_id % 25 AS DOUBLE) + value / 100 AS h
  FROM events WHERE event_id % 211 = 7
"""

_TM_ORACLE_DUCK = f"""
WITH RECURSIVE refs AS (
  SELECT ROW_NUMBER() OVER (ORDER BY rid) AS r, * FROM ({_TM_REFS_SQL})
), dets AS (
  SELECT ROW_NUMBER() OVER (ORDER BY did) AS d, * FROM ({_TM_DETS_SQL})
), pairs AS (
  SELECT refs.r, dets.d, refs.rid, dets.did,
         LEAST(((dets.x - refs.x) * (dets.x - refs.x)
                + (dets.y - refs.y) * (dets.y - refs.y)
                + (dets.h - refs.h) * (dets.h - refs.h))
               / ({_TM_C0!r} + {_TM_C1!r} * refs.h
                  + {_TM_C2!r} * (refs.h * refs.h)), 1.0) AS cost,
         dets.h - refs.h AS h_diff,
         SQRT((dets.x - refs.x) * (dets.x - refs.x)
              + (dets.y - refs.y) * (dets.y - refs.y)) AS plan_diff
  FROM refs, dets
), greedy AS (
  SELECT 0 AS step, CAST([] AS BIGINT[]) AS mr, CAST([] AS BIGINT[]) AS md
  UNION ALL
  SELECT g.step + 1, list_append(g.mr, best.r), list_append(g.md, best.d)
  FROM greedy g, LATERAL (
    SELECT r, d FROM pairs
    WHERE cost < 1.0 AND NOT list_contains(g.mr, r)
      AND NOT list_contains(g.md, d)
    ORDER BY cost, r, d LIMIT 1
  ) best
), picked AS (
  SELECT mr[step] AS r, md[step] AS d FROM greedy WHERE step > 0
)
SELECT p.rid, p.did, ROUND(p.h_diff, 6) AS h_diff,
       ROUND(p.plan_diff, 6) AS plan_diff
FROM picked pk JOIN pairs p ON p.r = pk.r AND p.d = pk.d
"""


def _tree_match_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real greedy-matching kernel on SQL-derivable point sets; oracle =
    recursive-CTE greedy replica (_TM_ORACLE_DUCK). The pipeline-integrated
    per-tile matcher stays gated as tree_match_greedy."""
    import math

    import pandas as pd

    load_views(spark, sf_dir)
    refs = spark.sql(f"SELECT 1 AS g, * FROM ({_TM_REFS_SQL}) t")
    dets = spark.sql(f"SELECT 1 AS g, * FROM ({_TM_DETS_SQL}) t")

    def match(rpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        from lidartree_spark.kernels.matching import tree_matching
        r = rpdf.sort_values("rid").reset_index(drop=True)
        d = dpdf.sort_values("did").reset_index(drop=True)
        pairs = tree_matching(r[["x", "y", "h"]].to_numpy(),
                              d[["x", "y", "h"]].to_numpy(), stat=False)
        out = []
        for m in pairs:
            ri, di = m["r"] - 1, m["d"] - 1
            dx = float(d.x[di] - r.x[ri])
            dy = float(d.y[di] - r.y[ri])
            out.append({"rid": int(r.rid[ri]), "did": int(d.did[di]),
                        "h_diff": float(d.h[di] - r.h[ri]),
                        "plan_diff": math.sqrt(dx * dx + dy * dy)})
        return pd.DataFrame(out, columns=["rid", "did", "h_diff",
                                          "plan_diff"])

    res = refs.groupBy("g").cogroup(dets.groupBy("g")).applyInPandas(
        match, schema="rid long, did long, h_diff double, plan_diff double")
    return res.select("rid", "did",
                      F.round("h_diff", 6).alias("h_diff"),
                      F.round("plan_diff", 6).alias("plan_diff"))


def _match_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile greedy matching of detections vs ground-truth inventory."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.matching import match_trees
    from lidartree_spark.operators.tiles import (
        synthetic_ref_trees,
        synthetic_tiles,
    )
    tiles = synthetic_tiles(spark, 4, 4)
    det = detect_trees(tiles)
    ref = synthetic_ref_trees(spark, 4, 4)
    return match_trees(ref, det)


def _decode_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lidartree_spark.operators.tiles import decode_check, synthetic_tiles
    tiles = synthetic_tiles(spark, 4, 4)
    return decode_check(tiles)


def _halo_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffered-tile detection: halo exchange -> detect -> core-crop dedup
    (tree_detection.R:114-115, 160-165)."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.halo import with_halo
    from lidartree_spark.operators.tiles import synthetic_tiles
    return detect_trees(with_halo(synthetic_tiles(spark, 4, 4), 16))


def _detect_catalog_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed reference entry point (tree_detection catalog branch,
    tree_detection.R:94-206): ROI bbox pruning -> halo exchange -> per-tile
    segmentation/extraction with core-crop dedup -> exact polygon clip."""
    from lidartree_spark.operators.detection import tree_detection_catalog
    from lidartree_spark.operators.tiles import synthetic_tiles
    roi = "POLYGON ((64 10, 118 64, 64 118, 10 64, 64 10))"
    return tree_detection_catalog(synthetic_tiles(spark, 4, 4), roi)


def _detect_with_crowns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection with crown polygons as quantized-digit WKT
    (tree_detection.R:1067-1084 digit rule; marching-squares tracing in
    kernels/extraction.crown_wkt) — exercises the full vector-output path
    through the driver gate."""
    from pyspark.sql import functions as F
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.tiles import synthetic_tiles
    det = detect_trees(synthetic_tiles(spark, 3, 3), crown=True)
    return det.select("image_id", "id", "x", "y", "h",
                      F.length("crown").alias("crown_wkt_len"),
                      F.substring("crown", 1, 8).alias("crown_kind"))


def _crowns_spike_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect_trees(crown=True) — the full detection chain PLUS the
    marching-squares crown tracer — on the spike corpus, where every crown
    is the planted spike's single pixel and its verbatim WKT string is a
    closed-form %.2f-formatted 5-vertex square (top-left, clockwise, ring
    closed). Pins the crown=True codepath end-to-end; the multi-pixel
    tracer geometry is pinned by the in-budget crown_wkt_rects gate."""
    from lidartree_spark.operators.detection import detect_trees
    det = detect_trees(_spike_tiles(spark), crown=True)
    return det.select("image_id", "x", "y", "h", "crown")


_CROWNS_SPIKE_DUCK = """
WITH sp AS (
  SELECT printf('t%04d_%04d', R // 2, C // 2) AS image_id,
         CAST(32 * (C // 2) + 4 + 16 * (C % 2) AS DOUBLE) AS xl,
         CAST(32 * (R // 2) + 28 - 16 * (R % 2) AS DOUBLE) AS yt,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
)
SELECT image_id, xl + 0.25 AS x, yt - 0.25 AS y, h,
       printf('POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, '
              || '%.2f %.2f))',
              xl, yt, xl + 0.5, yt, xl + 0.5, yt - 0.5, xl, yt - 0.5,
              xl, yt) AS crown
FROM sp
"""


def _ckpt_resume_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume EXACTLY-ONCE gate (north rule: 'a killed run
    restarts from the last committed snapshot without recomputing
    completed tiles'): the spike-corpus detection pipeline runs through
    plans/checkpoint.Pipeline TWICE against the same workdir. The second
    run must SKIP both committed stages (fingerprint match) — the run
    statuses are emitted as columns, so a recompute (or a stale/partial
    snapshot) fails the oracle; the data columns pin that the resumed
    snapshot holds every spike detection exactly once."""
    import tempfile

    from lidartree_spark.plans.checkpoint import Pipeline, Stage

    def s_tiles(s):
        return _spike_tiles(s)

    def s_detect(s, tiles):
        from lidartree_spark.operators.detection import detect_trees
        return detect_trees(tiles)

    stages = [Stage("tiles", s_tiles),
              Stage("detect", s_detect, inputs=["tiles"])]
    base = tempfile.mkdtemp(prefix="lidartree_ckptr_")
    st1 = Pipeline(spark, base).run(stages)
    st2 = Pipeline(spark, base).run(stages)
    det = Pipeline(spark, base).read_output("detect")
    return det.select(
        "image_id", "x", "y", "h", "dom_radius", "s", "v",
        F.lit(st1["detect"]).alias("run1_detect"),
        F.lit(st2["tiles"]).alias("run2_tiles"),
        F.lit(st2["detect"]).alias("run2_detect"))


_CKPT_RESUME_DUCK = """
WITH sp AS (
  SELECT printf('t%04d_%04d', R // 2, C // 2) AS image_id,
         CAST(32 * (C // 2) + 4.25 + 16 * (C % 2) AS DOUBLE) AS x,
         CAST(32 * (R // 2) + 27.75 - 16 * (R % 2) AS DOUBLE) AS y,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
)
SELECT image_id, x, y, h, CAST(6.0 AS DOUBLE) AS dom_radius,
       CAST(0.25 AS DOUBLE) AS s, CAST(h * 0.25 AS DOUBLE) AS v,
       'computed' AS run1_detect,
       'skipped' AS run2_tiles, 'skipped' AS run2_detect
FROM sp
"""


def _halo_dominance_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Halo exchange gate where the halo CHANGES THE ANSWER (the lidR
    buffer >= 10 m rationale, tree_detection.R:114-115): four cross-border
    spike pairs — a tall spike 2 cells from a short (5.5 m) one in the
    NEIGHBORING tile — plus four isolated spikes. With the halo, Gaussian
    smoothing (dem_filtering) sees the tall spike across the border, the
    between-pixel [~0.25*(5.5+h_tall)] exceeds the short's own smoothed
    center [~0.44*5.5], so the short is not even a radius-1 local maximum
    and is never detected; seg_adjust then trims the short's pixel from
    the tall's segment (5.5 < 0.3*h_tall). WITHOUT the halo each tile
    would see the short as an isolated 5.5 m tree (h >= hmin) and emit a
    ninth row — so this oracle only matches if border strips really
    shipped. All survivors are closed-form (isolated-spike analysis of
    _north_star_stats)."""
    import pandas as pd

    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.halo import with_halo

    def gen(batches):
        import numpy as np
        from lidartree_spark.codecs import encode_tile
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                r, c = int(t) // 2, int(t) % 2
                z = np.zeros((64, 64), np.float32)
                for cx, cy, h in _HALO_SPIKES:
                    if cx // 64 == c and cy // 64 == r:
                        z[63 - (cy % 64), cx % 64] = h
                tid = f"t{r:04d}_{c:04d}"
                out.append({"image_id": tid,
                            "bytes": encode_tile(z, "raw_f32"),
                            "w": 64, "h": 64, "fmt": "raw_f32"})
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h",
                                             "fmt"])

    tiles = spark.range(4).repartition(4).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string")
    det = detect_trees(with_halo(tiles, 16))
    return det.select("image_id", "x", "y", "h", "dom_radius", "s", "v")


# (global cx, global cy, height) on the 128x128-cell 2x2-tile domain:
# 4 isolated spikes (one per tile) + 4 dominance pairs straddling tile
# borders (tall 20..23 m in one tile, short 5.5 m two cells away in the
# neighbor). Every non-pair separation is >= 20 cells (Chebyshev), beyond
# the 11-cell max dominance radius.
_HALO_SPIKES = (
    [(64 * c + 8, 64 * r + 40, float(10 + (r * 7 + c * 11) % 16))
     for r in (0, 1) for c in (0, 1)]
    + [(62, 64 * r + 20, float(20 + r)) for r in (0, 1)]      # tall, tile c=0
    + [(64, 64 * r + 20, 5.5) for r in (0, 1)]                # short, c=1
    + [(64 * c + 20, 62, float(22 + c)) for c in (0, 1)]      # tall, tile r=0
    + [(64 * c + 20, 64, 5.5) for c in (0, 1)]                # short, r=1
)

_HALO_DOMINANCE_DUCK = """
WITH iso AS (
  SELECT printf('t%04d_%04d', r, c) AS image_id,
         CAST(64 * c + 8.5 AS DOUBLE) * 0.5 AS x,
         CAST(64 * r + 40.5 AS DOUBLE) * 0.5 AS y,
         CAST(10 + (r * 7 + c * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 1)) rr(r),
       UNNEST(generate_series(0, 1)) cc2(c)
), tall AS (
  SELECT printf('t%04d_0000', r) AS image_id,
         CAST(62.5 * 0.5 AS DOUBLE) AS x,
         CAST(64 * r + 20.5 AS DOUBLE) * 0.5 AS y,
         CAST(20 + r AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 1)) rr(r)
  UNION ALL
  SELECT printf('t0000_%04d', c),
         CAST(64 * c + 20.5 AS DOUBLE) * 0.5,
         CAST(62.5 * 0.5 AS DOUBLE),
         CAST(22 + c AS DOUBLE)
  FROM UNNEST(generate_series(0, 1)) cc2(c)
)
SELECT image_id, x, y, h, CAST(6.0 AS DOUBLE) AS dom_radius,
       CAST(0.25 AS DOUBLE) AS s, CAST(h * 0.25 AS DOUBLE) AS v
FROM (SELECT * FROM iso UNION ALL SELECT * FROM tall)
"""


def _tree_metrics_spike_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clouds_tree_metrics (metrics.R:397-457) END TO END on the spike
    corpus: detection + std_tree_metrics per tile, where each tile's four
    apex heights are the closed-form integers 10 + (R*7 + C*11) % 16 —
    so the oracle re-derives mean/sd/sort-rank-Gini/height-class
    densities/crown means from first principles (per-tile heights are
    distinct, and the Gini sum formula is tie-invariant anyway). Area =
    the 32 m tile footprint = 0.1024 ha (rasterize.py:242-244)."""
    from lidartree_spark.operators.rasterize import clouds_tree_metrics_df
    m = clouds_tree_metrics_df(_spike_tiles(spark))
    return m.select(
        "image_id",
        *[F.round(c, 6).alias(c) for c in
          ("tree_meanh", "tree_sdh", "tree_ginih", "tree_density",
           "treeinf10_density", "treesup10_density", "treesup20_density",
           "treesup30_density", "tree_meancrownsurface",
           "tree_meancrownvolume", "treecanopy_meanh")])


_TREE_METRICS_SPIKE_DUCK = """
WITH sp AS (
  SELECT printf('t%04d_%04d', R // 2, C // 2) AS image_id,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
), ranked AS (
  SELECT image_id, h,
         ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY h) AS i,
         COUNT(*) OVER (PARTITION BY image_id) AS n
  FROM sp
)
SELECT image_id,
       ROUND(AVG(h), 6) AS tree_meanh,
       ROUND(STDDEV_SAMP(h), 6) AS tree_sdh,
       ROUND(SUM((2.0 * i - n - 1) * h) / (MAX(n) * SUM(h)), 6)
           AS tree_ginih,
       ROUND(CAST(COUNT(*) AS DOUBLE) / 0.1024, 6) AS tree_density,
       ROUND(CAST(SUM(CASE WHEN h <= 10 THEN 1 ELSE 0 END) AS DOUBLE)
             / 0.1024, 6) AS treeinf10_density,
       ROUND(CAST(SUM(CASE WHEN h > 10 THEN 1 ELSE 0 END) AS DOUBLE)
             / 0.1024, 6) AS treesup10_density,
       ROUND(CAST(SUM(CASE WHEN h > 20 THEN 1 ELSE 0 END) AS DOUBLE)
             / 0.1024, 6) AS treesup20_density,
       ROUND(CAST(SUM(CASE WHEN h > 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / 0.1024, 6) AS treesup30_density,
       CAST(0.25 AS DOUBLE) AS tree_meancrownsurface,
       ROUND(AVG(h) * 0.25, 6) AS tree_meancrownvolume,
       ROUND(SUM(h * 0.25) / SUM(0.25), 6) AS treecanopy_meanh
FROM ranked
GROUP BY image_id
"""


def _catalog_roi_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tree_detection_catalog END TO END on the spike corpus with a
    diamond ROI (tree_detection.R:94-206: bbox tile pruning -> halo ->
    detection with core-crop -> exact polygon clip). The diamond
    POLYGON((48 18, 78 48, 48 78, 18 48)) prunes tile row/col 3 at the
    bbox stage (real partition pruning, not a no-op ROI), and its exact
    clip is the Manhattan predicate |x-48|+|y-48| <= 30, which DuckDB
    re-derives directly. Spike coordinates are offset by .25/.75 from
    integers while the radius is an integer, so no spike can land ON the
    ring (sums are k, k.5 — never 30 exactly at distance 30): the
    ray-cast boundary convention is immaterial and the oracle is
    tie-free."""
    from lidartree_spark.operators.detection import tree_detection_catalog
    roi = "POLYGON ((48 18, 78 48, 48 78, 18 48, 48 18))"
    det = tree_detection_catalog(_spike_tiles(spark), roi)
    return det.select("image_id", "x", "y", F.round("h", 3).alias("h"),
                      "dom_radius", F.round("s", 6).alias("s"),
                      F.round("v", 3).alias("v"))


_CATALOG_ROI_DUCK = """
WITH sp AS (
  SELECT printf('t%04d_%04d', R // 2, C // 2) AS image_id,
         CAST(32 * (C // 2) + 4.25 + 16 * (C % 2) AS DOUBLE) AS x,
         CAST(32 * (R // 2) + 27.75 - 16 * (R % 2) AS DOUBLE) AS y,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
)
SELECT image_id, x, y, h, CAST(6.0 AS DOUBLE) AS dom_radius,
       CAST(0.25 AS DOUBLE) AS s, CAST(h * 0.25 AS DOUBLE) AS v
FROM sp
WHERE ABS(x - 48) + ABS(y - 48) <= 30
"""


def _checkpointed_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline through the checkpoint/lineage layer: each stage
    commits a snapshot + per-partition manifest; rerunning skips committed
    stages (north-rule resumability; see plans/checkpoint.py)."""
    import tempfile

    from lidartree_spark.plans.checkpoint import Pipeline, Stage

    def s_tiles(s):
        from lidartree_spark.operators.tiles import synthetic_tiles
        return synthetic_tiles(s, 4, 4)

    def s_detect(s, tiles):
        from lidartree_spark.operators.detection import detect_trees
        return detect_trees(tiles)

    p = Pipeline(spark, tempfile.mkdtemp(prefix="lidartree_ckpt_"))
    p.run([Stage("tiles", s_tiles),
           Stage("detect", s_detect, inputs=["tiles"])])
    return p.read_output("detect")


def _tree_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clouds_tree_metrics: per-tile detection + tree-level summary
    aggregates incl. Gini (metrics.R:200-214, 397-457)."""
    from lidartree_spark.operators.rasterize import clouds_tree_metrics_df
    from lidartree_spark.operators.tiles import synthetic_tiles
    return clouds_tree_metrics_df(synthetic_tiles(spark, 4, 4))


# points2DSM -> tile assembly -> codec roundtrip with a REAL DuckDB oracle.
# Points derive from `events` by identical arithmetic in both engines; Spark
# runs the real distributed pipeline (cell-key shuffle -> applyInPandas tile
# assembly -> raw_f32 decode -> REAL ISO-15948 PNG gray16 encode/decode ->
# REAL baseline-JPEG encode/decode) and emits integer-exact per-tile stats;
# DuckDB re-derives the same stats straight from the cell grid. The
# position-weighted sums (z*px, z*row-from-top) pin the exact pixel layout
# including the vertical flip in points_to_tiles. z is integer-valued and
# <= 34, so the raw_f32 and PNG roundtrips are EXACT; JPEG is lossy and is
# gated by the north-rule per-row invariant instead (PSNR >= 40 dB, emitted
# as a boolean the oracle requires TRUE — measured worst tile 42.9 dB at
# sf0.01, 46.9 at sf0.1).
_RT_PTS_SQL = """
  SELECT CAST(event_id % 192 AS DOUBLE) * 0.5 AS x,
         CAST(CAST(FLOOR(event_id / 192.0) AS BIGINT) % 128 AS DOUBLE)
             * 0.5 AS y,
         CAST(10 + event_id % 25 AS DOUBLE) AS z
  FROM events
"""

_RT_DUCK = """
WITH pts AS (
  SELECT event_id % 192 AS cx,
         CAST(FLOOR(event_id / 192.0) AS BIGINT) % 128 AS cy,
         10 + event_id % 25 AS z
  FROM events
), cells AS (
  SELECT cx, cy, MAX(z) AS z FROM pts GROUP BY cx, cy
), placed AS (
  SELECT CAST(FLOOR(cy / 64.0) AS BIGINT) AS trow,
         CAST(FLOOR(cx / 64.0) AS BIGINT) AS tcol,
         cx % 64 AS px, 63 - (cy % 64) AS ai, z
  FROM cells
)
SELECT printf('t%04d_%04d', trow, tcol) AS image_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(z) AS BIGINT) AS sum_z,
       CAST(MAX(z) AS BIGINT) AS max_z,
       CAST(SUM(z * px) AS BIGINT) AS sum_zx,
       CAST(SUM(z * ai) AS BIGINT) AS sum_zi,
       TRUE AS png_exact,
       TRUE AS jpeg_psnr40
FROM placed
GROUP BY trow, tcol
"""


def _tiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """points2DSM tile assembly + real-codec roundtrip, oracle-checked
    (_RT_DUCK). Covers common.R:53-70 cell semantics plus the PNG/JPEG
    codecs end-to-end against an engine that never decodes a byte."""
    import pandas as pd

    from lidartree_spark.operators.rasterize import points_to_tiles

    load_views(spark, sf_dir)
    tiles = points_to_tiles(spark.sql(_RT_PTS_SQL), res=0.5, tile_px=64)

    def stats(batches):
        import numpy as np
        from lidartree_spark.codecs import (
            decode_jpeg_tile,
            decode_png_gray16,
            decode_tile,
            encode_jpeg_tile,
            encode_png_gray16,
            psnr,
        )
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                a = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                filled = np.nan_to_num(a, nan=0.0).astype(np.float32)
                png = decode_png_gray16(encode_png_gray16(filled))
                jpg = decode_jpeg_tile(encode_jpeg_tile(filled))
                m = filled > 0  # real cells carry z >= 10; empty -> 0
                ii, jj = np.nonzero(m)
                z = png[m].astype(np.float64)  # stats READ the png roundtrip
                out.append({
                    "image_id": rec.image_id,
                    "n_cells": int(m.sum()),
                    "sum_z": int(round(z.sum())),
                    "max_z": int(round(z.max())) if z.size else 0,
                    "sum_zx": int(round((z * jj).sum())),
                    "sum_zi": int(round((z * ii).sum())),
                    "png_exact": bool(np.array_equal(png, filled)),
                    "jpeg_psnr40": bool(psnr(filled, jpg) >= 40.0),
                })
            yield pd.DataFrame(out, columns=[
                "image_id", "n_cells", "sum_z", "max_z", "sum_zx", "sum_zi",
                "png_exact", "jpeg_psnr40"])

    return tiles.mapInPandas(
        stats, schema=("image_id string, n_cells long, sum_z long, "
                       "max_z long, sum_zx long, sum_zi long, "
                       "png_exact boolean, jpeg_psnr40 boolean"))


# maxima_detection + maxima_selection (tree_detection.R:425-499, 555-575)
# with a REAL DuckDB oracle: both engines derive the same dense 64x64 grid
# per tile from integer arithmetic; Spark runs the actual incremental-
# dilation kernel (radius 2 => two dilate_square3 passes == a 5x5 window),
# DuckDB re-derives maxima relationally — a pixel has dominance radius >= r
# iff it equals the max of its in-bounds (2r+1)^2 window (dilate_square3
# clips at borders, so the join's in-bounds neighbor set matches exactly).
# hmin mirrors maxima_selection's height threshold. Integer z => exact.
_MAXIMA_DUCK = """
WITH g AS (
  SELECT t, i, j, CAST((i * 37 + j * 61 + t * 29) % 23 AS BIGINT) AS z
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 63)) ii(i),
       UNNEST(generate_series(0, 63)) jj(j)
), win AS (
  SELECT g.t, g.i, g.j, g.z,
         MAX(CASE WHEN n.i BETWEEN g.i - 1 AND g.i + 1
                   AND n.j BETWEEN g.j - 1 AND g.j + 1 THEN n.z END) AS m1,
         MAX(n.z) AS m2
  FROM g JOIN g n ON n.t = g.t
                 AND n.i BETWEEN g.i - 2 AND g.i + 2
                 AND n.j BETWEEN g.j - 2 AND g.j + 2
  GROUP BY g.t, g.i, g.j, g.z
)
SELECT t AS tile,
       CAST(SUM(CASE WHEN z = m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
       CAST(SUM(CASE WHEN z = m1 AND z < m2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_r1,
       CAST(SUM(CASE WHEN z = m1 THEN z ELSE 0 END) AS BIGINT) AS z_sum,
       CAST(SUM(CASE WHEN z = m1 THEN i * 64 + j ELSE 0 END)
            AS BIGINT) AS pos_sum
FROM win
WHERE z >= 8
GROUP BY t
"""


def _maxima_localmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real variable-window maxima kernel vs a relational window-max
    oracle (_MAXIMA_DUCK); n_r1/n_r2 split pins the incremental-dilation
    radius logic, pos_sum pins positions."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.detection import (
            maxima_detection,
            maxima_selection,
        )
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                z = ((ii * 37 + jj * 61 + t * 29) % 23).astype(np.float64)
                maxi = maxima_detection(z, res=1.0, max_width=5.0)
                sel = maxima_selection(maxi, z, hmin=8.0, dmin=0.0,
                                       dprop=0.0)
                any_m = sel > 0
                out.append({
                    "tile": t,
                    "n_r2": int((sel == 3.0).sum()),
                    "n_r1": int((sel == 2.0).sum()),
                    "z_sum": int(z[any_m].sum()),
                    "pos_sum": int((ii * 64 + jj)[any_m].sum()),
                })
            yield pd.DataFrame(out, columns=["tile", "n_r2", "n_r1",
                                             "z_sum", "pos_sum"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema=("tile int, n_r2 long, n_r1 long, z_sum long, "
                     "pos_sum long"))


# Marker-controlled watershed (tree_detection.R:621-649, imager::watershed
# semantics) against a fully relational oracle. Both engines derive the same
# deterministic cone field: 7 seeds per tile at integer positions, priority
# = -d^2(pixel, nearest seed). Spark runs the REAL Meyer priority-flood
# kernel (kernels/segmentation.watershed — the packed-int heap used by every
# segmentation in the engine); DuckDB re-derives each pixel's basin as the
# analytic nearest-seed (Voronoi) assignment. On a cone field the flooded
# basin equals the Voronoi cell wherever the margin d2nd - d1st >= 9
# (4-connected flooding vs L2 distance only disagree in a 1-px boundary
# band; the margin filter — computed from ANALYTIC distances on both sides,
# never from the watershed output — excludes exactly that band, keeping
# ~96% of pixels). Grouping on the Spark side uses the WATERSHED labels, so
# any mislabeled interior pixel breaks the per-basin count/position hashes.
# Ties: numpy argmin and the oracle's ROW_NUMBER(ORDER BY d2, k) both take
# the lowest seed index; duplicate minima yield margin 0 and are excluded
# identically (np.sort and rn=2 both count multiplicity).
_WATERSHED_DUCK = """
WITH px AS (
  SELECT t, i, j
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 63)) ii(i),
       UNNEST(generate_series(0, 63)) jj(j)
), sd AS (
  SELECT t, k,
         (t * 19 + k * 23 + 7) % 64 AS si,
         (t * 31 + k * 41 + 13) % 64 AS sj
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 6)) kk(k)
), d AS (
  SELECT px.t, px.i, px.j, sd.k,
         (px.i - sd.si) * (px.i - sd.si)
           + (px.j - sd.sj) * (px.j - sd.sj) AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY px.t, px.i, px.j
           ORDER BY (px.i - sd.si) * (px.i - sd.si)
                  + (px.j - sd.sj) * (px.j - sd.sj), sd.k) AS rn
  FROM px JOIN sd ON sd.t = px.t
), r AS (
  SELECT t, i, j,
         MAX(CASE WHEN rn = 1 THEN k END) AS kmin,
         MAX(CASE WHEN rn = 1 THEN d2 END) AS d1,
         MAX(CASE WHEN rn = 2 THEN d2 END) AS dsecond
  FROM d WHERE rn <= 2 GROUP BY t, i, j
)
SELECT t AS tile, CAST(kmin AS INT) AS seed,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(i * 64 + j) AS BIGINT) AS pos_sum,
       CAST(SUM(d1) AS BIGINT) AS d2_sum
FROM r
WHERE dsecond - d1 >= 9
GROUP BY t, kmin
"""


def _watershed_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real packed-int-heap watershed kernel on a deterministic cone
    field vs the analytic Voronoi oracle (_WATERSHED_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.segmentation import watershed
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                pos = [((t * 19 + k * 23 + 7) % 64,
                        (t * 31 + k * 41 + 13) % 64) for k in range(7)]
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                d2 = np.stack([(ii - si) ** 2 + (jj - sj) ** 2
                               for si, sj in pos])
                srt = np.sort(d2, axis=0)
                margin_ok = (srt[1] - srt[0]) >= 9
                seeds = np.zeros((64, 64), dtype=np.int64)
                for k, (si, sj) in enumerate(pos):
                    seeds[si, sj] = k + 1
                lab = watershed(seeds, -srt[0].astype(np.float64))
                posv = ii * 64 + jj
                for k in range(7):
                    m = margin_ok & (lab == k + 1)
                    if not m.any():  # oracle emits only non-empty basins
                        continue
                    out.append({"tile": t, "seed": k,
                                "n_px": int(m.sum()),
                                "pos_sum": int(posv[m].sum()),
                                "d2_sum": int(srt[0][m].sum())})
            yield pd.DataFrame(out, columns=["tile", "seed", "n_px",
                                             "pos_sum", "d2_sum"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema=("tile int, seed int, n_px long, pos_sum long, "
                     "d2_sum long"))


# dem_filtering (tree_detection.R:294-389) — BOTH non-linear branches plus
# the Gaussian smoothing — against a fully relational oracle. The engine
# runs the REAL kernel (edge padding, disk-5 grey closing, 5x5 median,
# separable truncated-FIR Gaussian); DuckDB re-derives every step from
# first principles: edge replication = coordinate clamping over the
# extended domain [-3,66], dilation/erosion = MAX/MIN over the disk via a
# range join (the _rank_filter's +/-inf fill = the join's in-bounds
# neighbor set), the Gaussian = two explicit 5-tap weighted sums with
# EXP-derived normalized weights. Closing/median are integer-exact;
# smoothing is quantize-then-sum (ROUND 6 per pixel, then row sum) on both
# sides. Per-(tile,row) aggregates: one mislabeled pixel anywhere in the
# 64x64 core breaks its row's hash.
_DEMFILT_DUCK = """
WITH ext AS (
  SELECT t, i, j,
         CAST((LEAST(GREATEST(i, 0), 63) * 37
               + LEAST(GREATEST(j, 0), 63) * 61 + t * 29) % 23
              AS DOUBLE) AS z
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(-3, 66)) ii(i),
       UNNEST(generate_series(-3, 66)) jj(j)
), dil AS (
  SELECT e.t, e.i, e.j,
         MAX(CASE WHEN (n.i - e.i) * (n.i - e.i)
                       + (n.j - e.j) * (n.j - e.j) <= 4
                  THEN n.z END) AS v
  FROM ext e JOIN ext n ON n.t = e.t
         AND n.i BETWEEN e.i - 2 AND e.i + 2
         AND n.j BETWEEN e.j - 2 AND e.j + 2
  GROUP BY e.t, e.i, e.j
), clo AS (
  SELECT e.t, e.i, e.j,
         MIN(CASE WHEN (n.i - e.i) * (n.i - e.i)
                       + (n.j - e.j) * (n.j - e.j) <= 4
                  THEN n.v END) AS v
  FROM dil e JOIN dil n ON n.t = e.t
         AND n.i BETWEEN e.i - 2 AND e.i + 2
         AND n.j BETWEEN e.j - 2 AND e.j + 2
  WHERE e.i BETWEEN -2 AND 65 AND e.j BETWEEN -2 AND 65
  GROUP BY e.t, e.i, e.j
), w AS (
  SELECT k, EXP(-(k * k) / (2.0 * 0.6 * 0.6)) /
         (SELECT SUM(EXP(-(m * m) / (2.0 * 0.6 * 0.6)))
          FROM UNNEST(generate_series(-2, 2)) mm(m)) AS wt
  FROM UNNEST(generate_series(-2, 2)) kk(k)
), h AS (
  SELECT c.t, c.i, c.j - w.k AS j, SUM(c.v * w.wt) AS v
  FROM clo c JOIN w ON TRUE
  WHERE c.j - w.k BETWEEN 0 AND 63
  GROUP BY c.t, c.i, c.j - w.k
), s AS (
  SELECT hh.t, hh.i - w.k AS i, hh.j, SUM(hh.v * w.wt) AS v
  FROM h hh JOIN w ON TRUE
  WHERE hh.i - w.k BETWEEN 0 AND 63
  GROUP BY hh.t, hh.i - w.k, hh.j
), med AS (
  SELECT e.t, e.i, e.j, MEDIAN(n.z) AS v
  FROM ext e JOIN ext n ON n.t = e.t
         AND n.i BETWEEN e.i - 2 AND e.i + 2
         AND n.j BETWEEN e.j - 2 AND e.j + 2
  WHERE e.i BETWEEN 0 AND 63 AND e.j BETWEEN 0 AND 63
  GROUP BY e.t, e.i, e.j
)
SELECT c.t AS tile, CAST(c.i AS INT) AS i,
       CAST(SUM(c.v) AS BIGINT) AS clo_sum,
       CAST(MIN(c.v) AS BIGINT) AS clo_min,
       CAST(MAX(c.v) AS BIGINT) AS clo_max,
       ROUND(SUM(ROUND(s.v, 6)), 6) AS smo_sum,
       CAST(SUM(m.v) AS BIGINT) AS med_sum
FROM clo c
JOIN s ON s.t = c.t AND s.i = c.i AND s.j = c.j
JOIN med m ON m.t = c.t AND m.i = c.i AND m.j = c.j
WHERE c.i BETWEEN 0 AND 63 AND c.j BETWEEN 0 AND 63
GROUP BY c.t, c.i
"""


def _dem_filtering_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real dem_filtering kernel (Closing + Gaussian, and Median) on
    deterministic integer grids vs the relational morphology oracle
    (_DEMFILT_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.detection import dem_filtering
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                z = ((ii * 37 + jj * 61 + t * 29) % 23).astype(np.float64)
                fc = dem_filtering(z, nl_filter="Closing", nl_size=5,
                                   sigma=0.6, res=1.0)
                fm = dem_filtering(z, nl_filter="Median", nl_size=5,
                                   sigma=0.0, res=1.0)
                clo = fc["non_linear_image"]
                smo = fc["smoothed_image"]
                med = fm["non_linear_image"]
                for i in range(64):
                    out.append({
                        "tile": t, "i": i,
                        "clo_sum": int(clo[i].sum()),
                        "clo_min": int(clo[i].min()),
                        "clo_max": int(clo[i].max()),
                        "smo_sum": round(float(np.round(smo[i], 6).sum()),
                                         6),
                        "med_sum": int(med[i].sum()),
                    })
            yield pd.DataFrame(out, columns=["tile", "i", "clo_sum",
                                             "clo_min", "clo_max",
                                             "smo_sum", "med_sum"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema=("tile int, i int, clo_sum long, clo_min long, "
                     "clo_max long, smo_sum double, med_sum long"))


# Pixel connected-component labeling (imager::label semantics,
# gap_detection.R:199) — the real vectorized Shiloach-Vishkin kernel
# (kernels/segmentation.label_components) vs a DuckDB transitive-closure
# oracle. The binary mask is block-constant (4x4 blocks), so the oracle
# labels the 16x16 BLOCK graph by recursive-CTE min-label closure and
# expands pixel stats analytically (n_px = 16 x blocks; each block
# contributes 16*id + 1560 to the pixel-position sum, id = top-left pixel
# index) — a structurally different derivation at a different granularity,
# while the engine labels all 4096 pixels. The mask's horizontal stride-1
# runs make snake components up to 18 blocks long (diameter >> log n),
# exercising the kernel's pointer-jumping, and canonical ids (min pixel
# index) must agree exactly.
_LABEL_CC_DUCK = """
WITH RECURSIVE blk AS (
  SELECT t, bi, bj, 256 * bi + 4 * bj AS id
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 15)) bb(bi),
       UNNEST(generate_series(0, 15)) cc2(bj)
  WHERE (bi * 13 + bj + t * 7) % 23 < 11
), e AS (
  SELECT a.t, a.id AS u, b.id AS v
  FROM blk a JOIN blk b ON b.t = a.t
   AND ((b.bi = a.bi AND ABS(b.bj - a.bj) = 1)
     OR (b.bj = a.bj AND ABS(b.bi - a.bi) = 1))
), sym AS (
  SELECT t, u, v FROM e UNION SELECT t, id, id FROM blk
), cc AS (
  SELECT t, u, v FROM sym
  UNION
  SELECT c.t, c.u, s.v FROM cc c JOIN sym s ON s.t = c.t AND s.u = c.v
), labs AS (
  SELECT t AS tile, u, MIN(v) AS comp FROM cc GROUP BY t, u
)
SELECT tile, CAST(comp AS BIGINT) AS comp,
       CAST(16 * COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(16 * u + 1560) AS BIGINT) AS pos_sum
FROM labs GROUP BY tile, comp
"""


def _label_components_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real Shiloach-Vishkin pixel CC kernel on block-structured masks
    vs the block-graph closure oracle (_LABEL_CC_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.segmentation import label_components
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                mask = (((ii // 4) * 13 + (jj // 4) + t * 7) % 23) < 11
                lab = label_components(mask)
                posv = ii * 64 + jj
                for lv in np.unique(lab[lab > 0]):
                    m = lab == lv
                    out.append({"tile": t,
                                "comp": int(posv[m].min()),
                                "n_px": int(m.sum()),
                                "pos_sum": int(posv[m].sum())})
            yield pd.DataFrame(out, columns=["tile", "comp", "n_px",
                                             "pos_sum"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema="tile int, comp long, n_px long, pos_sum long")


# raster_zonal_stats + seg_adjust (tree_detection.R:689-710, 769-790)
# against a window-function oracle. Labels are an analytic 8x8 block
# pattern both engines derive independently; the engine runs the REAL
# scatter-max zonal painter and the real three-rule crown trimmer, the
# oracle re-derives the per-segment max as MAX() OVER (PARTITION BY) and
# the trim rules as the survival predicate wh >= 8 AND z >= 0.5*wh AND
# z >= 3 (integers and exact halves — no float ambiguity). Per-surviving-
# segment counts and sums; 1024 rows.
_ZONAL_DUCK = """
WITH g AS (
  SELECT t, i, j, (i * 37 + j * 61 + t * 29) % 23 AS z,
         t * 1000 + (i // 8) * 8 + (j // 8) + 1 AS lab
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 63)) ii(i),
       UNNEST(generate_series(0, 63)) jj(j)
), w AS (
  SELECT t, lab, z, MAX(z) OVER (PARTITION BY t, lab) AS wh FROM g
)
SELECT t AS tile, CAST(lab AS BIGINT) AS lab,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(z) AS BIGINT) AS z_sum,
       CAST(MAX(wh) AS BIGINT) AS wh
FROM w
WHERE wh >= 8 AND z >= 0.5 * wh AND z >= 3
GROUP BY t, lab
"""


def _zonal_adjust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real raster_zonal_stats scatter-max + seg_adjust trim rules on
    analytic block labels vs the window-max oracle (_ZONAL_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.segmentation import (
            raster_zonal_stats,
            seg_adjust,
        )
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                z = ((ii * 37 + jj * 61 + t * 29) % 23).astype(np.float64)
                seg = (t * 1000 + (ii // 8) * 8 + (jj // 8) + 1) \
                    .astype(np.int64)
                wh = raster_zonal_stats(seg, z, np.max)
                adj = seg_adjust(seg, wh, z, prop=0.5, min_value=3.0,
                                 min_maxvalue=8.0)
                for lv in np.unique(adj[adj > 0]):
                    m = adj == lv
                    out.append({"tile": t, "lab": int(lv),
                                "n_px": int(m.sum()),
                                "z_sum": int(z[m].sum()),
                                "wh": int(wh[m].max())})
            yield pd.DataFrame(out, columns=["tile", "lab", "n_px",
                                             "z_sum", "wh"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema="tile int, lab long, n_px long, z_sum long, wh long")


# tree_extraction (tree_detection.R:1000-1086) against a relational oracle:
# analytic 8x8-block segments, one apex per block at an analytic in-block
# offset, and a partial column mask. The engine runs the REAL kernel —
# bincount zonal s/v, mask-aware sp (in-mask count) and vp (NaN when the
# segment is partially outside, R's sum-with-NA semantics), apex georef
# x0/y1/res transforms, masked-apex dropping. The oracle re-derives all of
# it with GROUP BY/CASE (vp split into vp_nan boolean + vp0 to keep the
# hash NaN-free). res=0.5 and x0=100 pin the georef arithmetic; quarter
# multiples and integer z keep every value float-exact.
_TREE_EXTRACT_DUCK = """
WITH g AS (
  SELECT t, i, j, CAST((i*37 + j*61 + t*29) % 23 AS DOUBLE) AS z,
         t*1000 + (i//8)*8 + (j//8) + 1 AS lab,
         j BETWEEN 4 AND 59 AS inm
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 63)) ii(i),
       UNNEST(generate_series(0, 63)) jj(j)
), segstats AS (
  SELECT t, lab,
         CAST(COUNT(*) * 0.25 AS DOUBLE) AS s,
         CAST(SUM(z) * 0.25 AS DOUBLE) AS v,
         CAST(SUM(CASE WHEN inm THEN 1 ELSE 0 END) * 0.25 AS DOUBLE) AS sp,
         BOOL_OR(NOT inm) AS vp_nan,
         CAST(CASE WHEN BOOL_OR(NOT inm) THEN 0.0
                   ELSE SUM(z) * 0.25 END AS DOUBLE) AS vp0
  FROM g GROUP BY t, lab
), apex AS (
  SELECT t, 8*bi + (t+bi) % 8 AS ai, 8*bj + (t+bj) % 8 AS aj,
         CAST(1 + (t+bi+bj) % 3 AS DOUBLE) AS dom,
         t*1000 + bi*8 + bj + 1 AS lab
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 7)) bb(bi),
       UNNEST(generate_series(0, 7)) cc2(bj)
)
SELECT a.t AS tile, CAST(a.lab AS BIGINT) AS id,
       100.0 + (a.aj + 0.5) * 0.5 AS x,
       32.0 - (a.ai + 0.5) * 0.5 AS y,
       CAST((a.ai*37 + a.aj*61 + a.t*29) % 23 AS DOUBLE) AS h,
       a.dom, s.s, s.v, s.sp, s.vp_nan, s.vp0
FROM apex a JOIN segstats s ON s.t = a.t AND s.lab = a.lab
WHERE a.aj BETWEEN 4 AND 59
"""


def _tree_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real tree_extraction kernel (zonal s/v/sp/vp, georef apexes,
    masked-apex dropping) vs the relational oracle (_TREE_EXTRACT_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.extraction import tree_extraction
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                z = ((ii * 37 + jj * 61 + t * 29) % 23).astype(np.float64)
                seg = (t * 1000 + (ii // 8) * 8 + (jj // 8) + 1) \
                    .astype(np.int64)
                maxi = np.zeros((64, 64))
                for bi in range(8):
                    for bj in range(8):
                        maxi[8 * bi + (t + bi) % 8,
                             8 * bj + (t + bj) % 8] = 1 + (t + bi + bj) % 3
                mask = np.where((jj >= 4) & (jj <= 59), 1.0, np.nan)
                for r in tree_extraction(z, maxi, seg, x0=100.0, res=0.5,
                                         mask=mask):
                    vp_nan = bool(np.isnan(r["vp"]))
                    out.append({"tile": t, "id": r["id"], "x": r["x"],
                                "y": r["y"], "h": r["h"],
                                "dom": r["dom_radius"], "s": r["s"],
                                "v": r["v"], "sp": r["sp"],
                                "vp_nan": vp_nan,
                                "vp0": 0.0 if vp_nan else r["vp"]})
            yield pd.DataFrame(out, columns=["tile", "id", "x", "y", "h",
                                             "dom", "s", "v", "sp",
                                             "vp_nan", "vp0"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema=("tile int, id long, x double, y double, h double, "
                     "dom double, s double, v double, sp double, "
                     "vp_nan boolean, vp0 double"))


# crown_wkt (tree_detection.R:1067-1084 digit rule + marching-squares
# tracing) against a string-construction oracle: on square crowns the
# traced ring is fully determined — start at the top-left corner, walk the
# top edge right in res steps, down the right edge, left along the bottom,
# up the left edge, close — and every coordinate is %.2f-formatted. DuckDB
# rebuilds each polygon verbatim with printf + STRING_AGG(ORDER BY), so the
# gate compares the EXACT WKT strings (vertex order, ring closure, digit
# quantization) for 1024 crowns.
_CROWN_WKT_DUCK = """
WITH blk AS (
  SELECT t, bi, bj, t*1000 + bi*8 + bj + 1 AS id,
         100.0 + bj * 4.0 AS xl, 100.0 + bj * 4.0 + 4.0 AS xr,
         32.0 - bi * 4.0 AS yt, 32.0 - bi * 4.0 - 4.0 AS yb
  FROM UNNEST(generate_series(0, 15)) tt(t),
       UNNEST(generate_series(0, 7)) bb(bi),
       UNNEST(generate_series(0, 7)) cc2(bj)
), verts AS (
  SELECT b.t, b.id, k AS ord, b.xl + k * 0.5 AS x, b.yt AS y
  FROM blk b, UNNEST(generate_series(0, 8)) kk(k)
  UNION ALL
  SELECT b.t, b.id, 8 + k, b.xr, b.yt - k * 0.5
  FROM blk b, UNNEST(generate_series(1, 8)) kk(k)
  UNION ALL
  SELECT b.t, b.id, 16 + k, b.xr - k * 0.5, b.yb
  FROM blk b, UNNEST(generate_series(1, 8)) kk(k)
  UNION ALL
  SELECT b.t, b.id, 24 + k, b.xl, b.yb + k * 0.5
  FROM blk b, UNNEST(generate_series(1, 8)) kk(k)
)
SELECT t AS tile, CAST(id AS BIGINT) AS id,
       'POLYGON ((' || STRING_AGG(printf('%.2f %.2f', x, y), ', '
                                  ORDER BY ord) || '))' AS wkt
FROM verts GROUP BY t, id
"""


def _crown_wkt_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real marching-squares crown tracer on square block segments vs
    the verbatim string oracle (_CROWN_WKT_DUCK)."""
    import pandas as pd

    def run(batches):
        import numpy as np
        from lidartree_spark.kernels.extraction import crown_wkt
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                ii, jj = np.meshgrid(np.arange(64), np.arange(64),
                                     indexing="ij")
                seg = (t * 1000 + (ii // 8) * 8 + (jj // 8) + 1) \
                    .astype(np.int64)
                for k, v in crown_wkt(seg, x0=100.0, y1=32.0,
                                      res=0.5).items():
                    out.append({"tile": t, "id": int(k), "wkt": v})
            yield pd.DataFrame(out, columns=["tile", "id", "wkt"])

    return spark.range(16).repartition(8).mapInPandas(
        run, schema="tile int, id long, wkt string")

def _streaming_detect_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming detection with checkpoint-resume, gated against the batch
    answer: phase 1 streams HALF the spike corpus through
    stream_detect_to_parquet (file source -> detect -> parquet sink,
    availableNow); phase 2 adds the remaining tiles and re-runs with the
    SAME checkpoint — Spark's file-source log must skip the committed
    files, so the sink holds every detection EXACTLY once (a re-processed
    phase-1 file would double its tiles' rows and break n_trees; a
    non-resumed run would miss phase-2 rows). The oracle re-derives the
    full spike set per tile (see _north_star_stats for the closed form)."""
    import os
    import tempfile

    from lidartree_spark.streaming.ops import (
        stream_detect_to_parquet,
        stream_tiles,
    )
    base = tempfile.mkdtemp(prefix="lidartree_sdr_")
    src = os.path.join(base, "src")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    tiles = _spike_tiles(spark)
    tiles.where("image_id < 't0002'").write.mode("append").parquet(src)
    stream_detect_to_parquet(stream_tiles(spark, src), sink, ckpt)
    tiles.where("image_id >= 't0002'").write.mode("append").parquet(src)
    stream_detect_to_parquet(stream_tiles(spark, src), sink, ckpt)
    det = spark.read.parquet(sink)
    return det.groupBy("image_id").agg(
        F.count("*").cast("long").alias("n_trees"),
        F.round(F.sum("h"), 6).alias("sum_h"),
        F.round(F.sum("v"), 6).alias("sum_v"),
        F.round(F.min("dom_radius"), 6).alias("dom_min"))


_STREAM_DETECT_DUCK = """
WITH sp AS (
  SELECT printf('t%04d_%04d', R // 2, C // 2) AS image_id,
         CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS h
  FROM UNNEST(generate_series(0, 7)) rr(R),
       UNNEST(generate_series(0, 7)) cc2(C)
)
SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_trees,
       ROUND(SUM(h), 6) AS sum_h,
       ROUND(SUM(h * 0.25), 6) AS sum_v,
       CAST(6.0 AS DOUBLE) AS dom_min
FROM sp GROUP BY image_id
"""


QUERIES = [
    Query("std_tree_metrics", _STD_TREE_METRICS,
          _STD_TREE_METRICS, driver=True),
    Query("matching_mutual_nn", _mutual_nn_sql("spark"),
          _mutual_nn_sql("duck")),
    Query("hist_detection", _hist_detection_sql("spark"),
          _hist_detection_sql("duck")),
    Query("height_regression", _height_regression_sql("spark"),
          _height_regression_sql("duck")),
    Query("matching_scores", _matching_scores_sql("spark"),
          _matching_scores_sql("duck"), driver=True),
    Query("pip_join", _pip_join_sql("spark"),
          _pip_join_sql("duck"), driver=True),
    Query("tile_prune_roi", _tile_prune_sql("spark"), _tile_prune_sql("duck")),
    Query("species_dim_join", _SPECIES_JOIN_SPARK, _SPECIES_JOIN_DUCK),
    Query("hist_stack", _HIST_STACK, _HIST_STACK),
    Query("cell_join_salted", _salted_join_spark,
          _SALTED_JOIN_ORACLE, driver=True),
    Query("north_star_chain", _north_star_chain),
    Query("north_star_stats", _north_star_stats,
          _NORTH_STAR_DUCK, driver=True),
    Query("tree_detect_tiles", _flagship_detect),
    Query("tree_match_oracle", _tree_match_oracle,
          _TM_ORACLE_DUCK, driver=True),
    Query("tree_match_greedy", _match_greedy),
    Query("tiles_decode_invariants", _decode_invariants),
    Query("tree_detect_halo", _halo_detect),
    Query("tree_detection_catalog_roi", _detect_catalog_roi),
    Query("tree_detect_crowns", _detect_with_crowns),
    Query("crowns_spike", _crowns_spike_gate, _CROWNS_SPIKE_DUCK, driver=True),
    Query("checkpoint_resume_stats", _ckpt_resume_gate,
          _CKPT_RESUME_DUCK, driver=True),
    Query("halo_dominance_stats", _halo_dominance_gate,
          _HALO_DOMINANCE_DUCK, driver=True),
    Query("tree_metrics_spike", _tree_metrics_spike_gate,
          _TREE_METRICS_SPIKE_DUCK, driver=True),
    Query("catalog_roi_stats", _catalog_roi_gate,
          _CATALOG_ROI_DUCK, driver=True),
    Query("checkpointed_detect", _checkpointed_detect),
    Query("clouds_tree_metrics", _tree_metrics),
    Query("tiles_roundtrip_stats", _tiles_roundtrip, _RT_DUCK, driver=True),
    Query("maxima_localmax", _maxima_localmax, _MAXIMA_DUCK, driver=True),
    Query("watershed_voronoi", _watershed_voronoi,
          _WATERSHED_DUCK, driver=True),
    Query("dem_filtering_surface", _dem_filtering_surface,
          _DEMFILT_DUCK, driver=True),
    Query("label_components_blocks", _label_components_blocks,
          _LABEL_CC_DUCK, driver=True),
    Query("zonal_adjust_stats", _zonal_adjust_stats, _ZONAL_DUCK, driver=True),
    Query("tree_extraction_stats", _tree_extraction_stats,
          _TREE_EXTRACT_DUCK, driver=True),
    Query("crown_wkt_rects", _crown_wkt_rects, _CROWN_WKT_DUCK, driver=True),
    Query("streaming_detect_resume", _streaming_detect_resume,
          _STREAM_DETECT_DUCK, driver=True),
]
