"""Physical-plan quality gates: the properties that make the engine scale
(zero-shuffle detection, broadcast dims, parquet pushdown/pruning) asserted
on the executed plans so a regression in plan shape fails CI, not a 100 TB
run."""

import re

import pytest

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_detection_is_zero_shuffle(spark):
    """detect_trees must stay embarrassingly parallel: no Exchange anywhere
    in the plan (tile = row; the only shuffles in the flagship pipeline are
    the halo strips and the matching key)."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.tiles import synthetic_tiles
    plan = _plan(detect_trees(synthetic_tiles(spark, 2, 2)))
    assert "Exchange" not in plan


def test_match_trees_single_shuffle(spark):
    """The matcher adds exactly one repartition exchange on the group key
    (plus AQE bookkeeping) — not one per side."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.matching import match_trees
    from lidartree_spark.operators.tiles import (
        synthetic_ref_trees,
        synthetic_tiles,
    )
    det = detect_trees(synthetic_tiles(spark, 2, 2))
    ref = synthetic_ref_trees(spark, 2, 2)
    plan = _plan(match_trees(ref, det))
    # union of both sides flows through a single hashpartitioning exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_small_dims_broadcast(spark):
    """ROI rectangles and the species dimension must broadcast, not
    shuffle."""
    from lidartree_spark.queries import queries
    qs = queries()
    pip = _plan(qs["pip_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in pip or "BroadcastHashJoin" in pip
    species = _plan(qs["species_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in species


def test_parquet_pushdown_and_pruning(spark):
    """Filters reach the parquet scan and the scan reads only referenced
    columns (predicate pushdown + column pruning — free at 100 TB only if
    the plan keeps them)."""
    from lidartree_spark.queries import load_views
    load_views(spark, SF)
    plan = _plan(spark.sql(
        "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity,45.0)" in m.group(1)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None
    schema = m.group(1)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_comment" not in schema  # untouched columns pruned


def test_tile_prune_pushdown(spark):
    """ROI tile pruning (tree_detection.R:103-111 analogue) pushes the
    orderkey range predicate into the scan."""
    from lidartree_spark.queries import queries
    plan = _plan(queries()["tile_prune_roi"](spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(o_orderkey",
                     plan)


def test_salted_join_exact_and_spreads_key(spark):
    """salted_join == plain join row-for-row, and the physical plan shuffles
    on the salted composite key (hot rows spread over salt_buckets
    reducers)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from lidartree_spark.operators.grid import salted_join

    heavy = spark.createDataFrame(pd.DataFrame({
        "cell": [0] * 500 + [i % 7 for i in range(100)],
        "rid": range(600),
        "qty": [i % 13 for i in range(600)],
    }))
    dim = spark.createDataFrame(pd.DataFrame({
        "cell": list(range(7)),
        "factor": [10 * i for i in range(7)],
    }))
    plain = heavy.join(dim, "cell").groupBy("cell").agg(
        F.count("*").alias("n"), F.sum(F.col("qty") * F.col("factor"))
        .alias("w"))
    salted = salted_join(heavy, dim, ["cell"], salt_buckets=8,
                         salt_src="rid", shuffle=True)
    agg = salted.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum(F.col("qty") * F.col("factor"))
        .alias("w"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, agg.collect()))
    plan = _plan(salted)
    assert "_salt" in plan and "ShuffledHashJoin" in plan
