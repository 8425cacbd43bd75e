"""Plan-shape hygiene across the whole driver-query registry.

At 100 TB the difference between an equi-join and a nested-loop join is the
difference between a shuffle and a non-terminating job, so every registered
query's physical plan is asserted cartesian-free — with an explicit,
documented whitelist for the one query whose nested loop is intentional.
"""

import pytest

from lidartree_spark.queries import REGISTRY, queries

SF = "/root/testdata/sf0.001"

# embedding_topk (and the method='exact' half of the ann_lsh gate, which
# embeds it) is the EXACT brute-force baseline: CROSS JOIN of an 8-row
# broadcast query side against the corpus — O(|Q| * n) scan, not O(n^2);
# the scale paths are ann_lsh's lsh half / ann_ivf / embedding_neardup
# (all bucketed).
NESTED_LOOP_OK = {"embedding_topk", "ann_lsh", "ann_dual"}


@pytest.mark.parametrize("name", sorted(queries()))
def test_no_unintended_nested_loop_join(spark, name):
    missing = REGISTRY[name].missing_input()
    if missing:
        pytest.skip(f"missing {missing}")
    df = queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, \
            f"{name} plans a nested-loop join"
