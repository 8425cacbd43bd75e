"""Plan-shape hygiene across the whole driver-query registry.

At 100 TB the difference between an equi-join and a nested-loop join is the
difference between a shuffle and a non-terminating job, so every registered
query's physical plan is asserted free of cartesian products and
nested-loop joins.
"""

import pytest

from lidartree_spark.queries import REGISTRY, queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(queries()))
def test_no_unintended_nested_loop_join(spark, name):
    missing = REGISTRY[name].missing_input()
    if missing:
        pytest.skip(f"missing {missing}")
    df = queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
    assert "BroadcastNestedLoopJoin" not in plan, \
        f"{name} plans a nested-loop join"
