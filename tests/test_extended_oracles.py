"""The extended oracle set — gates OUTSIDE the driver's 50-row correctness
budget — verified in pytest with the driver's exact comparison (rows +
schema + order-insensitive values), via the same code path
tools/check_oracle.py runs. The in-budget driver rows are the driver's
job; these are ours."""

import pytest

from lidartree_spark.queries import oracle_sql, oracle_sql_extended, queries
from tools.check_oracle import compare_one, duck_connect

SF = "/root/testdata/sf0.001"
EXTENDED = sorted(set(oracle_sql_extended()) - set(oracle_sql()))


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", EXTENDED)
def test_extended_oracle(spark, duck, name):
    err = compare_one(spark, duck, name, queries()[name],
                      oracle_sql_extended()[name], SF)
    assert err is None, f"{name}: {err}"
