"""Query registry: every implemented operator from SURVEY.md §2, declared
once as a `Query` for the driver's DuckDB cross-check.

`Query(name, spark, duck=None, driver=False)` pairs a Spark side (a SQL
string, run over the `TABLES` views, or a `(spark, sf_dir) -> DataFrame`
builder) with the DuckDB SQL that must reproduce its rows. The tier follows
from the declaration:
- rows-only (`duck is None`): the tile-pipeline operators (detection,
  segmentation, matching, coreg, gaps) that are not ANSI-SQL-expressible;
  the driver records a rows-only check and tests/ validates them against
  the numpy oracle;
- driver (`driver=True`): the rows of `oracle_sql()`, at most 50 (the
  most the driver's correctness harness records), so each one pins as
  much of §2 as possible (section-tagged composites);
- extended (every other oracle): verified by the same comparison in
  tools/check_oracle.py and tests/test_extended_oracles.py, via
  `oracle_sql_extended()`.

Conventions for byte-stable Spark<->DuckDB parity:
- prefer integer-exact arithmetic (counts, integer-valued doubles like
  l_quantity) so aggregation order cannot perturb values;
- round genuinely-float outputs to 6 decimals ON BOTH SIDES with the same
  expression shape;
- alias every computed column identically on both sides;
- cast floor()/count() results so Spark and DuckDB types agree.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def load_views(spark: SparkSession, sf_dir: str,
               tables: Iterable[str] = TABLES) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


@dataclass(frozen=True)
class Query:
    """One registry entry; see the module docstring for the tiers. `needs`
    names an input file outside the sf dir that the Spark side reads."""
    name: str
    spark: str | Callable[[SparkSession, str], DataFrame]
    duck: str | None = None
    driver: bool = False
    needs: str | None = None

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        if isinstance(self.spark, str):
            # only the views the SQL names: each is a parquet read
            load_views(spark, sf_dir, [t for t in TABLES
                                       if re.search(rf"\b{t}\b", self.spark)])
            return spark.sql(self.spark)
        return self.spark(spark, sf_dir)

    def missing_input(self) -> str | None:
        """`needs` if that file is absent, else None."""
        if self.needs and not os.path.exists(self.needs):
            return self.needs
        return None


from lidartree_spark.queries import (  # noqa: E402
    forestry,
    interchange,
    raster,
)


def _by_name(qs: list[Query]) -> dict[str, Query]:
    names = [q.name for q in qs]
    twice = sorted({n for n in names if names.count(n) > 1})
    if twice:
        raise ValueError(f"queries declared more than once: {twice}")
    return {q.name: q for q in qs}


REGISTRY = MappingProxyType(_by_name(
    forestry.QUERIES + raster.QUERIES + interchange.QUERIES))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.run for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """Driver-facing oracle set: the `driver=True` entries (at most 50)."""
    return {name: q.duck for name, q in REGISTRY.items() if q.driver}


def oracle_sql_extended() -> dict[str, str]:
    """Every oracle, driver and extended — the set tools/check_oracle.py
    and the pytest gate run."""
    return {name: q.duck for name, q in REGISTRY.items()
            if q.duck is not None}
