"""Local replica of the driver's correctness gate: run each registry entry
on Spark and its oracle on DuckDB over the same sf dir; compare row-count,
column names, and order-insensitive values. Checks the EXTENDED oracle set
(the driver-facing set plus the locally-verified variants). An entry whose
input file (`Query.needs`) is absent is skipped, not failed.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
A name that is not in the registry exits 2 before Spark starts.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr = shortest round-trip decimal — full-precision compare, so
        # the local gate sees exactly what the driver's value hash sees
        # (the %.9g it replaced masked a last-ulp coreg mismatch in r3).
        return repr(v)
    return str(v)


def duck_connect(sf_dir: str):
    import duckdb

    from lidartree_spark.queries import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_one(spark, con, name: str, fn, sql: str | None,
                sf_dir: str) -> str | None:
    """One driver-style comparison. Returns None when the gate passes (or
    is rows-only), else a failure description — the exact rows/schema/
    order-insensitive-values checks the driver records."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = sdf.collect()
    except Exception as e:  # noqa: BLE001 — report, don't crash the sweep
        return f"spark error {type(e).__name__}: {e}"
    if sql is None:
        return None
    try:
        dres = con.execute(sql)
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"duckdb error: {e}"
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return f"schema {scols} vs {dcols}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    sset = sorted("|".join(norm(r[i]) for i in order) for r in srows)
    dset = sorted("|".join(norm(r[i]) for i in order) for r in drows)
    if sset != dset:
        bad = next((a, b) for a, b in zip(sset, dset) if a != b)
        return f"values differ, e.g.\n  spark {bad[0]}\n  duck  {bad[1]}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from lidartree_spark.queries import REGISTRY
    unknown = sorted(only - set(REGISTRY))
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2

    from lidartree_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]")
    con = duck_connect(sf_dir)

    failures = []
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        missing = q.missing_input()
        if missing:
            print(f"skip {name}: missing {missing}")
            continue
        err = compare_one(spark, con, name, q.run, q.duck, sf_dir)
        if err is not None:
            failures.append((name, err))
            print(f"FAIL {name}: {err}")
        elif q.duck is None:
            print(f"ok   {name}: rows-only")
        else:
            print(f"ok   {name}: rows match")
    print(f"\n{len(failures)} failures")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
