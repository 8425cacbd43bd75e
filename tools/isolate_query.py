"""Isolated min-of-N timing for named registry queries (VERDICT r4/r5 ask:
distinguish real regressions from co-tenant window noise — the token_topk
lesson). Fresh session, warmup pass, min-of-N per query on an idle box.

Usage: python tools/isolate_query.py q1 q2 ... [--n 4] [--sf DIR]
Prints one JSON line {"sf_dir": .., "n": .., "queries": {name: min_sec}}.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_isolated(names, n: int = 4, sf_dir: str | None = None,
                 spark=None) -> dict:
    from lidartree_spark.queries import queries
    from lidartree_spark.session import get_spark, spark_cpus

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR",
                                      "/root/testdata/sf0.1")
    cpus = spark_cpus()
    own = spark is None
    if own:
        spark = get_spark("isolate", master=f"local[{cpus}]")
    qs = queries()

    def _warm(batches):
        import numpy  # noqa: F401
        from lidartree_spark import codecs  # noqa: F401
        from lidartree_spark.kernels import gaps, tin  # noqa: F401
        yield from batches

    spark.range(0, int(cpus) * 4, 1, int(cpus)).mapInPandas(
        _warm, "id long").count()
    out = {}
    try:
        for name in names:
            fn = qs[name]
            # first run pays codegen/JIT and is excluded from the min
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(n):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
    finally:
        if own:
            spark.stop()
    return {"sf_dir": sf_dir, "n": n, "queries": out}


if __name__ == "__main__":
    argv = sys.argv[1:]
    n, sf_dir = 4, None
    if "--n" in argv:
        i = argv.index("--n")
        n = int(argv[i + 1])
        del argv[i:i + 2]
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i:i + 2]
    print(json.dumps(run_isolated(argv, n=n, sf_dir=sf_dir)))
