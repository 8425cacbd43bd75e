"""spark-submit entry: flagship detection+matching through the
checkpoint-resumable pipeline. Rerunning after a kill resumes from the last
committed stage (see lidartree_spark/plans/checkpoint.py).

    tools/submit.sh                      # first run: computes all stages
    tools/submit.sh                      # second run: all stages 'skipped'
"""

from __future__ import annotations

import os
import sys

WORKDIR = os.environ.get("LIDARTREE_CKPT_DIR", "/tmp/lidartree_flagship_ckpt")
GRID = int(os.environ.get("LIDARTREE_GRID", "16"))


def main() -> None:
    from lidartree_spark.plans.checkpoint import Pipeline, Stage
    from lidartree_spark.session import get_spark

    spark = get_spark("lidartree-flagship")

    def s_tiles(s):
        from lidartree_spark.operators.tiles import synthetic_tiles
        return synthetic_tiles(s, GRID, GRID)

    def s_ref(s):
        from lidartree_spark.operators.tiles import synthetic_ref_trees
        return synthetic_ref_trees(s, GRID, GRID)

    def s_detect(s, tiles):
        from lidartree_spark.operators.detection import detect_trees
        from lidartree_spark.operators.halo import with_halo
        return detect_trees(with_halo(tiles, 16))

    def s_match(s, detect, ref):
        from lidartree_spark.operators.matching import match_trees
        return match_trees(ref, detect)

    p = Pipeline(spark, WORKDIR)
    status = p.run([
        Stage("tiles", s_tiles, params={"grid": GRID}),
        Stage("ref", s_ref, params={"grid": GRID}),
        Stage("detect", s_detect, inputs=["tiles"], params={"halo": 16}),
        Stage("match", s_match, inputs=["detect", "ref"]),
    ])
    n = p.read_output("match").count()
    print(f"MASTER {spark.sparkContext.master}")
    print("ARROW_BATCH "
          + spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    print(f"STATUS {status}")
    print(f"MATCHED {n}")
    spark.stop()


if __name__ == "__main__":
    main()
