"""bench.py keeps its tracked per-query record for default-size runs."""

import bench


def test_only_default_sizes_write_the_tracked_record():
    assert bench.detail_relpath({}) == "BENCH/queries_latest.json"
    assert bench.detail_relpath({"SPARK_GRAFT_ISOLATED": "0"}) == \
        "BENCH/queries_latest.json"
    for k in ("SPARK_GRAFT_BENCH_GRID", "SPARK_GRAFT_SF_DIR",
              "SPARK_GRAFT_SCALING_GRID", "SPARK_GRAFT_SCALING_TRIALS",
              "SPARK_GRAFT_SCALING"):
        assert bench.detail_relpath({k: "1"}) == \
            ".bench_build/queries_latest.json", k
