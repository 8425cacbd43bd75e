"""SparkSession factory with scale-oriented defaults.

Tuned for the tile workload: wide binary rows (~16 KB payloads), grouped-map
pandas UDFs over Arrow, shuffle-heavy spatial joins. On a real cluster the
same config applies per-executor. The master defaults to local[N], except
under spark-submit, where --master decides. This is the single source of
the engine's Spark config: tools/submit.sh passes only --master and
--py-files, and its jobs call get_spark.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_cpus() -> str:
    """SPARK_GRAFT_CPUS, the N of the default local[N] master."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app: str = "lidartree_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # One BLAS/OpenMP thread per Python worker: Spark supplies the
    # parallelism (one task per core); multithreaded numpy inside each of N
    # workers oversubscribes to N^2 threads and *inverts* scaling (measured
    # local[8] faster than local[32] before this pin). Set here (inherited by
    # locally-spawned workers) AND via spark.executorEnv for real clusters.
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    cpus = spark_cpus()
    shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(max(32, int(cpus) if cpus.isdigit() else 32))))
    b = (
        SparkSession.builder.appName(app)
        # AQE: runtime coalescing + skew-join splitting — the safety net for
        # skewed (cell_id, tile_id) shuffles at 100 TB (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Grouped-map UDF stages have huge compute-per-shuffle-byte: a few MB
        # of tree rows fan out to seconds of per-group numpy. Default 1 MB
        # minPartitionSize lets AQE coalesce such a shuffle to ~1 partition
        # and serialize the whole matching stage (measured 20s -> 6s fix).
        # Large scans/joins still coalesce via the 64 MB advisory size.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow transfer for pandas UDFs; tiles are ~16KB rows so cap batch
        # rows to keep per-batch memory ~ tens of MB.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # 128 MB input splits: good parquet scan granularity for wide rows.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # Under spark-submit (the only launcher that sets PYSPARK_GATEWAY_PORT
    # for the driver) a builder .master() would override --master, so the
    # default is left to the launcher there.
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(master or f"local[{cpus}]")
    return b.getOrCreate()
