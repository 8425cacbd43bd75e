"""Structured Streaming gates: the STREAM's result (memory sink,
availableNow) is compared against a plain batch SQL oracle — on bounded
input a correct streaming aggregation must equal the batch answer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.queries import Query
from lidartree_spark.queries.shared import scratch_dir


def _stage_events(spark: SparkSession, sf_dir: str, n_files: int = 1,
                  overlap: int = 0) -> str:
    """Copy events.parquet into a temp dir (file-source streams read
    directories); n_files > 1 splits it so maxFilesPerTrigger can force
    multiple micro-batches. overlap > 0 ALSO appends the first `overlap`
    rows of the next chunk to each file (the last wraps to chunk 0's
    head) — real duplicate rows arriving in different micro-batches, the
    streaming_dedup gate's input."""
    import shutil

    import pandas as pd
    d = scratch_dir("lidartree_stream_src_")
    if n_files == 1 and not overlap:
        shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-0.parquet")
        return d
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")
    step = (len(pdf) + n_files - 1) // n_files
    chunks = [pdf.iloc[i * step:(i + 1) * step] for i in range(n_files)]
    for i, ch in enumerate(chunks):
        if overlap:
            ch = pd.concat([ch, chunks[(i + 1) % n_files].head(overlap)])
        ch.to_parquet(f"{d}/part-{i}.parquet", index=False)
    return d


def _run_stream(spark: SparkSession, df: DataFrame, prefix: str,
                mode: str) -> DataFrame:
    """Shared memory-sink harness for the streaming gates: unique query
    name, shuffle.partitions pinned to 8 for the stream lifetime (the
    state store instantiates one provider per shuffle partition per
    micro-batch — at gate volume 32 partitions is pure commit latency; on
    a real cluster this knob is sized to executor count), availableNow
    trigger, conf restored afterwards. Partition count binds at query
    START, so setting it here (after the caller built the plan) is what
    the stream actually runs with."""
    import uuid
    name = prefix + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed aggregation, run as a real stream
    (file source -> complete-mode memory sink, availableNow trigger)."""
    from lidartree_spark.streaming.ops import (
        stream_events,
        windowed_event_stats,
    )
    src = _stage_events(spark, sf_dir)
    return _run_stream(spark, windowed_event_stats(stream_events(spark, src)),
                       "win_", "complete")


_STREAM_WINDOWED_DUCK = """
SELECT CAST(FLOOR(EPOCH(ts) / 21600) * 21600 AS BIGINT) AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def _streaming_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) over three forced
    micro-batches; the final cumulative per-user state must equal the batch
    GROUP BY — the oracle only matches if state really carried across
    batch boundaries."""
    from lidartree_spark.streaming.ops import (
        running_user_totals,
        stream_events,
    )
    src = _stage_events(spark, sf_dir, n_files=3)
    res = _run_stream(
        spark,
        running_user_totals(stream_events(spark, src,
                                          max_files_per_trigger=1)),
        "tot_", "update")
    # update mode appends one row per (user, batch); the final state is the
    # row with the highest running count
    return (res
            .groupBy("user_id")
            .agg(F.max("n").cast("long").alias("n"),
                 F.round(F.max_by("total", "n"), 6).alias("total")))


_STREAM_TOTALS_DUCK = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS total
FROM events GROUP BY user_id
"""

def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (streaming/ops.dedup_stream): three
    micro-batches whose files OVERLAP (150 duplicate rows, each arriving
    one-or-two batches after its original), so only dedup state that
    carries across batch boundaries reproduces the batch answer. n ==
    n_ids per group proves no duplicate survived; matching the oracle's
    full-table counts proves nothing was over-dropped."""
    from lidartree_spark.streaming.ops import dedup_stream, stream_events
    src = _stage_events(spark, sf_dir, n_files=3, overlap=50)
    res = _run_stream(
        spark,
        dedup_stream(stream_events(spark, src, max_files_per_trigger=1)),
        "dd_", "append")
    return (res
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.countDistinct("event_id").cast("long").alias("n_ids"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


_STREAM_DEDUP_DUCK = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY event_type
"""


QUERIES = [
    Query("streaming_windowed_events", _streaming_windowed,
          _STREAM_WINDOWED_DUCK, driver=True),
    Query("streaming_running_totals", _streaming_totals,
          _STREAM_TOTALS_DUCK, driver=True),
    Query("streaming_dedup", _streaming_dedup,
          _STREAM_DEDUP_DUCK, driver=True),
]
