"""Structured Streaming operators: streaming tile ingestion -> detection
with checkpoint-resume, watermarked event-time windowed aggregation, and a
custom stateful operator (applyInPandasWithState).

The reference is a batch engine; these are the streaming re-expressions of
its pipeline for a corpus that ARRIVES over time (the continuous-ingest
shape of a 10^12-image table): the file source discovers new tile files
per micro-batch, detection is the SAME stateless mapInPandas stage the
batch path uses (stateless stages are batch/stream agnostic in Spark), the
sink is exactly-once via the checkpoint's file-source log + parquet sink
commit protocol — a killed run restarts from the last committed batch
without recomputing finished files (the north rule's resumability, here
enforced by Spark itself rather than plans/checkpoint.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.operators.tiles import TILES_SCHEMA

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def stream_tiles(spark: SparkSession, src_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of tile parquet files."""
    r = spark.readStream.schema(TILES_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def stream_detect_to_parquet(tiles_stream: DataFrame, sink_dir: str,
                             checkpoint_dir: str):
    """Streaming detection: the batch detect_trees stage applied per
    micro-batch, parquet sink, checkpointed. Returns the finished query
    (availableNow: processes everything currently in the source, then
    stops — the batch-equivalent trigger used by tests and backfills)."""
    from lidartree_spark.operators.detection import detect_trees
    det = detect_trees(tiles_stream)
    q = (det.writeStream.format("parquet")
         .option("path", sink_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_events(spark: SparkSession, src_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def windowed_event_stats(events: DataFrame, window: str = "6 hours",
                         watermark: str = "1 hour") -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data
    (integer-exact count + ROUND(sum, 6), so a SQL oracle can re-derive
    it). Works on both a stream (update/complete sinks) and a batch frame
    (the watermark is a no-op there) — used both ways in the driver gate."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "n", "sum_value"))


def dedup_stream(events: DataFrame, keys: tuple[str, ...] = ("event_id",),
                 watermark: str | None = None,
                 time_col: str = "ts") -> DataFrame:
    """Streaming exactly-once deduplication: the seen-key set is STATE that
    carries across micro-batches, so a duplicate arriving in a later batch
    (a re-delivered Kafka record, a re-uploaded file) is dropped — which
    no batch-local distinct can do. With watermark=None the state is
    unbounded (exact; right for bounded backfills). For continuous
    pipelines pass a watermark: dropDuplicatesWithinWatermark bounds state
    to the late-data horizon, the only shape that survives an infinite
    stream (`time_col` names the event-time column it bounds on).
    Driver gate: queries.streaming_dedup."""
    if watermark is not None:
        return (events.withWatermark(time_col, watermark)
                .dropDuplicatesWithinWatermark(list(keys)))
    return events.dropDuplicates(list(keys))


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count + value total carried in state ACROSS micro-batches — the
    state survives a batch boundary, which no stateless stage can do.
    Emits one row per user per batch with the cumulative totals."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n long, total double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame([{"user_id": key[0], "n": n, "total": total}])

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))
