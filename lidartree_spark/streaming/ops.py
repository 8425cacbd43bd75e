"""Structured Streaming tile ingestion -> detection with checkpoint-resume.

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

from pyspark.sql import DataFrame, SparkSession

from lidartree_spark.operators.tiles import TILES_SCHEMA


def stream_tiles(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a directory of tile parquet files."""
    return spark.readStream.schema(TILES_SCHEMA).parquet(src_dir)


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
