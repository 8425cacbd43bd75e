"""Structured Streaming tile detection: stream==batch parity,
checkpoint-resume exactly-once, and the checkpoint's resumable layout."""

import glob

from lidartree_spark.streaming.ops import (
    stream_detect_to_parquet,
    stream_tiles,
)


def test_stream_detect_matches_batch_and_resumes(spark, tmp_path):
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.tiles import synthetic_tiles

    src = tmp_path / "tiles_src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    synthetic_tiles(spark, 3, 3).write.parquet(str(src))

    stream_detect_to_parquet(stream_tiles(spark, str(src)), sink, ckpt)
    got = spark.read.parquet(sink)
    batch = detect_trees(spark.read.parquet(str(src)))
    key = lambda r: (r.image_id, r.id)  # noqa: E731
    assert sorted(map(key, got.collect())) == \
        sorted(map(key, batch.collect()))

    # resume with the same checkpoint: all source files are already in the
    # file-source log, so the second run commits nothing (exactly-once)
    n_before = got.count()
    stream_detect_to_parquet(stream_tiles(spark, str(src)), sink, ckpt)
    assert spark.read.parquet(sink).count() == n_before


def test_streaming_checkpoint_layout(spark, tmp_path):
    """The checkpoint directory carries the file-source log + commits —
    the artifacts that make a killed run resumable."""
    from lidartree_spark.operators.tiles import synthetic_tiles
    src, sink, ckpt = (tmp_path / "s"), str(tmp_path / "k"), \
        str(tmp_path / "c")
    synthetic_tiles(spark, 2, 2).write.parquet(str(src))
    stream_detect_to_parquet(stream_tiles(spark, str(src)), sink, ckpt)
    assert glob.glob(f"{ckpt}/sources/0/*")
    assert glob.glob(f"{ckpt}/commits/*")
