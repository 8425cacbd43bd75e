"""Helpers that more than one query family builds on."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_SCRATCH: list[str] = []  # this process's scratch root, once made


def scratch_dir(prefix: str) -> str:
    """A new directory for a builder's files, under one root per process
    that is removed at interpreter exit. Builders return lazy DataFrames
    that read these files, so a directory must outlive the call."""
    if not _SCRATCH:
        root, pid = tempfile.mkdtemp(prefix="lidartree_"), os.getpid()
        # a forked child that exits must not remove its parent's files
        atexit.register(lambda: os.getpid() == pid
                        and shutil.rmtree(root, ignore_errors=True))
        _SCRATCH.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH[0])


def _lat_seq(dialect: str, lo: str, hi: str, tab: str, col: str) -> str:
    """Correlated integer-sequence lateral expansion — the dialect pair that
    replaces tiny constant CROSS JOINs (which Spark plans as
    BroadcastNestedLoopJoin) with a generator: no join operator at all."""
    if dialect == "spark":
        return f" LATERAL VIEW explode(sequence({lo}, {hi})) {tab} AS {col}"
    return f", UNNEST(generate_series({lo}, {hi})) {tab}({col})"


_MORTON_TERMS = " + ".join(
    f"((cx >> {b}) & 1) * {1 << (2 * b)} + "
    f"((cy >> {b}) & 1) * {1 << (2 * b + 1)}"
    for b in range(25))


def _spike_tiles(spark: SparkSession) -> DataFrame:
    """The analytic spike corpus both composite gates run on: a 4x4 tile
    grid (input_hint schema: image_id, bytes, w, h, fmt, caption, phash)
    of 64x64 raw_f32 tiles — flat ground with one-pixel spikes 32 px
    apart at local (8/40, 8/40), height 10 + (R*7 + C*11) % 16 for global
    spike indices (R, C). See _north_star_stats for why the detection
    chain's output on this field is closed-form."""
    import pandas as pd

    def gen(batches):
        import numpy as np
        from lidartree_spark.codecs import encode_tile
        for pdf in batches:
            out = []
            for t in pdf["id"]:
                t = int(t)
                row, col = t // 4, t % 4
                z = np.zeros((64, 64), np.float32)
                for bi in (0, 1):
                    for bj in (0, 1):
                        rr, cc = row * 2 + bi, col * 2 + bj
                        z[8 + 32 * bi, 8 + 32 * bj] = \
                            10 + (rr * 7 + cc * 11) % 16
                tid = f"t{row:04d}_{col:04d}"
                out.append({"image_id": tid,
                            "bytes": encode_tile(z, "raw_f32"),
                            "w": 64, "h": 64, "fmt": "raw_f32",
                            "caption": f"spike tile {tid}",
                            "phash": t})
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h",
                                             "fmt", "caption", "phash"])

    from lidartree_spark.operators.tiles import TILES_SCHEMA
    return spark.range(16).repartition(8).mapInPandas(gen,
                                                      schema=TILES_SCHEMA)


def _lifecycle_points(spark: SparkSession, with_class: bool = False):
    """Shared plane+spike point construction for points_lifecycle_stats
    and las_lifecycle_detect (both verify against _POINTS_LIFECYCLE_DUCK,
    so the formulas must stay byte-identical — hence ONE builder).
    Returns (ground, canopy); with_class adds the ASPRS classification
    column (2 = ground, 1 = canopy)."""
    gext = ["2 AS classification"] if with_class else []
    cext = ["1 AS classification"] if with_class else []
    ground = spark.range(128 * 128).selectExpr(
        "CAST(id % 128 AS INT) AS cx", "CAST(id DIV 128 AS INT) AS cy",
    ).selectExpr(
        "(cx + 0.5) * 0.5 AS x", "(cy + 0.5) * 0.5 AS y",
        "100.0 + 0.05 * ((cx + 0.5) * 0.5) "
        "+ 0.03 * ((cy + 0.5) * 0.5) AS z", *gext)
    canopy = spark.range(16).selectExpr(
        "CAST(id DIV 4 AS INT) AS R", "CAST(id % 4 AS INT) AS C",
    ).selectExpr(
        "CAST(64 * (C DIV 2) + 8 + 32 * (C % 2) AS INT) AS cx",
        "CAST(64 * (R DIV 2) + 55 - 32 * (R % 2) AS INT) AS cy",
        "CAST(10 + (R * 7 + C * 11) % 16 AS DOUBLE) AS hh",
    ).selectExpr(
        "(cx + 0.5) * 0.5 AS x", "(cy + 0.5) * 0.5 AS y",
        "100.0 + 0.05 * ((cx + 0.5) * 0.5) "
        "+ 0.03 * ((cy + 0.5) * 0.5) + hh AS z", *cext)
    return ground, canopy
