"""Distributed tree matching: grid-bucketed candidate pruning + per-group
greedy assignment, plus confusion counts and height regression aggregates.

Scale design (SURVEY.md §2.6): the greedy assignment is sequential per group
but groups are small (one tile/plot: ~10 trees), so the engine shuffles once
on the group key and matches every group of an Arrow batch in one pass
(kernels.matching.match_groups: all candidate pairs at once, one sort, one
scan that makes the reference loop's picks in its order).
match_trees: one hash shuffle, rows sorted by (key, side) within partitions,
then the batched grouped map of `whole_groups`; the group key is the skew
unit and AQE covers hot spots.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MATCH_SCHEMA = ("image_id string, r long, d long, h_diff double, "
                "plan_diff double")


def whole_groups(batches: Iterator[pd.DataFrame], key: str
                 ) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """Batched grouped map over Arrow batches sorted by `key`: yields
    (pdf, starts), pdf holding whole groups only and group i being rows
    starts[i]:starts[i + 1]. A group costs a numpy slice, not an Arrow
    round trip. Groups can span batches: the trailing group of every batch
    is carried into the next, so memory stays O(batch), not O(partition)."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if pdf.empty:
            continue
        keys = pdf[key].to_numpy()
        cut = len(keys) - int((keys == keys[-1]).sum())
        carry = pdf.iloc[cut:]
        if cut:
            yield pdf.iloc[:cut], _starts(keys[:cut])
    if carry is not None:
        yield carry, _starts(carry[key].to_numpy())


def _starts(keys: np.ndarray) -> np.ndarray:
    return np.concatenate(
        [[0], np.nonzero(keys[1:] != keys[:-1])[0] + 1, [len(keys)]])


def match_trees(ref: DataFrame, det: DataFrame,
                delta_ground: float = 2.1, h_prec: float = 0.14,
                key: str = "image_id") -> DataFrame:
    """Greedy min-cost 1-to-1 matching per group (exact tree_match.R:47-103
    semantics incl. tie-break; see kernels.matching). `ref` needs columns
    (key, tree_id, x, y, h); `det` needs (key, id, x, y, h).
    Output r/d are the 1-based within-group indices in input order (sorted by
    tree_id / id for determinism), matching the reference's row indices.
    A NaN pair cost fails the job with a ValueError naming the group."""

    # whole_groups, not a cogroup: the cogroup path paid ~2-4 ms of Arrow
    # conversion per group, dominating matching time at ~10 trees/group.
    r = ref.selectExpr(f"`{key}` AS k", "0 AS side",
                       "CAST(tree_id AS BIGINT) AS oid", "x", "y", "h")
    d = det.selectExpr(f"`{key}` AS k", "1 AS side",
                       "CAST(id AS BIGINT) AS oid", "x", "y", "h")
    u = (r.unionByName(d)
         .repartition("k")
         .sortWithinPartitions("k", "side", "oid"))

    def run(batches):
        from lidartree_spark.kernels.matching import match_groups
        for pdf, starts in whole_groups(batches, "k"):
            keys = pdf["k"].to_numpy()
            xyz = pdf[["x", "y", "h"]].to_numpy(dtype=np.float64)
            a = starts[:-1]
            # rows are sorted by side within a group: refs (side 0) first
            n_ref = np.add.reduceat(
                (pdf["side"].to_numpy() == 0).astype(np.int64), a)
            g, ri, di = match_groups(xyz, starts, n_ref,
                                     delta_ground=delta_ground,
                                     h_prec=h_prec, keys=keys[a])
            if len(g):
                yield pd.DataFrame({
                    "image_id": keys[ri],
                    "r": ri - a[g] + 1,
                    "d": di - a[g] - n_ref[g] + 1,
                    "h_diff": xyz[di, 2] - xyz[ri, 2],
                    "plan_diff": np.hypot(xyz[di, 0] - xyz[ri, 0],
                                          xyz[di, 1] - xyz[ri, 1])})

    return u.mapInPandas(run, schema=MATCH_SCHEMA)


def detection_counts(ref: DataFrame, det: DataFrame, matched: DataFrame,
                     key: str = "image_id") -> DataFrame:
    """hist_detection confusion counts per group (tree_match.R:201-232) as
    pure aggregates: TP = matches, FN = refs - TP, FP = dets - TP."""
    tp = matched.groupBy(key).agg(F.count("*").alias("true_detections"))
    nr = ref.groupBy(key).agg(F.count("*").alias("n_ref"))
    nd = det.groupBy(key).agg(F.count("*").alias("n_det"))
    return (nr.join(nd, key, "full").join(tp, key, "left")
            .na.fill(0, ["true_detections", "n_ref", "n_det"])
            .select(
                key,
                F.col("true_detections"),
                (F.col("n_det") - F.col("true_detections")).alias("false_detections"),
                (F.col("n_ref") - F.col("true_detections")).alias("omissions")))


def height_regression(matched: DataFrame, ref: DataFrame, det: DataFrame,
                      key: str = "image_id") -> DataFrame:
    """Closed-form lm(Hm ~ Hl) + rmse/bias/sd over all matched pairs
    (tree_match.R:303-353) — one aggregate query, no UDF. `matched` carries
    h_diff = Hl - Hm, so stats need only that column plus joined heights."""
    # reconstruct pair heights by joining on within-group indices
    r_idx = ref.select(
        key, "x", "y", "h",
        F.row_number().over(_w(key, "tree_id")).alias("r")).withColumnRenamed("h", "h_ref")
    d_idx = det.select(
        key, "x", "y", "h",
        F.row_number().over(_w(key, "id")).alias("d")).withColumnRenamed("h", "h_det")
    pairs = (matched.join(r_idx.select(key, "r", "h_ref"), [key, "r"])
             .join(d_idx.select(key, "d", "h_det"), [key, "d"]))
    n = F.count("*")
    mx, my = F.avg("h_det"), F.avg("h_ref")
    sxy = F.avg(F.col("h_det") * F.col("h_ref")) - mx * my
    sxx = F.avg(F.col("h_det") * F.col("h_det")) - mx * mx
    d = F.col("h_det") - F.col("h_ref")
    return pairs.agg(
        n.alias("n"),
        (sxy / sxx).alias("slope"),
        (my - (sxy / sxx) * mx).alias("intercept"),
        F.sqrt(F.avg(d * d)).alias("rmse"),
        F.avg(d).alias("bias"),
        F.stddev_samp(d).alias("sd"),
    )


def _w(key: str, order: str):
    from pyspark.sql import Window
    return Window.partitionBy(key).orderBy(order)
