"""Per-layer measurement for the traced run, taken from outside the engine.

- Spans: (name, start, end, parent, run id) around every call the benchmark
  makes into a layer, kept in memory and written when the run ends.
- Kernel replay: the public kernels called in tree_segmentation's order on a
  fixed sample of the workload's tiles, in the driver process.
- Operator jobs: each operator on the workload's inputs into a noop sink;
  match_trees on the match job's inputs.
- Spark task metrics: read from the event log, which the traced run turns
  on through a benchmark-owned SPARK_CONF_DIR.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

MATCH_REPS = 5  # tree_matching calls per group: one call is ~0.1 ms
REPLAY_TILES = 144  # replayed tiles at least: the pool, several rounds


class Spans:
    """In-memory span log of one process."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.items), "name": name,
               "parent": self._open[-1] if self._open else None,
               "run": self.run_id, "start": time.time(), "end": None}
        self.items.append(rec)
        self._open.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._open.pop()


def replay_kernels(wl, spans: Spans) -> dict:
    """Time every public kernel call of tree_segmentation, in its order, on
    the workload's pool tiles (REPLAY_TILES at least, in rounds); also the
    whole call, extraction and matching. The replayed labels must equal the
    whole call's, or this raises."""
    from lidartree_spark.generator import gen_ref_trees, parse_tile_id
    from lidartree_spark.kernels.detection import (
        dem_filtering,
        maxima_detection,
        maxima_selection,
    )
    from lidartree_spark.kernels.matching import tree_matching
    from lidartree_spark.kernels.segmentation import (
        raster_zonal_stats,
        seg_adjust,
        segmentation,
        tree_segmentation,
    )
    from lidartree_spark.operators.detection import DEFAULT_PARAMS as P
    from workloads import oracle_trees

    def parts(chm):
        with spans.span("replay.tree_segmentation"):
            a = np.nan_to_num(np.asarray(chm, dtype=np.float64), nan=0.0)
            with spans.span("kernels.detection.dem_filtering"):
                f = dem_filtering(a, nl_filter=P["nl_filter"],
                                  nl_size=P["nl_size"], sigma=P["sigma"],
                                  res=P["res"])
            nl, gs = f["non_linear_image"], f["smoothed_image"]
            with spans.span("kernels.detection.maxima"):
                maxi = maxima_detection(gs, res=P["res"],
                                        max_width=P["max_width"])
                maxi = maxima_selection(maxi, nl, hmin=0.0, dmin=P["dmin"],
                                        dprop=P["dprop"])
            seeds = int((maxi > 0).sum())
            with spans.span("kernels.segmentation.watershed"):
                dem_w = segmentation(maxi, nl)
            with spans.span("kernels.segmentation.zonal_adjust"):
                dem_wh = raster_zonal_stats(dem_w, nl, fun=np.max)
                dem_w = seg_adjust(dem_w, dem_wh, nl, prop=P["prop"],
                                   min_value=P["min_value"],
                                   min_maxvalue=P["hmin"])
                maxi = maxi.copy()
                maxi[dem_w == 0] = 0.0
        return maxi, dem_w, seeds

    def whole(chm):
        with spans.span("kernels.segmentation.tree_segmentation"):
            return tree_segmentation(chm, **P)

    n = dict(tiles=0, seeds=0, kept=0, trees=0, groups=0, refs=0, matched=0)
    rounds = -(-REPLAY_TILES // len(wl.pool))
    for k, iid in enumerate(wl.pool * rounds):
        with spans.span("codecs.decode"):
            wl.decoded(iid)
        chm = wl.kernel_input(iid)
        # alternate which of the two runs first, so neither always finds
        # warm caches
        if k % 2:
            seg = whole(chm)
            maxi, dem_w, seeds = parts(chm)
        else:
            maxi, dem_w, seeds = parts(chm)
            seg = whole(chm)
        if not (np.array_equal(maxi, seg["local_maxima"])
                and np.array_equal(dem_w, seg["segments_id"])):
            raise RuntimeError(f"kernel replay of {iid} differs from "
                               f"tree_segmentation")
        with spans.span("kernels.extraction"):
            trees = oracle_trees(iid, chm, wl.pad, seg)
        refs = gen_ref_trees(*parse_tile_id(iid))
        n["tiles"] += 1
        n["seeds"] += seeds
        n["kept"] += int((seg["local_maxima"] > 0).sum())
        n["trees"] += len(trees)
        n["refs"] += len(refs)
        if refs and trees:
            lr = np.array([[t["x"], t["y"], t["h"]] for t in refs])
            ld = np.array([[t["x"], t["y"], t["h"]] for t in trees])
            with spans.span("kernels.matching"):
                for _ in range(MATCH_REPS):
                    m = tree_matching(lr, ld)
            n["groups"] += 1
            n["matched"] += len(m)
    return n


def operator_jobs(spark, wl, tmp: str, spans: Spans) -> dict:
    """Each operator as its own job on the workload's inputs, then the
    workload's chain through the checkpoint layer. Returns the manifests."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.halo import with_halo
    from lidartree_spark.operators.matching import match_trees
    from lidartree_spark.operators.tiles import read_tiles
    from lidartree_spark.plans.checkpoint import Pipeline
    from workloads import HALO_PX

    c, sc = wl.corpus, spark.sparkContext

    def run(name, action):
        sc.setJobDescription(name)
        try:
            with spans.span(name):
                return action()
        finally:
            sc.setJobDescription(None)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def tiles():
        return read_tiles(spark, c.tiles)

    run("operators.tiles.scan", lambda: noop(tiles()))
    run("operators.halo.with_halo", lambda: noop(with_halo(tiles(), HALO_PX)))
    det_in = tiles
    if wl.pad:
        padded = os.path.join(tmp, "padded")
        run("operators.halo.write",
            lambda: with_halo(tiles(), wl.pad).write.parquet(padded))
        det_in = lambda: spark.read.parquet(padded)  # noqa: E731
    run("operators.detection.detect_trees", lambda: noop(detect_trees(det_in())))
    stages = wl.stages()
    dets = os.path.join(tmp, "dets")
    run("plans.checkpoint.plain_write",
        lambda: stages[0].fn(spark).write.parquet(dets))
    run("operators.matching.match_trees",
        lambda: noop(match_trees(spark.read.parquet(c.match_ref),
                                 spark.read.parquet(c.match_det))))
    pipe = Pipeline(spark, os.path.join(tmp, "ckpt"))
    run("plans.checkpoint.pipeline", lambda: pipe.run(stages))
    return {s.name: pipe.read_manifest(s.name) for s in stages}


def spark_conf(conf_dir: str, log_dir: str | None, tmp: str) -> None:
    """Write the benchmark's spark-defaults.conf: JVM temp files stay in the
    run's directory, memory settings stay the engine's own; with `log_dir`,
    Spark also writes its event log."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}"]
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{log_dir}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job description, from every event log file
    in `log_dir` (one per SparkContext)."""
    stage_desc: dict[tuple, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
        "fetch_wait_ms": 0, "stage_run_ms": defaultdict(list)})
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[(fname, sid)] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get((fname, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    o = out[desc]
                    o["tasks"] += 1
                    o["run_ms"] += m.get("Executor Run Time", 0)
                    o["gc_ms"] += m.get("JVM GC Time", 0)
                    o["shuffle_write_bytes"] += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    o["fetch_wait_ms"] += (m.get(
                        "Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0)
                    o["stage_run_ms"][f"{fname}:{ev['Stage ID']}"].append(
                        m.get("Executor Run Time", 0))
    return {k: {**v, "stage_run_ms": dict(v["stage_run_ms"])}
            for k, v in out.items()}
