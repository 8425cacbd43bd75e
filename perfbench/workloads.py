"""The benchmark's workloads: corpus, job and output checks for each.

Inputs come from ``lidartree_spark.generator`` (``gen_tile_row`` /
``gen_ref_trees``: five codecs, NaN holes, gaps) on a tile grid whose origin
the run's seed picks, so each seed gives a different tile set with the same
statistics. Every job is what a user would submit through the engine's
public API, and every job's output is checked:

- sampled groups are recomputed in-process with the public kernels
  (decode_tile -> tree_segmentation -> tree_extraction -> tree_matching) and
  compared exactly on (image_id, r, d, h_diff, plan_diff);
- the full output's row count and digest must equal the first job's of the
  same kind.

Each workload has two kinds of job: its own chain, and ``match``:
``match_trees(ref, det)`` alone, on plain detections of the same tiles that
set-up wrote once, copied under distinct group keys (``g<k>_<tile index>``,
see Corpus.copy_id) up to MATCH_GROUPS groups. No image kernel runs in a
match job, so a kernel speedup must leave its time unchanged; shuffle, sort
and the greedy matcher do all its work.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
import pandas as pd

from lidartree_spark.codecs import decode_tile
from lidartree_spark.generator import (
    gen_ref_trees,
    gen_tile_row,
    parse_tile_id,
    tile_origin,
)
from lidartree_spark.kernels.extraction import tree_extraction
from lidartree_spark.kernels.matching import tree_matching
from lidartree_spark.kernels.segmentation import tree_segmentation
from lidartree_spark.operators.detection import DEFAULT_PARAMS, detect_trees
from lidartree_spark.operators.halo import with_halo
from lidartree_spark.operators.matching import match_trees
from lidartree_spark.operators.tiles import read_tiles
from lidartree_spark.plans.checkpoint import Pipeline, Stage

HALO_PX = 16
POOL = 48     # tiles whose inputs the checks and the kernel replay keep
SAMPLE = 6    # pool tiles recomputed in-process after every job
FILES = 16    # parquet files per input table
MATCH_GROUPS = 3200  # groups of a match job at least: 12x flagship's tiles
REF_COLS = ["image_id", "tree_id", "x", "y", "h", "d", "s", "e", "t"]
MATCH_COLS = ["image_id", "r", "d", "h_diff", "plan_diff"]


def grid_origin(seed: int) -> tuple[int, int]:
    """(row0, col0) of a run's tile grid: the only thing the seed moves."""
    rng = random.Random(seed)
    return rng.randrange(1, 50_000), rng.randrange(1, 50_000)


def tile_id(row: int, col: int) -> str:
    return f"t{row:04d}_{col:04d}"


def digest(pdf: pd.DataFrame) -> str:
    """Order-independent, bit-exact digest of matched rows."""
    s = pdf.sort_values(["image_id", "r", "d"], kind="mergesort")
    h = hashlib.sha256("\n".join(s["image_id"]).encode())
    for c in ("r", "d"):
        h.update(s[c].to_numpy(np.int64).tobytes())
    for c in ("h_diff", "plan_diff"):
        h.update(s[c].to_numpy(np.float64).tobytes())
    return h.hexdigest()[:16]


def group_rows(pdf: pd.DataFrame, image_id: str) -> list[tuple]:
    g = pdf[pdf["image_id"] == image_id]
    return sorted((str(a), int(r), int(d), float(hd), float(pd_))
                  for a, r, d, hd, pd_ in g[MATCH_COLS].itertuples(index=False))


def oracle_trees(image_id: str, chm: np.ndarray, pad: int,
                 seg: dict | None = None) -> list[dict]:
    """detect_trees' per-tile result, computed in-process: segmentation (or
    the given `seg`) and extraction on a (possibly halo-padded) tile,
    crop-to-core, sorted by id."""
    res = DEFAULT_PARAMS["res"]
    row, col = parse_tile_id(image_id)
    if seg is None:
        seg = tree_segmentation(chm, **DEFAULT_PARAMS)
    h_core, w_core = chm.shape[0] - 2 * pad, chm.shape[1] - 2 * pad
    x0, y1 = tile_origin(row, col, w_core, h_core, res)
    rows = tree_extraction(seg["filled_dem"], seg["local_maxima"],
                           seg["segments_id"], x0=x0 - pad * res,
                           y1=y1 + pad * res, res=res)
    if pad:
        x1, y0 = x0 + w_core * res, y1 - h_core * res
        rows = [r for r in rows if x0 <= r["x"] < x1 and y0 <= r["y"] < y1]
    return sorted(rows, key=lambda r: r["id"])


def oracle_matches(image_id: str, trees: list[dict]) -> list[tuple]:
    """match_trees' rows for one group, computed in-process."""
    row, col = parse_tile_id(image_id)
    refs = gen_ref_trees(row, col)
    if not refs or not trees:
        return []
    lr = np.array([[t["x"], t["y"], t["h"]] for t in refs])
    ld = np.array([[t["x"], t["y"], t["h"]] for t in trees])
    return sorted((image_id, int(m["r"]), int(m["d"]), float(m["h_diff"]),
                   float(m["plan_diff"])) for m in tree_matching(lr, ld))


class Corpus:
    """One run's inputs on disk: tiles, reference inventory, the plain
    detections (detect_trees without halo) made once during set-up, and the
    match job's copies of the last two."""

    def __init__(self, data_dir: str, seed: int, rows: int, cols: int):
        self.tiles = os.path.join(data_dir, "tiles")
        self.ref = os.path.join(data_dir, "ref")
        self.det = os.path.join(data_dir, "det")
        self.match_ref = os.path.join(data_dir, "match_ref")
        self.match_det = os.path.join(data_dir, "match_det")
        self.row0, self.col0 = grid_origin(seed)
        self.rows, self.cols = rows, cols
        # copies of each tile's group in the match tables
        self.copies = -(-MATCH_GROUPS // self.n_tiles)

    def copy_id(self, image_id: str, k: int) -> str:
        """Group key of copy `k` of a tile's group in the match tables. It
        names the tile by its place in the grid, not by its id, so the keys,
        and with them the match shuffle's hash partitions, are the same on
        every seed: only the trees in the groups change."""
        row, col = parse_tile_id(image_id)
        return f"g{k:03d}_{(row - self.row0) * self.cols + col - self.col0:05d}"

    @property
    def n_tiles(self) -> int:
        return self.rows * self.cols

    def ids(self) -> list[str]:
        return [tile_id(self.row0 + r, self.col0 + c)
                for r in range(self.rows) for c in range(self.cols)]

    def generate(self, spark) -> None:
        """Write the tiles and the reference inventory as FILES parquet
        files each (so a scan splits like a real corpus), then detect_trees'
        output for the whole corpus, then the match tables."""

        def write(df, path):
            os.makedirs(path)
            ids = df["image_id"].unique()
            for k, part in enumerate(np.array_split(ids, FILES)):
                df[df["image_id"].isin(part)].to_parquet(
                    os.path.join(path, f"part-{k:03d}.parquet"), index=False)

        def copies(df):
            return pd.concat([
                df.assign(image_id=[self.copy_id(i, k)
                                   for i in df["image_id"]])
                for k in range(self.copies)])

        cells = [(self.row0 + r, self.col0 + c)
                 for r in range(self.rows) for c in range(self.cols)]
        tiles = pd.DataFrame([gen_tile_row(r, c) for r, c in cells]).astype(
            {"w": "int32", "h": "int32"})
        ref = pd.DataFrame([t for r, c in cells for t in gen_ref_trees(r, c)],
                           columns=REF_COLS).astype({"e": "int32",
                                                     "t": "int32"})
        write(tiles, self.tiles)
        write(ref, self.ref)
        detect_trees(read_tiles(spark, self.tiles)).write.parquet(self.det)
        write(copies(ref), self.match_ref)
        write(copies(pd.read_parquet(self.det)), self.match_det)


class Workload:
    """A job over a corpus plus the checks its output must pass."""

    pad = 0

    def __init__(self, corpus: Corpus, tmp: str, seed: int):
        self.corpus = corpus
        self.tmp = tmp
        self.seed = seed
        self.expect: dict[str, tuple[int, str]] = {}
        self.pool: list[str] = []
        self.payloads: dict[str, tuple] = {}

    # -- inputs kept for the checks and the kernel replay ---------------------
    def pool_candidates(self) -> list[str]:
        return self.corpus.ids()

    def load_pool(self) -> None:
        cands = self.pool_candidates()
        rng = random.Random(self.seed)
        self.pool = rng.sample(cands, min(POOL, len(cands)))
        need = sorted(set(self.needed_ids(self.pool)))
        pdf = pd.read_parquet(self.corpus.tiles,
                              columns=["image_id", "bytes", "w", "h", "fmt"],
                              filters=[("image_id", "in", need)])
        self.payloads = {r.image_id: (r.bytes, r.fmt, r.w, r.h)
                         for r in pdf.itertuples(index=False)}

    def needed_ids(self, pool: list[str]) -> list[str]:
        return pool

    def decoded(self, image_id: str) -> np.ndarray:
        b, fmt, w, h = self.payloads[image_id]
        return decode_tile(b, fmt, w, h)

    def kernel_input(self, image_id: str) -> np.ndarray:
        """The array detect_trees segments for this tile."""
        return self.decoded(image_id)

    # -- the job --------------------------------------------------------------
    def stages(self) -> list[Stage]:
        """This workload's chain as checkpointed stages: detect (on halo-
        padded tiles when the workload pads) then match."""
        c, pad = self.corpus, self.pad

        def s_detect(s):
            tiles = read_tiles(s, c.tiles)
            return detect_trees(with_halo(tiles, pad) if pad else tiles)

        def s_match(s, detect):
            return match_trees(s.read.parquet(c.ref), detect)

        return [Stage("detect", s_detect, params={"halo": pad}),
                Stage("match", s_match, inputs=["detect"])]

    def job(self, spark):
        raise NotImplementedError

    def match_job(self, spark) -> pd.DataFrame:
        c = self.corpus
        return match_trees(spark.read.parquet(c.match_ref),
                           spark.read.parquet(c.match_det)).toPandas()

    def output(self, spark, res) -> tuple[pd.DataFrame, list[str]]:
        """(matched rows, errors) of a finished chain job; the untimed
        part."""
        return res, []

    # -- checks ---------------------------------------------------------------
    def sample(self, j: int) -> list[str]:
        return [self.pool[(j * SAMPLE + i) % len(self.pool)]
                for i in range(SAMPLE)]

    def check(self, pdf: pd.DataFrame, j: int,
              kind: str = "chain") -> list[str]:
        """Errors of job `j`'s matched rows; `kind` is "chain" or "match"
        (whose detections were made without halo, and whose groups are
        copies: job `j` checks copy j mod copies of each sampled tile)."""
        errs = []
        got = (len(pdf), digest(pdf))
        first = self.expect.setdefault(kind, got)
        if got != first:
            errs.append(f"output {got} differs from first job {first}")
        pad = self.pad if kind == "chain" else 0
        for iid in self.sample(j):
            chm = self.kernel_input(iid) if pad else self.decoded(iid)
            want = oracle_matches(iid, oracle_trees(iid, chm, pad))
            key = iid if kind == "chain" else self.corpus.copy_id(
                iid, j % self.corpus.copies)
            if [(iid, *r[1:]) for r in group_rows(pdf, key)] != want:
                errs.append(f"group {key} differs from in-process recompute")
        return errs


class Flagship(Workload):
    """read_tiles -> detect_trees -> match_trees, collected: no halo, no
    checkpoint; the image kernels do most of the work."""

    name = "flagship"

    def job(self, spark):
        c = self.corpus
        det = detect_trees(read_tiles(spark, c.tiles))
        return match_trees(spark.read.parquet(c.ref), det).toPandas()


class HaloCommit(Workload):
    """The spark-submit job shape: Pipeline.run([detect(with_halo(tiles)),
    match]) committing parquet snapshots and manifests to a fresh workdir;
    a second run must skip every stage."""

    name = "halo_commit"
    pad = HALO_PX

    def __init__(self, corpus: Corpus, tmp: str, seed: int):
        super().__init__(corpus, tmp, seed)
        self.runs = 0
        self.manifests: dict[str, dict] = {}

    def pool_candidates(self) -> list[str]:
        c = self.corpus
        return [tile_id(c.row0 + r, c.col0 + k)
                for r in range(1, c.rows - 1) for k in range(1, c.cols - 1)]

    def needed_ids(self, pool: list[str]) -> list[str]:
        out = []
        for iid in pool:
            r, c = parse_tile_id(iid)
            out += [tile_id(r + dr, c + dc)
                    for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
        return out

    def kernel_input(self, image_id: str) -> np.ndarray:
        """The padded tile with_halo assembles for an interior tile: the
        core of its 3x3 decoded-neighbour mosaic (row + 1 is north, array
        row 0 is the top)."""
        r, c = parse_tile_id(image_id)
        mosaic = np.block([[self.decoded(tile_id(r + dr, c + dc))
                            for dc in (-1, 0, 1)] for dr in (1, 0, -1)])
        h, w = mosaic.shape[0] // 3, mosaic.shape[1] // 3
        p = HALO_PX
        return mosaic[h - p:2 * h + p, w - p:2 * w + p]

    def job(self, spark):
        self.runs += 1
        pipe = Pipeline(spark, os.path.join(self.tmp, f"commit{self.runs}"))
        stages = self.stages()
        return pipe, stages, pipe.run(stages)

    def output(self, spark, res):
        pipe, stages, status = res
        errs = []
        try:
            if set(status.values()) != {"computed"}:
                errs.append(f"first run status {status}")
            pdf = pipe.read_output("match").toPandas()
            self.manifests = {s.name: pipe.read_manifest(s.name)
                              for s in stages}
            read_back = {"detect": pipe.read_output("detect").count(),
                         "match": len(pdf)}
            for name, n in read_back.items():
                if self.manifests[name]["rows"] != n:
                    errs.append(f"{name} manifest rows "
                                f"{self.manifests[name]['rows']} != {n} read")
            rerun = pipe.run(stages)
            if set(rerun.values()) != {"skipped"}:
                errs.append(f"rerun status {rerun}")
        finally:
            shutil.rmtree(pipe.workdir, ignore_errors=True)
        return pdf[MATCH_COLS], errs


WORKLOADS = {w.name: w for w in (Flagship, HaloCommit)}
