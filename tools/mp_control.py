"""Hardware-scaling control: the flagship per-tile kernel work (decode ->
dem_filtering -> maxima -> watershed -> extraction) run under raw
`multiprocessing` — NO Spark — at a ladder of process counts.

Purpose: the north rule's N -> 4N efficiency gate needs a parallelism pair
the HARDWARE can express. This control measures the ceiling the box itself
imposes on embarrassingly parallel per-tile work. The host the engine is
benchmarked on has 4 vCPUs, so only the 1 -> 4 pair can show hardware
scaling there; the 8, 16 and 32 levels oversubscribe it and time-slice the
same 4 vCPUs, so their 8 -> 32 efficiency measures time-slicing, not
hardware scaling. That is why bench.py's recorded scaling pair is local[1] ->
local[4] (see BASELINE.md and BENCH/BASELINE.md).

Usage: python tools/mp_control.py [tiles_per_proc_at_p1] ; prints one JSON
line with per-level throughput and the 1->4 and 8->32 efficiencies.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LEVELS = (1, 4, 8, 16, 32)
PAIRS = ((1, 4), (8, 32))


def _work(args) -> int:
    """Decode + full detection chain on global tile indices
    [start, start + n) — the same per-tile kernel work the flagship
    pipeline's UDF does. Tile identity is a function of the GLOBAL index,
    so every process count runs the IDENTICAL tile set (per-tile cost
    varies with content; a level-dependent tile set would bias the
    efficiency ratio)."""
    start, n = args
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    from lidartree_spark.codecs import decode_tile
    from lidartree_spark.generator import gen_tile_row
    from lidartree_spark.kernels.extraction import tree_extraction
    from lidartree_spark.kernels.segmentation import tree_segmentation
    total = 0
    for g in range(start, start + n):
        rec = gen_tile_row(g // 1024, g % 1024)
        chm = decode_tile(rec["bytes"], rec["fmt"], 64, 64)
        seg = tree_segmentation(chm, res=0.5)
        rows = tree_extraction(seg["filled_dem"], seg["local_maxima"],
                               seg["segments_id"], x0=0.0, y1=32.0, res=0.5)
        total += len(rows)
    return total


def run_level(p: int, total_tiles: int, repeats: int = 3) -> float:
    """Wall time for EXACTLY `total_tiles` tiles split across p processes
    (contiguous ranges, remainder spread over the first workers),
    min-of-repeats (shared-host noise only ever adds time)."""
    base, rem = divmod(total_tiles, p)
    jobs, start = [], 0
    for w in range(p):
        n = base + (1 if w < rem else 0)
        jobs.append((start, n))
        start += n
    assert start == total_tiles
    best = None
    for _ in range(repeats):
        with mp.get_context("spawn").Pool(p) as pool:
            pool.map(_work, [(w * 2, 2) for w in range(p)])  # warm imports
            t0 = time.time()
            pool.map(_work, jobs)
            dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    # fixed TOTAL work per level (weak scaling would hide the ceiling):
    # big enough that pool startup is noise at p=32
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 1920
    out = {"total_tiles": total, "levels": {}}
    for p in LEVELS:
        dt = run_level(p, total)
        out["levels"][str(p)] = {"sec": round(dt, 3),
                                 "tiles_per_sec": round(total / dt, 1)}
    for a, b in PAIRS:
        sa = out["levels"][str(a)]["sec"]
        sb = out["levels"][str(b)]["sec"]
        out[f"eff_{a}_to_{b}"] = round((sa / sb) / (b / a), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
