"""Bench harness: headline throughput of the engine at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (the driver's tail capture is bounded, so the
final line carries only the gate numbers):
  {"metric": "...", "value": N, "unit": "sec", "sf": ..., "tiles_per_sec":
   ..., "n_tiles": ..., "queries_total_sec": ..., "queries_file": ...,
   "scaling": {...}}
Per-query timings and the raw scaling trials go to BENCH/queries_latest.json,
the tracked record, on a run at the default sizes; a run that overrides
SPARK_GRAFT_BENCH_GRID, SPARK_GRAFT_SCALING* or SPARK_GRAFT_SF_DIR writes
them to the ignored .bench_build/queries_latest.json instead.

Headline metric = tiles/sec through the flagship pipeline (decode +
segmentation + extraction + greedy spatial matching), the BASELINE.json
metric. Also times each SQL-expressible operator once at the bench SF.

Scaling evidence (north rule, sandbox proxy for N vs 4N executors): the tile
pipeline runs at local[1] (N) and local[4] (4N) on the SAME input, each in a
FRESH subprocess (own JVM) with a warmup pass so JIT/classloading cost does
not bias either level. N=1 is the cleanest 4x step on this box: the 32
"cores" are ~16 physical + SMT, and a raw multiprocessing control of the
same per-tile work (tools/mp_control.py, identical tile set at every
level) measures 8->32 at 0.61-0.70 — far below the 0.8 gate with zero
engine overhead, no headroom for any engine — vs an essentially perfect
0.97-1.05 hardware ceiling for 1->4 (ladder recorded in
BENCH/BASELINE.md).
Measurement protocol baked into the recorded run (shared-host hygiene):
  - the scaling corpus is big enough that Spark's fixed per-run latency is
    <4% of the 1-core leg (see SCALING_GRID comment),
  - trial pairs are INTERLEAVED (A/B/A/B) and each leg reports its minimum
    (external noise only ever adds time),
  - the pair count is adaptive: stop early on a clean ratio, keep sampling
    up to SPARK_GRAFT_SCALING_TRIALS pairs otherwise,
  - a bounded loadavg gate delays trials while OUR VM is running something
    else (e.g. a concurrent test session).
local[CPUS] is still measured as peak capacity.
Set SPARK_GRAFT_SCALING=0 to skip the extra levels.

Extra recorded sections (each with an opt-out env flag, all default on):
  skew     (SPARK_GRAFT_SKEW)     salted vs unsalted join under a hot key;
  layout   (SPARK_GRAFT_LAYOUT)   Hilbert-clustered vs hash-scattered
                                  row-group pruning ratio from the parquet
                                  footers + timed bbox scans at bench scale;
  isolated (SPARK_GRAFT_ISOLATED) min-of-4 fresh-JVM reruns of the 10
                                  slowest suite queries — suite numbers are
                                  single-window samples on a shared host,
                                  so regressions are confirmed HERE before
                                  anyone optimizes against noise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from lidartree_spark.session import spark_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = spark_cpus()
# bench tile grid: 48x48 = 2304 tiles of 64x64 px (~9.4M px).
GRID = int(os.environ.get("SPARK_GRAFT_BENCH_GRID", "48"))
# scaling-pair grid: LARGE on purpose. Efficiency N->4N under a fixed
# per-run overhead F and scalable work W is (F+W)/(4F+W), so the gate
# (>=0.8) needs F <= W/11. Round-3 decomposition (two corpus sizes per
# leg): F is ~3.4 s on the 1-core leg (per-task scheduling + AQE replan +
# collect, partly serialized) and the scalable work itself parallelizes
# 3.5x on 4 cores (a HOST ceiling — 4 concurrent python workers share
# memory bandwidth/SMT on this VM; the raw multiprocessing control in
# BENCH/BASELINE.md shows the same ceiling without Spark). 96x96 = 9216
# tiles puts F under 6% of the 1-core leg, which is most of the headroom
# the W->inf asymptote (~0.88 on this hardware) allows.
SCALING_GRID = int(os.environ.get("SPARK_GRAFT_SCALING_GRID", "96"))

_SETUP = r"""
import sys
sys.path.insert(0, {repo!r})
from lidartree_spark.operators.tiles import synthetic_ref_trees, synthetic_tiles
from lidartree_spark.session import get_spark
spark = get_spark("bench-setup", master="local[{cpus}]")
synthetic_tiles(spark, {grid}, {grid}).write.mode("overwrite").parquet({tiles_pq!r})
synthetic_ref_trees(spark, {grid}, {grid}).write.mode("overwrite").parquet({ref_pq!r})
spark.stop()
"""

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from lidartree_spark.operators.detection import detect_trees
from lidartree_spark.operators.matching import match_trees
from lidartree_spark.operators.tiles import read_tiles
from lidartree_spark.session import get_spark

spark = get_spark("bench-tiles", master={master!r})

def pipeline(tiles_path, ref_path):
    # zero-shuffle detection + one AQE-coalesced shuffle for the batched
    # greedy matcher. Measured faster than fusing matching into the
    # detection map over a broadcast inventory at >= 4 cores: the separate
    # shuffle stage lets matching parallelize independently of scan-task
    # boundaries.
    tiles = read_tiles(spark, tiles_path)
    det = detect_trees(tiles)
    ref = spark.read.parquet(ref_path)
    return match_trees(ref, det)

# warmup: JIT, Arrow codepaths, fork+import of every python worker slot
pipeline({warm_tiles!r}, {warm_ref!r}).count()
best = None
for _ in range({repeats}):  # min-of-k damps external load spikes
    t0 = time.time()
    n = pipeline({tiles_pq!r}, {ref_pq!r}).count()
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
print(json.dumps({{"sec": best, "rows": n}}))
spark.stop()
"""


def setup_tiles(workdir: str, grid: int) -> dict:
    """Materialize the tile + inventory corpora to parquet (untimed): the
    timed pipeline is scan -> decode -> segment -> extract -> match, matching
    the BASELINE metric (images decoded + spatially joined per second)."""
    paths = {g: (f"{workdir}/tiles_{g}", f"{workdir}/ref_{g}")
             for g in (grid, SCALING_GRID, 16)}
    code = "".join(
        _SETUP.format(repo=REPO, cpus=CPUS, grid=g, tiles_pq=t, ref_pq=r)
        for g, (t, r) in paths.items())
    subprocess.run([sys.executable, "-c", code], capture_output=True,
                   text=True, check=True)
    return paths


def run_tile_pipeline(master: str, paths: dict, grid: int,
                      repeats: int = 2) -> float:
    """Timed flagship pipeline in a fresh subprocess (fair across levels)."""
    code = _CHILD.format(repo=REPO, master=master, tiles_pq=paths[grid][0],
                         ref_pq=paths[grid][1], warm_tiles=paths[16][0],
                         warm_ref=paths[16][1], repeats=repeats)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True)
    return float(json.loads(out.stdout.strip().splitlines()[-1])["sec"])


def _await_quiet_box(limit_sec: float = 60.0) -> None:
    """Bounded wait for OUR VM's own load to drain before a scaling trial.

    Host co-tenant noise is invisible to us (min-of-trials handles it), but
    load we can see — a concurrent pytest, a stray Spark JVM — is exactly
    the contamination that sank a measured 0.985 efficiency to 0.72. One
    1-min loadavg point costs nothing and the wait is bounded so a driver
    round can never hang here."""
    deadline = time.time() + limit_sec
    while time.time() < deadline:
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return
        if load1 <= max(4.0, int(CPUS) / 8):
            return
        time.sleep(5.0)


def run_skew_bench(spark) -> dict:
    """Salted vs unsalted join under real key skew (VERDICT r3 ask #5).

    Corpus: one hot cell holds 20% of the heavy side (the mega-city cell
    in a detections x references join); the light side is per-cell
    reference rows. Broadcast is ruled out via shuffle_hash hints — the
    regime this measures is the 100 TB one where the reference table
    exceeds any broadcast threshold, so the join HAS to shuffle on the
    cell key and the hot cell lands on one reducer unless spread.

    Three legs, interleaved, min-of-2 each:
      unsalted           — plain equi-join, AQE defaults (skew-join on);
      unsalted_no_aqe    — plain equi-join, AQE skew handling off (what a
                           static planner, or a shape AQE can't split,
                           pays);
      salted             — operators/grid.salted_join, 8 buckets.
    """
    from lidartree_spark.operators.grid import salted_join

    # sized so the HOT REDUCER dominates the unsalted job: 20% of 3M heavy
    # rows on one cell x 256 light rows/cell = 154M join pairs (plus a
    # sqrt per pair) on a single reducer core, vs ~24M pairs/core of total
    # work — the pathological-key regime AQE's byte-threshold skew split
    # does not see at this corpus size but a real 100 TB corpus hits daily.
    # The light side stays small (128K rows): the explode-x-buckets rewrite
    # multiplies BUILD memory by salt_buckets, so the technique is for
    # pathological heavy keys against bounded dimension sides — for a huge
    # light side you shrink salt_buckets to the observed skew instead.
    n_heavy, n_cells, k_light = 3_000_000, 500, 256
    heavy = spark.range(n_heavy).selectExpr(
        "id",
        # id % 5 == 0 -> cell 0: exactly 20% of rows on ONE key
        f"CAST(CASE WHEN id % 5 = 0 THEN 0 "
        f"ELSE 1 + pmod(hash(id), {n_cells - 1}) END AS BIGINT) AS cell",
        "CAST(id % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS v")
    light = spark.range(n_cells * k_light).selectExpr(
        f"CAST(id % {n_cells} AS BIGINT) AS cell",
        "CAST(id % 997 AS DOUBLE) / CAST(100 AS DOUBLE) AS w")

    import pyspark.sql.functions as SF

    def total(df):
        return (df.selectExpr("cell", "SQRT(v * w + CAST(1 AS DOUBLE)) AS vw")
                  .groupBy("cell").agg(SF.sum("vw").alias("s"))
                  .agg(SF.sum("s")).collect()[0][0])

    def unsalted():
        return total(heavy.join(light.hint("shuffle_hash"), "cell"))

    def salted():
        return total(salted_join(heavy, light, ["cell"], salt_buckets=8,
                                 salt_src="id", shuffle=True))

    legs = {"unsalted": (unsalted, None),
            "unsalted_no_aqe": (unsalted, "off"),
            "salted": (salted, None)}
    times: dict[str, float] = {}
    vals: dict[str, float] = {}
    skew_conf = "spark.sql.adaptive.skewJoin.enabled"
    adv_conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(skew_conf, "true")
    old_adv = spark.conf.get(adv_conf, "67108864b")
    # this join produces ~128 pairs + a sqrt per shuffled byte — with the
    # default 64 MB advisory size AQE coalesces the ~100 MB shuffle to a
    # couple of reducers and BOTH plans serialize (the skew never even
    # surfaces). Pin a compute-appropriate advisory size for all three
    # legs — the same bytes-vs-compute correction read_tiles applies to
    # the matching shuffle (BENCH/BASELINE.md round-1 note 4).
    spark.conf.set(adv_conf, "1048576b")
    try:
        for _ in range(2):  # interleaved min-of-2
            for name, (fn, aqe) in legs.items():
                spark.conf.set(skew_conf, "false" if aqe == "off" else old)
                t0 = time.time()
                vals[name] = fn()
                dt = time.time() - t0
                times[name] = min(times.get(name, dt), dt)
    finally:
        spark.conf.set(skew_conf, old)
        spark.conf.set(adv_conf, old_adv)
    import math
    ref = vals["unsalted"]
    # 1e-6: the legs sum ~768M float terms in different accumulation
    # orders (one 154M-term hot chain vs 8 independent bucket chains) —
    # order drift can reach ~n*eps ≈ 1e-8 relative, while a semantic
    # divergence (wrong join rewrite) shifts the total by >= one light
    # row's contribution, many orders above this tolerance
    assert all(math.isclose(v, ref, rel_tol=1e-6) for v in vals.values()), \
        f"salted/unsalted results diverge: {vals}"
    return {
        "n_heavy": n_heavy, "hot_frac": 0.2, "n_light": n_cells * k_light,
        "salt_buckets": 8,
        **{f"{k}_sec": round(v, 3) for k, v in times.items()},
        "salted_speedup_vs_no_aqe": round(
            times["unsalted_no_aqe"] / times["salted"], 3),
        "salted_speedup_vs_aqe": round(
            times["unsalted"] / times["salted"], 3),
    }


def run_layout_bench(spark, n_points: int = 2_000_000,
                     n_files: int = 32) -> dict:
    """Clustered-vs-scattered pruning at bench scale (VERDICT r4 ask #4).

    Writes the same point corpus twice — Hilbert range-shuffled
    (operators/layout.write_clustered) and hash-scattered — then counts,
    from the parquet footers, the row groups a 1/64-domain bbox scan MUST
    read under each layout, and times the actual bbox scans. The footer
    ratio is the 100-TB story (fraction of the corpus a bbox query
    touches); the wall-clock pair shows it reaching local runtime too.
    """
    import shutil
    import tempfile

    from lidartree_spark.operators.layout import (
        bbox_scan,
        rowgroup_prune_stats,
        write_clustered,
    )

    bbox = (0.0, 0.0, 32.0, 32.0)  # 1/64 of the 256x256 domain area
    pts = spark.range(n_points).selectExpr(
        "id",
        "CAST(pmod(hash(id), 25600) AS DOUBLE) / CAST(100 AS DOUBLE) AS x",
        "CAST(pmod(hash(id + 7), 25600) AS DOUBLE) / CAST(100 AS DOUBLE)"
        " AS y",
        "CAST(id % 97 AS DOUBLE) AS z")
    work = tempfile.mkdtemp(prefix="lidartree_layout_")
    clustered, scattered = f"{work}/clustered", f"{work}/scattered"
    try:
        write_clustered(pts, clustered, res=0.5, n_files=n_files)
        pts.repartition(n_files, "id").write.mode("overwrite") \
            .parquet(scattered)
        c = rowgroup_prune_stats(clustered, *bbox)
        s = rowgroup_prune_stats(scattered, *bbox)
        times = {}
        for name, path in (("clustered", clustered),
                           ("scattered", scattered)):
            best = None
            for _ in range(3):
                t0 = time.time()
                bbox_scan(spark, path, *bbox).write.format("noop") \
                    .mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "n_points": n_points, "n_files": n_files,
        "bbox_area_frac": 1 / 64,
        "clustered_rowgroups_total": c["total"],
        "clustered_rowgroups_must_read": c["must_read"],
        "scattered_rowgroups_total": s["total"],
        "scattered_rowgroups_must_read": s["must_read"],
        # row groups a stats-based reader skips under each layout; the
        # pruning ratio is scattered/clustered must-read density
        "prune_ratio": round(
            (s["must_read"] / s["total"])
            / max(c["must_read"] / c["total"], 1e-9), 2),
        "clustered_scan_sec": times["clustered"],
        "scattered_scan_sec": times["scattered"],
    }


def run_isolated_top(results: dict, k: int = 10, n: int = 4) -> dict:
    """Isolated min-of-N reruns of the k slowest suite queries in a FRESH
    JVM on a quieted box (VERDICT r4/r5 ask #3: per-query suite numbers
    are single-window samples; this kills the regression-or-noise
    ambiguity that recurred in r3 token_topk and r4 north_star_chain)."""
    skip = {"tile_pipeline"}  # measured by its own subprocess protocol
    names = [q for q, _ in sorted(results.items(), key=lambda kv: -kv[1])
             if q not in skip][:k]
    # always-watch list: queries a past round flagged as regressed from a
    # suite sample — the isolated number is the adjudicating evidence
    # (r4 flagged both; isolated min-of-4 matched their r3 numbers)
    for w in ("north_star_chain", "tree_detection_catalog_roi"):
        if w in results and w not in names:
            names.append(w)
    _await_quiet_box()
    # never let the rerun discard the whole bench artifact: a crash or
    # empty output degrades to an error note, the suite numbers survive
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools",
                                          "isolate_query.py"),
             "--n", str(n), *names],
            capture_output=True, text=True, check=True, timeout=1800)
        payload = json.loads(out.stdout.strip().splitlines()[-1])
        return {"n": n, "queries": payload["queries"]}
    except (subprocess.SubprocessError, OSError, ValueError,
            KeyError, IndexError) as e:
        return {"n": n, "error": f"{type(e).__name__}: {e}"[:300]}


def detail_relpath(environ) -> str:
    """Where a run's per-query detail goes, relative to the repo: the
    tracked BENCH/ record only at the default sizes, else .bench_build/."""
    resized = any(k in ("SPARK_GRAFT_BENCH_GRID", "SPARK_GRAFT_SF_DIR")
                  or k.startswith("SPARK_GRAFT_SCALING") for k in environ)
    return os.path.join(".bench_build" if resized else "BENCH",
                        "queries_latest.json")


def run_tile_legs(paths: dict) -> tuple[float, dict]:
    """The headline tile pipeline at local[CPUS], then the N vs 4N scaling
    legs; returns (headline seconds, scaling record)."""
    dt = run_tile_pipeline(f"local[{CPUS}]", paths, GRID)
    n_tiles = GRID * GRID
    scaling = {}
    if os.environ.get("SPARK_GRAFT_SCALING", "1") == "1":
        n_sc = SCALING_GRID * SCALING_GRID
        # pin an absolute scan-task count for BOTH legs: a real corpus has a
        # fixed split size regardless of cluster size, and per-task python
        # overhead must not scale with parallelism or the comparison
        # measures task count, not the engine
        os.environ["SPARK_GRAFT_SCAN_TASKS"] = "16"
        max_pairs = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "6"))
        min_pairs = min(max_pairs,
                        int(os.environ.get("SPARK_GRAFT_SCALING_MIN_TRIALS",
                                           "3")))
        trials_n, trials_4n = [], []
        try:
            # interleaved A/B trial pairs, min per leg: external noise on
            # this shared host only ever ADDS time, so the per-leg minimum
            # is the capability estimate; interleaving keeps slow windows
            # from biasing one leg. Adaptive count: noise converges from
            # above, so stop once the min-pair shows a clean ratio
            # (>= 0.85, margin over the 0.8 gate), else keep sampling up to
            # max_pairs and record whatever the data says. Second-tier
            # exit: after min_pairs + 1, efficiency >= 0.82 (a MARGIN above
            # the 0.8 gate, not the gate itself — an exit at exactly 0.80
            # would be optional stopping biased toward recording a pass) —
            # the extra pairs only polish margin while each costs two JVM
            # legs, and a dirty box can otherwise force the full max_pairs
            # ladder (~+5 min) for no change in pass/fail. The exit that
            # fired and the pair count are recorded in the artifact so a
            # gate-boundary pass stays auditable.
            exit_reason = "max_pairs"
            for pair in range(max_pairs):
                _await_quiet_box()
                trials_n.append(run_tile_pipeline("local[1]", paths,
                                                  SCALING_GRID, repeats=1))
                trials_4n.append(run_tile_pipeline("local[4]", paths,
                                                   SCALING_GRID, repeats=1))
                eff = (min(trials_n) / min(trials_4n)) / 4.0
                if pair + 1 >= min_pairs and eff >= 0.85:
                    exit_reason = "clean_ratio_0.85"
                    break
                if pair + 1 >= min_pairs + 1 and eff >= 0.82:
                    exit_reason = "margin_0.82"
                    break
        finally:
            os.environ.pop("SPARK_GRAFT_SCAN_TASKS", None)
        dt_n, dt_4n = min(trials_n), min(trials_4n)
        scaling = {
            "n_cores": 1, "four_n_cores": 4,
            "n_sec": round(dt_n, 3),
            "four_n_sec": round(dt_4n, 3),
            "n_tiles_per_sec": round(n_sc / dt_n, 2),
            "four_n_tiles_per_sec": round(n_sc / dt_4n, 2),
            "speedup": round(dt_n / dt_4n, 3),
            "efficiency_n_to_4n": round((dt_n / dt_4n) / 4.0, 3),
            "scaling_tiles": n_sc,
            "pairs_run": len(trials_n),
            "exit": exit_reason,
            "trials_n_sec": [round(t, 3) for t in trials_n],
            "trials_4n_sec": [round(t, 3) for t in trials_4n],
            f"local{CPUS}_peak_sec": round(dt, 3),
            f"local{CPUS}_peak_tiles_per_sec": round(n_tiles / dt, 2),
        }
    return dt, scaling


def main() -> None:
    import shutil
    import tempfile

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    results: dict[str, float] = {}

    workdir = tempfile.mkdtemp(prefix="lidartree_bench_")
    try:
        dt, scaling = run_tile_legs(setup_tiles(workdir, GRID))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    n_tiles = GRID * GRID
    results["tile_pipeline"] = round(dt, 3)
    tiles_per_sec = round(n_tiles / dt, 2)

    # --- SQL operator suite at the bench SF
    from lidartree_spark.queries import oracle_sql_extended, queries
    from lidartree_spark.session import get_spark

    spark = get_spark("bench-sql", master=f"local[{CPUS}]")

    def _warm(batches):
        # fork + heavy imports in every python worker slot, untimed — same
        # policy as the tile-pipeline warmup pass
        import numpy  # noqa: F401
        from lidartree_spark import codecs  # noqa: F401
        from lidartree_spark.kernels import gaps, tin  # noqa: F401
        yield from batches

    skew: dict = {}
    layout: dict = {}
    errors: dict = {}
    try:
        spark.range(0, int(CPUS) * 4, 1, int(CPUS)) \
            .mapInPandas(_warm, "id long").count()
        if os.environ.get("SPARK_GRAFT_SKEW", "1") == "1":
            skew = run_skew_bench(spark)
        if os.environ.get("SPARK_GRAFT_LAYOUT", "1") == "1":
            layout = run_layout_bench(spark)
        oracled = oracle_sql_extended()
        for name, fn in queries().items():
            if name not in oracled:
                continue  # rows-only tile-pipeline ops: the headline number
            # one failing query must not discard the whole artifact —
            # degrade to an error note and keep timing the rest
            try:
                best = None
                for _ in range(2):  # min-of-2: first run pays codegen
                    t0 = time.time()
                    df = fn(spark, SF_DIR)
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                results[name] = round(best, 3)
            except Exception as e:  # noqa: BLE001 — recorded, not hidden
                errors[name] = f"{type(e).__name__}: {e}"[:200]
    finally:
        spark.stop()

    isolated: dict = {}
    if os.environ.get("SPARK_GRAFT_ISOLATED", "1") == "1":
        isolated = run_isolated_top(
            results,
            k=int(os.environ.get("SPARK_GRAFT_ISOLATED_TOP", "10")),
            n=int(os.environ.get("SPARK_GRAFT_ISOLATED_N", "4")))

    total = round(sum(results.values()), 3)
    # full detail (per-query timings + raw scaling trials) -> a file; the
    # stdout line stays compact so the driver's bounded tail capture can
    # parse it (BENCH_r02.json recorded parsed:null because the old
    # all-in-one line overflowed the capture window).
    detail_file = detail_relpath(os.environ)
    detail_path = os.path.join(REPO, detail_file)
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump({"sf": sf, "queries": results, "scaling_raw": scaling,
                   "skew": skew, "layout": layout, "isolated": isolated,
                   "query_errors": errors},
                  f, indent=1)
    compact_scaling = {k: v for k, v in scaling.items()
                       if not k.startswith("trials_")}
    print(json.dumps({
        "metric": "tiles/sec (decode + segment + extract + match)",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "tiles_per_sec": tiles_per_sec,
        "n_tiles": n_tiles,
        "queries_total_sec": total,
        "n_queries": len(results),
        "n_query_errors": len(errors),
        "queries_file": detail_file,
        "scaling": compact_scaling,
        "skew": skew,
        "layout": layout,
        "isolated": isolated,
    }))


if __name__ == "__main__":
    main()
