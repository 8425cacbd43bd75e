"""Benchmark of the lidartree_spark forestry chain, run from a checkout root.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 28 --trace 0

Each run starts one Spark JVM per phase (perfbench/jobs.py) with the engine
imported from the checkout, generates the workload's inputs from the seed,
warms up, and runs jobs in a closed loop: one job at a time, the next only
after the previous one finished. Three legs run on the same tiles: the
workload's chain at local[nproc], match_trees alone at local[nproc], and the
chain at local[1]. Every job's output is checked (see workloads.py).

--trace 0 prints the end-to-end metrics. --trace 1 runs a shorter untraced
phase, then a traced phase (Spark event log on, kernel replay, one job per
operator) and prints the per-layer metrics; it also writes the per-layer
table and the spans to .perfbench_out/. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DEADLINE_S = 170.0  # the whole run, all phases, must end inside this
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
MEM_EVERY_S = 0.25  # memory sampling period
# (rows, cols) of each workload's tile grid; halo_commit's padded tiles
# carry 2.25x the pixels of a plain tile.
GRIDS = {"flagship": (16, 16), "halo_commit": (8, 8)}
TRACED_SHARE = 0.3  # of --seconds, for the traced phase's chain jobs
# jobs.host_probe_s on the machine of BASELINE.md, in its median state: the
# end-to-end rates are scaled to a host that runs at this speed
PROBE_REF_S = 4.5e-3


def legs(ncpu: int, seconds: float) -> list[dict]:
    """The untraced phase's legs, each measuring its share of `seconds`
    after its warm-up jobs. The first chain leg warms up twice: its second
    job still ran 10-35% slower than the later ones. The match leg runs
    second, on a JVM the chain jobs (whose last stage is match_trees too)
    have warmed: its short jobs kept getting faster for a dozen jobs when
    it ran first. The 1-core leg gets the most time, because its job times
    spread most; the chain legs run three timed jobs at least in any
    case."""
    return [
        {"cores": ncpu, "job": "chain", "seconds": 0.25 * seconds,
         "warmup": 2},
        {"cores": ncpu, "job": "match", "seconds": 0.35 * seconds,
         "warmup": 3},
        {"cores": 1, "job": "chain", "seconds": 0.4 * seconds, "warmup": 1},
    ]


def leg(res: dict, cores: int, job: str) -> dict:
    return next(g for g in res["legs"]
                if g["cores"] == cores and g["job"] == job)


def proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, pgrp, state) for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[2]), fields[0])
    return out


def tree_mem_mb(root: int) -> tuple[float, float]:
    """Memory of `root` and all its descendants, in MB, as (the proportional
    set size of every process but the JVM, the JVM's resident set size).
    In PSS a page shared by n forked Python workers counts 1/n in each. The
    JVM forks nothing, so its RSS is its PSS but for shared libraries; and
    reading its smaps_rollup takes ~16 ms, under the JVM's memory map lock,
    where statm takes 0.1 ms."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    kb, todo = [0, 0], [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            if jvm:
                with open(f"/proc/{pid}/statm") as f:
                    kb[1] += int(f.read().split()[1]) * PAGE_KB
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb[0] += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
        todo.extend(kids.get(pid, []))
    return kb[0] / 1024, kb[1] / 1024


def stop_group(pgid: int) -> None:
    """Stop every process of a process group and wait until all ended."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        alive = [p for p, (_, g, st) in proc_table().items()
                 if g == pgid and st != "Z"]
        if not alive:
            return
        for p in alive:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        t_end = time.monotonic() + wait
        while time.monotonic() < t_end and any(
                g == pgid and st != "Z"
                for _, g, st in proc_table().values()):
            time.sleep(0.1)


def run_phase(spec: dict, conf_dir: str,
              t_deadline: float) -> tuple[dict, list[tuple]]:
    """Run perfbench/jobs.py on `spec`; returns its result and the memory of
    its process tree as (perf_counter, tree_mem_mb) samples, every
    MEM_EVERY_S."""
    import layers
    tmp = spec["tmp"]
    os.makedirs(tmp, exist_ok=True)
    layers.spark_conf(conf_dir, spec.get("event_log"), tmp)
    spec_path = os.path.join(tmp, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, SPARK_CONF_DIR=conf_dir,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "local"), TMPDIR=tmp,
               SPARK_GRAFT_CPUS=str(spec["ncpu"]))
    env.pop("SPARK_DRIVER_MEM", None)  # the engine's own driver memory
    log_path = os.path.join(tmp, "jobs.log")
    samples = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "jobs.py"), spec_path],
            env=env, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            while proc.poll() is None:
                if time.monotonic() > t_deadline:
                    raise TimeoutError("benchmark phase overran its deadline")
                samples.append((time.perf_counter(), tree_mem_mb(proc.pid)))
                time.sleep(MEM_EVERY_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            stop_group(proc.pid)
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"jobs.py exited with {proc.returncode}:\n{tail}")
    with open(spec["out"]) as f:
        return json.load(f), samples


def ok_times(leg: dict) -> list[float]:
    """Times of the leg's timed jobs that passed their checks."""
    return [j["s"] for j in leg["jobs"] if j["ok"] and not j["warmup"]]


def median_or_nan(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def ref_time(leg: dict) -> float:
    """Median time of the leg's timed jobs that passed their checks, scaled
    to the reference host speed: times PROBE_REF_S over the median of those
    jobs' host probes. The host's speed drifts by a third from minute to
    minute; the probe, taken on every CPU between jobs, follows much of that
    drift, and the scaling takes it out of the rates."""
    probes = [j["probe_s"] for j in leg["jobs"] if j["ok"] and not j["warmup"]]
    return median_or_nan(ok_times(leg)) * PROBE_REF_S / median_or_nan(probes)


def peak_mem_mb(leg: dict, mem: list[tuple], side: int) -> float:
    """Median over the leg's timed jobs of each job's peak PSS of the Python
    processes (side 0) or RSS of the JVM (side 1)."""
    return median_or_nan([
        max((mb[side] for t, mb in mem if j["start"] <= t <= j["end"]),
            default=float("nan"))
        for j in leg["jobs"] if j["ok"] and not j["warmup"]])


def e2e_metrics(res: dict, mem: list[tuple], ncpu: int,
                attempted: int, failed: int) -> dict:
    leg_n, leg_m, leg_1 = (leg(res, ncpu, "chain"), leg(res, ncpu, "match"),
                           leg(res, 1, "chain"))
    t_n, t_1, t_m = ref_time(leg_n), ref_time(leg_1), ref_time(leg_m)
    groups = median_or_nan([j["groups"] for j in leg_m["jobs"]
                            if j["ok"] and not j["warmup"]])
    return {
        "tiles_per_s": (res["n_tiles"] / t_n, "1/s"),
        "tiles_per_s_1core": (res["n_tiles"] / t_1, "1/s"),
        "groups_per_s": (groups / t_m, "1/s"),
        "setup_s": (res["setup_s"], "s"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
        "py_peak_pss_mb": (peak_mem_mb(leg_n, mem, 0), "MB"),
    }


def layer_metrics(pre: dict, mem: list[tuple], traced: dict, ev: dict,
                  ncpu: int) -> dict:
    from layers import MATCH_REPS
    spans = traced["spans"]

    def span_s(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    rep, n_tiles = traced["replay"], traced["n_tiles"]

    def ms_tile(name):
        return 1e3 * span_s(name) / rep["tiles"]

    decode = ms_tile("codecs.decode")
    whole = ms_tile("kernels.segmentation.tree_segmentation")
    extract = ms_tile("kernels.extraction")
    parts = {k: ms_tile(k) for k in (
        "kernels.detection.dem_filtering", "kernels.detection.maxima",
        "kernels.segmentation.watershed", "kernels.segmentation.zonal_adjust")}
    # the halo workload's detect stage reads raw_f32 padded tiles: its
    # codec cost sits in with_halo, not in the detect UDF
    kernel_sum = whole + extract + (0.0 if traced["pad"] else decode)
    det = ev.get("operators.detection.detect_trees", {})
    match = ev.get("operators.matching.match_trees", {})
    halo = ev.get("operators.halo.with_halo", {})
    tleg = traced["legs"][0]
    jobs = [ev.get(f"job.{k}", {})  # jobs 0 .. warmup-1 are warm-ups
            for k in range(tleg["warmup"], len(tleg["jobs"]))]
    jobs = [j for j in jobs if j]

    def skew(job):
        # the stage that took most executor time, max over median task
        st = max(job["stage_run_ms"].values(), key=sum)
        return max(st) / max(statistics.median(st), 1)

    man = traced["manifests"]
    t_n = median_or_nan(ok_times(leg(pre, ncpu, "chain")))
    t_1 = median_or_nan(ok_times(leg(pre, 1, "chain")))
    # the replayed image-kernel time of a whole chain job
    kernel_job_s = n_tiles * (decode + whole + extract) / 1e3
    return {
        "codecs.decode_ms_per_tile": (decode, "ms"),
        "kernels.detection.dem_filtering_ms_per_tile": (
            parts["kernels.detection.dem_filtering"], "ms"),
        "kernels.detection.maxima_ms_per_tile": (
            parts["kernels.detection.maxima"], "ms"),
        "kernels.detection.seeds_per_tile": (
            rep["seeds"] / rep["tiles"], "count"),
        "kernels.segmentation.watershed_ms_per_tile": (
            parts["kernels.segmentation.watershed"], "ms"),
        "kernels.segmentation.zonal_adjust_ms_per_tile": (
            parts["kernels.segmentation.zonal_adjust"], "ms"),
        "kernels.segmentation.tree_segmentation_ms_per_tile": (whole, "ms"),
        "kernels.segmentation.replay_sum_ratio": (
            sum(parts.values()) / whole, "ratio"),
        "kernels.segmentation.trees_kept_per_seed": (
            rep["kept"] / max(rep["seeds"], 1), "ratio"),
        "kernels.share_1core": (kernel_job_s / t_1, "ratio"),
        "kernels.share_nproc": (kernel_job_s / ncpu / t_n, "ratio"),
        "kernels.extraction.ms_per_tile": (extract, "ms"),
        "kernels.extraction.trees_per_tile": (
            rep["trees"] / rep["tiles"], "count"),
        "kernels.matching.ms_per_group": (
            1e3 * span_s("kernels.matching") / max(
                rep["groups"] * MATCH_REPS, 1), "ms"),
        "kernels.matching.matched_per_ref": (
            rep["matched"] / max(rep["refs"], 1), "ratio"),
        "operators.tiles.scan_s": (span_s("operators.tiles.scan"), "s"),
        "operators.detection.detect_trees_s": (
            span_s("operators.detection.detect_trees"), "s"),
        "operators.detection.udf_overhead_ms_per_tile": (
            det.get("run_ms", 0) / n_tiles - kernel_sum, "ms"),
        "operators.matching.match_trees_s": (
            span_s("operators.matching.match_trees"), "s"),
        "operators.matching.shuffle_bytes": (
            match.get("shuffle_write_bytes", 0), "bytes"),
        "operators.matching.fetch_wait_ms": (
            match.get("fetch_wait_ms", 0), "ms"),
        "operators.halo.with_halo_s": (
            span_s("operators.halo.with_halo"), "s"),
        "operators.halo.shuffle_bytes_per_tile": (
            halo.get("shuffle_write_bytes", 0) / n_tiles, "bytes"),
        "plans.checkpoint.stage_wall_s.detect": (
            man["detect"]["wall_sec"], "s"),
        "plans.checkpoint.stage_wall_s.match": (man["match"]["wall_sec"], "s"),
        "plans.checkpoint.manifest_overhead_s": (
            man["detect"]["wall_sec"]
            - span_s("plans.checkpoint.plain_write"), "s"),
        "plans.checkpoint.bytes_per_tile": (
            (man["detect"]["bytes"] + man["match"]["bytes"]) / n_tiles,
            "bytes"),
        "spark.tasks": (median_or_nan([j["tasks"] for j in jobs]), "count"),
        "spark.task_skew": (median_or_nan([skew(j) for j in jobs]), "ratio"),
        "spark.gc_ms": (median_or_nan([j["gc_ms"] for j in jobs]), "ms"),
        "spark.jvm_peak_rss_mb": (
            peak_mem_mb(leg(pre, ncpu, "chain"), mem, 1), "MB"),
        "spark.scaling_eff": ((t_1 / t_n) / ncpu, "ratio"),
        "trace.overhead_ratio": (
            median_or_nan(ok_times(traced["legs"][0])) / t_n, "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GRIDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--grid", help="ROWSxCOLS tile grid (tests use a tiny "
                                   "one); default: the workload's own")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "lidartree_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a lidartree_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    t_deadline = time.monotonic() + DEADLINE_S
    ncpu = len(os.sched_getaffinity(0))
    grid = ([int(x) for x in args.grid.split("x")] if args.grid
            else list(GRIDS[args.workload]))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    base = dict(workload=args.workload, seed=args.seed, grid=grid,
                ncpu=ncpu, run_id=run_id, data_dir=os.path.join(work, "data"))
    T = args.seconds

    def spec(name, legs, event_log=None):
        tmp = os.path.join(work, name)
        return dict(base, legs=legs, tmp=tmp,
                    out=os.path.join(tmp, "result.json"), event_log=event_log)

    try:
        if not args.trace:
            res, mem = run_phase(spec("main", legs(ncpu, T)),
                                 os.path.join(work, "conf"), t_deadline)
            phases = [res]
        else:
            # the chain legs alone: the layer table uses no match leg
            pre, mem = run_phase(spec("pre", [
                g for g in legs(ncpu, 0.4 * T) if g["job"] == "chain"]),
                os.path.join(work, "conf"), t_deadline)
            log_dir = os.path.join(work, "eventlog")
            traced, _ = run_phase(spec("traced", [
                {"cores": ncpu, "job": "chain", "seconds": TRACED_SHARE * T,
                 "warmup": 2, "trace": True}], log_dir),
                os.path.join(work, "conf_traced"), t_deadline)
            traced["pad"] = args.workload == "halo_commit"
            import layers
            ev = layers.read_event_log(log_dir)
            phases = [pre, traced]
        jobs = [j for r in phases for leg in r["legs"] for j in leg["jobs"]]
        attempted, failed = len(jobs), sum(not j["ok"] for j in jobs)
        if args.trace:
            metrics = layer_metrics(pre, mem, traced, ev, ncpu)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            with open(stem + "-spans.json", "w") as f:
                json.dump(pre["spans"] + traced["spans"], f)
            with open(stem + "-layers.json", "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "layers": {k: v[0] for k, v in metrics.items()},
                           "operators": ev}, f, indent=1)
        else:
            metrics = e2e_metrics(res, mem, ncpu, attempted, failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for r in phases:
        print("# set-up " + ", ".join(
            f"{s['name']} {s['end'] - s['start']:.2f} s" for s in r["spans"]
            if s["name"].startswith("setup")), flush=True)
        for g in r["legs"]:
            print(f"# {args.workload} seed={args.seed} {g['job']} "
                  f"local[{g['cores']}]: {len(g['jobs'])} jobs, median "
                  f"{median_or_nan(ok_times(g)):.3f} s ({ref_time(g):.3f} s "
                  f"at the reference speed) of "
                  f"{[round(j['s'], 3) for j in g['jobs']]}; probe ms "
                  f"{[round(1e3 * j['probe_s'], 3) for j in g['jobs']]}",
                  flush=True)
            for j in g["jobs"]:
                if not j["ok"]:
                    print(f"#   failed job: {j['errors']}", flush=True)
    values = [v for v, _ in metrics.values()]
    correct = failed == 0 and all(v == v for v in values)  # no NaN
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": (v if v == v else 0.0), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
