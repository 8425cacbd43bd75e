"""One Spark JVM of a benchmark run: set up, then run a workload's jobs in a
closed loop, one leg (master local[n], job kind) after another.

    python3 perfbench/jobs.py SPEC.json

perfbench/run.py writes the spec and starts this process with PYTHONPATH at
the checkout, so Spark's Python workers import the checked-out engine. The
result (job times, check failures, set-up time, traced layers and spans) is
written as JSON to the spec's "out" path.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import numpy as np

PROBE_REPS = 3  # rounds of the host probe on each CPU; the fastest counts
# floats the probe reads: 40 MB, past the 32 MB up to which glibc may keep a
# freed block in the heap, so the array is unmapped after each probe
PROBE_FLOATS = 5 << 20


def host_probe_s() -> float:
    """How fast the host runs right now: the seconds it takes to sum a
    40 MB array twice on each CPU of this process's affinity at once, one
    thread pinned to each (numpy releases the GIL), averaged over the CPUs.
    Each thread keeps its fastest of PROBE_REPS rounds, which drops a round
    that something else interrupted. The array is made for each probe and
    freed after it, so the probe adds nothing to the memory of a job. It
    runs between jobs, while Spark is idle; its work is the benchmark's
    own."""
    data = np.ones(PROBE_FLOATS)
    times: dict[int, float] = {}

    def on_cpu(cpu: int) -> None:
        os.sched_setaffinity(0, {cpu})  # pins this thread only
        best = float("inf")
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            data.sum()
            data.sum()
            best = min(best, time.perf_counter() - t0)
        times[cpu] = best

    threads = [threading.Thread(target=on_cpu, args=(cpu,))
               for cpu in sorted(os.sched_getaffinity(0))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return statistics.fmean(times.values())


def closed_loop(run_job, check_job, seconds: float, warmup: int = 1,
                min_jobs: int = 3, start: int = 0) -> list[dict]:
    """Run `warmup` warm-up jobs, then jobs one at a time until `seconds`
    would be exceeded by another median-length job and its check (at least
    `min_jobs`). Every job, a warm-up too, is checked: a job fails if it
    raises or if `check_job(result, j)` returns errors. The host probe runs
    before every job and after the last; a job's `probe_s` is the mean of
    the two around it."""
    records: list[dict] = []
    t_end = None if warmup else time.perf_counter() + seconds
    probes = [host_probe_s()]
    while True:
        timed = [r["end"] - r["start"] for r in records[warmup:]]
        if len(timed) >= min_jobs and (
                time.perf_counter() + statistics.median(timed) > t_end):
            for r, p0, p1 in zip(records, probes, probes[1:]):
                r["probe_s"] = (p0 + p1) / 2
            return records
        j = start + len(records)
        t0 = time.perf_counter()
        try:
            res = run_job(j)
            dt = time.perf_counter() - t0
            errs, groups = check_job(res, j)
        except Exception as e:  # a job that raises is a failed job
            dt = time.perf_counter() - t0
            errs, groups = [f"{type(e).__name__}: {e}"[:300]], 0
        records.append({"s": dt, "ok": not errs, "errors": errs[:3],
                        "groups": groups, "warmup": len(records) < warmup,
                        "start": t0, "end": time.perf_counter()})
        probes.append(host_probe_s())
        if len(records) == warmup:
            t_end = records[-1]["end"] + seconds


def main(spec_path: str) -> None:
    t_proc = time.perf_counter()
    with open(spec_path) as f:
        spec = json.load(f)
    import layers
    from lidartree_spark.session import get_spark
    from workloads import WORKLOADS, Corpus

    spans = layers.Spans(spec["run_id"])
    corpus = Corpus(spec["data_dir"], spec["seed"], *spec["grid"])
    wl = WORKLOADS[spec["workload"]](corpus, spec["tmp"], spec["seed"])
    out: dict = {"legs": []}
    spark, n_jobs = None, 0
    for leg in spec["legs"]:
        master, kind = f"local[{leg['cores']}]", leg["job"]
        if spark is None or spark.sparkContext.master != master:
            if spark is not None:
                spark.stop()
            with spans.span(f"setup.{master}"):
                spark = get_spark(f"perfbench-{wl.name}", master=master)
                spark.sparkContext.setLogLevel("ERROR")
                if not os.path.isdir(corpus.tiles):
                    with spans.span("setup.generate"):
                        corpus.generate(spark)
                if not wl.pool:  # the traced phase reuses the corpus
                    wl.load_pool()
        sc = spark.sparkContext

        def run_job(j):
            sc.setJobDescription(f"job.{j}")
            try:
                with spans.span(f"job.{kind}.{master}"):
                    if kind == "match":
                        return wl.match_job(spark)
                    return wl.job(spark)
            finally:
                sc.setJobDescription(None)

        def check_job(res, j):
            pdf, errs = (res, []) if kind == "match" else wl.output(spark,
                                                                   res)
            return (errs + wl.check(pdf, j, kind),
                    int(pdf["image_id"].nunique()))

        records = closed_loop(run_job, check_job, leg["seconds"],
                              warmup=leg["warmup"], start=n_jobs)
        if not n_jobs:
            # JVM start, corpus generation and the first warm-up job
            out["setup_s"] = records[0]["end"] - t_proc
        n_jobs += len(records)
        out["legs"].append({**leg, "jobs": records})
        if leg.get("trace"):
            with spans.span("trace.kernels"):
                out["replay"] = layers.replay_kernels(wl, spans)
            with spans.span("trace.operators"):
                out["manifests"] = layers.operator_jobs(spark, wl, spec["tmp"],
                                                        spans)
    spark.stop()
    out["n_tiles"] = corpus.n_tiles
    out["spans"] = spans.items
    with open(spec["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
