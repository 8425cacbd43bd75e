"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Smoke runs of every workload on a tiny grid through the real command, a
traced run, and a check that a corrupted output row fails its job.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
BENCH = os.path.join(REPO, "perfbench")
sys.path[:0] = [REPO, BENCH]

from jobs import closed_loop  # noqa: E402
from workloads import (  # noqa: E402
    MATCH_COLS,
    SAMPLE,
    Corpus,
    Flagship,
    oracle_matches,
    oracle_trees,
)


def bench(*args, cwd=REPO):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout, p.stderr


def declared(kind):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", ["flagship", "halo_commit"])
def test_workload_smoke(workload):
    code, out, err = bench("--workload", workload, "--seed", "5",
                           "--seconds", "1", "--grid", "3x4")
    assert code == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    # a warm-up and at least three timed jobs on each of the three legs
    assert res["attempted"] >= 12
    assert set(res["metrics"]) == declared("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert "seed=5" in out


def test_traced_run_writes_layers_and_spans():
    code, out, err = bench("--workload", "flagship", "--seed", "6",
                           "--seconds", "1", "--grid", "3x4", "--trace", "1")
    assert code == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"]
    assert set(res["metrics"]) == declared("per_layer")
    ratio = res["metrics"]["kernels.segmentation.replay_sum_ratio"]["value"]
    assert 0.9 < ratio < 1.1
    stem = os.path.join(REPO, ".perfbench_out", "flagship-seed6")
    with open(stem + "-spans.json") as f:
        spans = json.load(f)
    assert {"name", "start", "end", "parent", "run"} <= set(spans[0])
    assert any(s["name"] == "kernels.segmentation.watershed" for s in spans)
    with open(stem + "-layers.json") as f:
        assert set(json.load(f)["layers"]) == declared("per_layer")


def test_rates_are_scaled_by_the_host_probe():
    """A leg whose probes took twice the reference time ran on a host at
    half the reference speed: its scaled job time is half the raw one."""
    from jobs import host_probe_s
    from run import PROBE_REF_S, ref_time

    def job(s, probe_s, warmup=False):
        return {"s": s, "probe_s": probe_s, "ok": True, "warmup": warmup}

    ref = PROBE_REF_S
    leg = {"jobs": [job(9.0, 5 * ref, warmup=True), job(2.0, ref),
                    job(3.0, ref), job(4.0, ref)]}
    assert ref_time(leg) == pytest.approx(3.0)
    for j in leg["jobs"]:
        j["probe_s"] *= 2
    assert ref_time(leg) == pytest.approx(1.5)
    assert 0 < host_probe_s() < 1


def test_refuses_a_directory_without_the_engine(tmp_path):
    code, out, _ = bench("--workload", "flagship", "--seed", "1",
                         "--seconds", "1", cwd=str(tmp_path))
    assert code != 0 and out == ""


def test_corrupted_row_fails_its_job(tmp_path):
    """One `d` flipped in a sampled group, and one in a group no check
    samples: both jobs fail, through the recompute and the digest, on
    chain and match jobs alike."""
    from lidartree_spark.generator import gen_tile_row

    corpus = Corpus(str(tmp_path), seed=3, rows=3, cols=3)
    rows = [gen_tile_row(*map(int, iid[1:].split("_")))
            for iid in corpus.ids()]
    os.makedirs(corpus.tiles)
    pd.DataFrame(rows).to_parquet(os.path.join(corpus.tiles, "p.parquet"))
    wl = Flagship(corpus, str(tmp_path), seed=3)
    wl.load_pool()
    good = pd.DataFrame(
        [m for iid in corpus.ids()
         for m in oracle_matches(iid, oracle_trees(iid, wl.decoded(iid), 0))],
        columns=MATCH_COLS)

    def flipped(image_id):
        bad = good.copy()
        i = bad.index[bad["image_id"] == image_id][0]
        bad.loc[i, "d"] += 1
        return bad

    matched = set(good["image_id"])
    sampled = next(iid for iid in wl.sample(2) if iid in matched)
    unsampled = next(iid for iid in corpus.ids()
                     if iid not in wl.sample(3) and iid in matched)
    for kind in ("chain", "match"):
        if kind == "match":  # job j checks copy j mod copies
            good = pd.concat([
                good.assign(image_id=[corpus.copy_id(i, k)
                                     for i in good["image_id"]])
                for k in range(corpus.copies)])
            sampled, unsampled = (
                corpus.copy_id(sampled, 2 % corpus.copies),
                corpus.copy_id(unsampled, 3 % corpus.copies))
        outputs = {2: flipped(sampled), 3: flipped(unsampled)}
        records = closed_loop(
            lambda j: outputs.get(j, good),
            lambda pdf, j: (wl.check(pdf, j, kind), pdf["image_id"].nunique()),
            seconds=0.0, min_jobs=5)
        assert [r["ok"] for r in records] == [True, True, False, False,
                                              True, True]
        assert any("recompute" in e for e in records[2]["errors"])
        assert any("first job" in e for e in records[3]["errors"])
    assert len(wl.sample(0)) == SAMPLE
