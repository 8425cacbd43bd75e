"""North-rule evidence: the engine runs via spark-submit --py-files as a
packaged zip (tools/submit.sh), and a rerun resumes from the committed
checkpoint manifests instead of recomputing (plans/checkpoint.py).

This launches REAL spark-submit subprocesses (fresh JVMs — the same
execution path a cluster uses), so it is the slowest test in the suite;
it is also the only one that proves the --py-files packaging actually
imports (a broken zip or a module-level dependency on repo-relative paths
would pass every in-process test and die only here).
"""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_submit_runs_and_resumes(tmp_path):
    env = {**os.environ,
           "LIDARTREE_CKPT_DIR": str(tmp_path / "ckpt"),
           "LIDARTREE_GRID": "4",
           # --master must win over get_spark's local[SPARK_GRAFT_CPUS]
           "SPARK_MASTER": "local[8]",
           "SPARK_GRAFT_CPUS": "4",
           "SPARK_GRAFT_SHUFFLE": "8"}

    def run():
        proc = subprocess.run(
            [os.path.join(REPO, "tools", "submit.sh")],
            capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = {}
        for line in proc.stdout.splitlines():
            if line.startswith(("STATUS ", "MATCHED ", "MASTER ",
                                "ARROW_BATCH ")):
                k, _, v = line.partition(" ")
                out[k] = v
        return out

    first = run()
    assert "MATCHED" in first and int(first["MATCHED"]) > 0
    # the job's config comes from get_spark, its master from spark-submit
    assert first["MASTER"] == "local[8]"
    assert first["ARROW_BATCH"] == "1024"
    assert first["STATUS"].count("computed") == 4

    second = run()  # fresh JVM, same checkpoint dir -> everything resumes
    assert second["MATCHED"] == first["MATCHED"]
    assert second["STATUS"].count("skipped") == 4
    assert "computed" not in second["STATUS"]
