"""Checkpoint-resumable staged pipelines with per-partition lineage
manifests (north rule: "resumable from checkpoint with per-partition
lineage + metrics ... a killed run restarts from the last committed snapshot
without recomputing completed tiles").

Each stage materializes to a snapshot directory:

    <workdir>/<stage>/data/          parquet (the snapshot; on a cluster
                                     this is `df.writeTo(iceberg_table)` —
                                     no Iceberg jar in this sandbox, so a
                                     parquet dir + atomic manifest commit is
                                     the stand-in with the same protocol)
    <workdir>/<stage>/MANIFEST.json  commit record: stage fingerprint,
                                     input manifest hashes, row count,
                                     per-partition lineage (partition id ->
                                     rows), wall time, schema

The stage is written once and never read back to be counted: per-partition
rows come from the Parquet footers of the part files just written, the
schema from the stage DataFrame (so the stage data carries no extra column).

Commit protocol: data is written first, the manifest last via
write-temp-then-rename (atomic on POSIX); a stage directory without a
manifest is an uncommitted snapshot and is recomputed. `Pipeline.run`
skips any stage whose manifest exists AND whose fingerprint (stage version +
params + input manifest hashes) matches — so a killed run resumes after the
last committed stage, and changing an upstream stage invalidates everything
downstream (lineage-correct resume, not just "file exists").
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]      # (spark, **input_dfs) -> DataFrame
    inputs: list = field(default_factory=list)  # upstream stage names
    params: dict = field(default_factory=dict)  # fingerprinted
    version: str = "1"                # bump to force recompute


def _fingerprint(stage: Stage, input_hashes: dict[str, str]) -> str:
    blob = json.dumps({"name": stage.name, "version": stage.version,
                       "params": stage.params,
                       "inputs": input_hashes}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _part_files(data_dir: str) -> tuple[dict[str, int], int]:
    """(rows per partition id, bytes) of a written stage. The task of
    partition NNNNN writes `part-NNNNN-*.parquet`, whose footer holds its
    row count; only a committed attempt's file is left, so retries do not
    count twice. Zero-row files are skipped: as in a scan, a partition
    without rows is absent."""
    rows: dict[str, int] = {}
    nbytes = 0
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            nbytes += os.path.getsize(path)
            n = pq.read_metadata(path).num_rows
            if n:
                k = str(int(f.split("-")[1]))
                rows[k] = rows.get(k, 0) + n
    return rows, nbytes


class Pipeline:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "MANIFEST.json")

    def read_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read_stage(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(name), "data"))

    # -- execution ----------------------------------------------------------
    def run(self, stages: list[Stage], force: bool = False) -> dict:
        """Execute stages in order; returns {stage: 'computed'|'skipped'}."""
        status: dict[str, str] = {}
        hashes: dict[str, str] = {}
        for st in stages:
            input_hashes = {i: hashes[i] for i in st.inputs}
            fp = _fingerprint(st, input_hashes)
            man = self.read_manifest(st.name)
            if man is not None and man["fingerprint"] == fp and not force:
                status[st.name] = "skipped"
                hashes[st.name] = man["manifest_hash"]
                continue
            # (re)compute
            sdir = self._dir(st.name)
            if os.path.exists(sdir):
                shutil.rmtree(sdir)
            os.makedirs(sdir)
            t0 = time.time()
            dfs = {i: self.read_output(i) for i in st.inputs}
            df = st.fn(self.spark, **dfs)
            data_dir = os.path.join(sdir, "data")
            df.write.mode("overwrite").parquet(data_dir)
            part_rows, nbytes = _part_files(data_dir)
            manifest = {
                "stage": st.name,
                "fingerprint": fp,
                "inputs": input_hashes,
                "rows": sum(part_rows.values()),
                "partitions": part_rows,
                "schema": df.schema.simpleString(),
                "bytes": nbytes,
                "wall_sec": round(time.time() - t0, 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                              time.gmtime()),
            }
            manifest["manifest_hash"] = hashlib.sha256(
                json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
            tmp = self._manifest_path(st.name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1)
            os.replace(tmp, self._manifest_path(st.name))  # atomic commit
            status[st.name] = "computed"
            hashes[st.name] = manifest["manifest_hash"]
        return status

    def read_output(self, name: str) -> DataFrame:
        # stages committed before manifests came from footers carry _part
        return self.read_stage(name).drop("_part")
