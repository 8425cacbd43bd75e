"""Checkpoint-resume tests and the PNG tile codec."""

import numpy as np
import pytest

from lidartree_spark.plans.checkpoint import Pipeline, Stage


def test_checkpoint_resume(spark, tmp_path):
    calls = {"a": 0, "b": 0}

    def stage_a(s):
        calls["a"] += 1
        return s.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS v")

    def stage_b(s, a):
        calls["b"] += 1
        return a.groupBy((a.id % 5).alias("k")).sum("v")

    stages = [Stage("a", stage_a),
              Stage("b", stage_b, inputs=["a"], params={"mod": 5})]
    p = Pipeline(spark, str(tmp_path / "ckpt"))
    s1 = p.run(stages)
    assert s1 == {"a": "computed", "b": "computed"}
    # resume: everything skipped, no recompute
    s2 = p.run(stages)
    assert s2 == {"a": "skipped", "b": "skipped"}
    assert calls == {"a": 1, "b": 1}
    # output readable and correct
    out = p.read_output("b").collect()
    assert sum(r["sum(v)"] for r in out) == sum(2 * i for i in range(100))
    # manifest carries per-partition lineage
    man = p.read_manifest("a")
    assert man["rows"] == 100
    assert sum(man["partitions"].values()) == 100
    assert len(man["partitions"]) == 4
    # changing a param invalidates the stage AND downstream
    stages2 = [Stage("a", stage_a, params={"new": 1}),
               Stage("b", stage_b, inputs=["a"], params={"mod": 5})]
    s3 = p.run(stages2)
    assert s3 == {"a": "computed", "b": "computed"}
    # simulate kill between stages: remove b's manifest only
    import os
    os.remove(p._manifest_path("b"))
    s4 = p.run(stages2)
    assert s4 == {"a": "skipped", "b": "computed"}


def _partition_scan(df):
    """{partition id: rows} the way Pipeline.run counted before manifests
    came from Parquet footers: a spark_partition_id() scan."""
    from pyspark.sql import functions as F
    return {str(r["p"]): r["n"] for r in
            df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n")).collect()}


@pytest.mark.parametrize("where", ["id < 3", "id < 0"])
def test_checkpoint_manifest_counts_from_footers(spark, tmp_path, where):
    """Empty partitions (id < 3 leaves 2 of 4 empty) and a zero-row stage:
    the manifest's rows and partitions equal a partition scan of the same
    DataFrame, and the committed data carries no bookkeeping column."""
    def stage(s):
        return s.range(0, 10, 1, 4).where(where)

    p = Pipeline(spark, str(tmp_path / "ckpt"))
    assert p.run([Stage("a", stage)]) == {"a": "computed"}
    man = p.read_manifest("a")
    scan = _partition_scan(stage(spark))
    assert man["partitions"] == scan
    assert man["rows"] == sum(scan.values())
    assert man["schema"] == "struct<id:bigint>"
    assert p.read_stage("a").columns == ["id"]


def test_checkpoint_resumes_workdir_with_part_column(spark, tmp_path):
    """A stage committed when the data carried a `_part` column (the
    partition id, written beside the rows) resumes as skipped and reads
    back without it; a recomputed downstream stage does not inherit it."""
    import hashlib
    import json
    import os

    from pyspark.sql import functions as F

    from lidartree_spark.plans.checkpoint import _fingerprint

    def stage_a(s):
        return s.range(0, 10, 1, 4)

    def stage_b(s, a):
        return a.where("id % 2 = 0")

    stages = [Stage("a", stage_a), Stage("b", stage_b, inputs=["a"])]
    wd = tmp_path / "old"
    data = wd / "a" / "data"
    stage_a(spark).withColumn("_part", F.spark_partition_id()) \
        .write.parquet(str(data))
    man = {"stage": "a", "fingerprint": _fingerprint(stages[0], {}),
           "inputs": {}, "rows": 10,
           "partitions": _partition_scan(stage_a(spark)),
           "schema": "struct<id:bigint>", "bytes": 0, "wall_sec": 0.0,
           "committed_at": "2026-10-17T00:00:00Z"}
    man["manifest_hash"] = hashlib.sha256(
        json.dumps(man, sort_keys=True).encode()).hexdigest()[:16]
    with open(os.path.join(wd, "a", "MANIFEST.json"), "w") as f:
        json.dump(man, f)

    p = Pipeline(spark, str(wd))
    assert p.run(stages) == {"a": "skipped", "b": "computed"}
    a = p.read_output("a")
    assert a.columns == ["id"]
    assert sorted(r.id for r in a.collect()) == list(range(10))
    assert p.read_stage("b").columns == ["id"]
    assert p.read_manifest("b")["rows"] == 5


def test_real_png_codec_roundtrip_and_filters():
    """Spec-compliant PNG: signature/CRC valid, lossless round trip on the
    1/256 grid with NaN sentinel, and decode of a crafted file using every
    scanline filter type (0-4)."""
    import struct
    import zlib

    from lidartree_spark.codecs import decode_png_gray16, encode_png_gray16

    rng = np.random.default_rng(31)
    a = np.round(rng.uniform(0, 40, (32, 48)) * 256).astype(np.float32) / 256
    a[3, 5] = np.nan
    buf = encode_png_gray16(a)
    assert buf[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png_gray16(buf)
    m = ~np.isnan(a)
    assert np.array_equal(out[m], a[m]) and np.isnan(out[3, 5])

    h, w, bpp = 5, 4, 2
    vals = (np.arange(h * w, dtype=np.uint16).reshape(h, w) * 997) % 0xFFFE
    rows = np.frombuffer(vals.astype(">u2").tobytes(),
                         np.uint8).reshape(h, w * 2).astype(np.int32)
    filtered = np.zeros((h, w * 2 + 1), np.uint8)
    prev = np.zeros(w * 2, np.int32)
    for y in range(h):
        ftype, cur = y % 5, rows[y]
        f = np.empty(w * 2, np.int32)
        for x in range(w * 2):
            left = cur[x - bpp] if x >= bpp else 0
            up, ul = prev[x], (prev[x - bpp] if x >= bpp else 0)
            if ftype == 0:
                f[x] = cur[x]
            elif ftype == 1:
                f[x] = cur[x] - left
            elif ftype == 2:
                f[x] = cur[x] - up
            elif ftype == 3:
                f[x] = cur[x] - (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else \
                    (up if pb <= pc else ul)
                f[x] = cur[x] - pred
        filtered[y] = np.concatenate([[ftype], f & 0xFF])
        prev = cur

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(filtered.tobytes()))
           + chunk(b"IEND", b""))
    assert np.allclose(decode_png_gray16(png), vals.astype(np.float32) / 256)
