"""LASzip (.laz) decode gates (lidartree_spark/laz.py).

The headline gate decodes the reference's own bundled tile
(/root/reference/inst/extdata/las_chablais3.laz — the file the
reference reads at common.R:16-20) and checks the decoded integer
min/max X/Y/Z against the LAS header's bounding box EXACTLY. Adaptive
arithmetic coding desynchronizes catastrophically on any model or
context slip, so an exact bbox over the full 92 097-point, 2-chunk
stream is a stream-wide checksum, not a spot check.
"""

import os
import struct

import numpy as np
import pytest

from lidartree_spark.queries.interchange import CHABLAIS3

needs_chablais = pytest.mark.skipif(not os.path.exists(CHABLAIS3),
                                    reason="reference .laz not present")


@pytest.fixture(scope="module")
def chablais_buf():
    with open(CHABLAIS3, "rb") as f:
        return f.read()


@pytest.fixture(scope="module")
def chablais_df(chablais_buf):
    from lidartree_spark.laz import decode_laz_points
    return decode_laz_points(chablais_buf)


@needs_chablais
def test_decode_count_and_exact_bbox(chablais_buf, chablais_df):
    from lidartree_spark.las import decode_las_header
    hdr = decode_las_header(chablais_buf, allow_laz=True)
    df = chablais_df
    assert len(df) == hdr["n_records"] == 92097
    xmax, xmin, ymax, ymin, zmax, zmin = struct.unpack_from(
        "<6d", chablais_buf, 179)
    # exact to the last scale unit (0.01 m): decoded ints * scale
    assert df.x.min() == xmin and df.x.max() == xmax
    assert df.y.min() == ymin and df.y.max() == ymax
    assert df.z.min() == zmin and df.z.max() == zmax


@needs_chablais
def test_decode_attribute_sanity(chablais_df):
    df = chablais_df
    # chablais3 holds returns 1-2 and ground/vegetation classes only
    assert set(df.return_number.unique()) == {1, 2}
    assert (df.n_returns >= df.return_number).all()
    assert df.intensity.between(0, 65535).all()
    assert np.isfinite(df.gps_time).all()
    # gps times are week seconds: monotone-ish flight lines, all positive
    assert df.gps_time.min() > 0


@needs_chablais
def test_laz_roundtrip_through_own_writer(chablais_df, tmp_path, spark):
    """Decoded .laz points survive the engine's own LAS 1.2 writer and
    distributed reader bit-exactly (same 0.01 grid => quantization is a
    no-op)."""
    from lidartree_spark.las import read_las, write_las
    pdf = chablais_df.sort_values(["gps_time", "x", "y"]).head(20000)
    sdf = spark.createDataFrame(
        pdf[["x", "y", "z", "intensity", "classification", "gps_time",
             "return_number"]])
    out = str(tmp_path / "rt")
    # offset (0,0,0): reader and writer then share the exact expression
    # X_int * 0.01 + 0.0, so the double round-trip is bit-identical (a
    # different offset reconstructs the same coordinate one ulp away)
    write_las(sdf.repartition(4), out, scale=(0.01, 0.01, 0.01),
              offset=(0.0, 0.0, 0.0)).collect()
    back = read_las(spark, out).toPandas()
    assert len(back) == 20000
    for col in ("x", "y", "z"):
        a = np.sort(pdf[col].to_numpy())
        b = np.sort(back[col].to_numpy())
        assert np.array_equal(a, b), col


@needs_chablais
def test_distributed_read_las_matches_driver_decode(chablais_df, spark):
    from lidartree_spark.las import read_las
    df = read_las(spark, CHABLAIS3)
    import pyspark.sql.functions as F
    row = df.agg(
        F.count("*").alias("n"),
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.sum("return_number").alias("rsum"),
        F.sum("classification").alias("csum")).collect()[0]
    assert row["n"] == len(chablais_df)
    assert row["xmin"] == chablais_df.x.min()
    assert row["xmax"] == chablais_df.x.max()
    assert row["rsum"] == int(chablais_df.return_number.sum())
    assert row["csum"] == int(chablais_df.classification.sum())


def test_unsupported_variants_fail_loudly():
    from lidartree_spark.laz import parse_laz_vlr

    def vlr_bytes(compressor=2, coder=0, items=((6, 20, 2), (7, 8, 2))):
        body = struct.pack("<HHBBHIiqqH", compressor, coder, 2, 2, 0, 0,
                           50000, 0, 0, len(items))
        for it in items:
            body += struct.pack("<HHH", *it)
        hdr = bytearray(227)
        hdr[0:4] = b"LASF"
        hdr[24], hdr[25] = 1, 2
        struct.pack_into("<H", hdr, 94, 227)
        struct.pack_into("<I", hdr, 100, 1)
        rec = struct.pack("<H16sHH32s", 0, b"laszip encoded", 22204,
                          len(body), b"")
        return bytes(hdr) + rec + body

    with pytest.raises(NotImplementedError, match="compressor 3"):
        parse_laz_vlr(vlr_bytes(compressor=3))
    with pytest.raises(NotImplementedError, match="coder 1"):
        parse_laz_vlr(vlr_bytes(coder=1))
    with pytest.raises(NotImplementedError, match="item type=8"):
        parse_laz_vlr(vlr_bytes(items=((6, 20, 2), (8, 6, 2))))
    with pytest.raises(NotImplementedError, match="item.*version=1"):
        parse_laz_vlr(vlr_bytes(items=((6, 20, 1),)))


@needs_chablais
def test_read_las_small_chunk_records_does_not_truncate(spark):
    """chunk_records governs the UNCOMPRESSED record-range split only; a
    .laz manifest row is one whole LASzip chunk and must never be capped
    by it (a 30k cap on 50k-point chunks would silently drop points)."""
    from lidartree_spark.las import read_las
    n = read_las(spark, CHABLAIS3, chunk_records=30_000).count()
    assert n == 92097


def test_variable_chunking_fails_loudly():
    from lidartree_spark.laz import parse_laz_vlr

    body = struct.pack("<HHBBHIIqqH", 2, 0, 2, 2, 0, 0, 0xFFFFFFFF,
                       0, 0, 1) + struct.pack("<HHH", 6, 20, 2)
    hdr = bytearray(227)
    hdr[0:4] = b"LASF"
    hdr[24], hdr[25] = 1, 2
    struct.pack_into("<H", hdr, 94, 227)
    struct.pack_into("<I", hdr, 100, 1)
    rec = struct.pack("<H16sHH32s", 0, b"laszip encoded", 22204,
                      len(body), b"")
    with pytest.raises(NotImplementedError, match="variable-size"):
        parse_laz_vlr(bytes(hdr) + rec + body)


def test_zero_point_chunk_and_stream():
    from lidartree_spark.laz import decode_chunk
    c = decode_chunk(b"", 0, 0, True)
    assert all(len(v) == 0 for v in c.values())


def test_encode_roundtrip_random_multichunk():
    """Encoder-decoder self-consistency on adversarial (incompressible)
    data spanning 3 chunks: every attribute survives exactly."""
    import numpy as np
    from lidartree_spark.laz import decode_laz_points, encode_laz
    rng = np.random.default_rng(11)
    n = 100_001  # 3 chunks; the last holds exactly ONE point (the raw-
    # record-only path in compress_chunk/decode_chunk)
    x = np.round(rng.uniform(0, 500, n), 2)
    y = np.round(rng.uniform(0, 500, n), 2)
    z = np.round(rng.uniform(0, 60, n), 2)
    inten = rng.integers(0, 4000, n)
    cls = rng.choice([2, 4, 5, 15], n)
    rn = rng.choice([1, 2, 3], n)
    gps = np.sort(rng.uniform(1e5, 1e5 + 600, n))
    buf = encode_laz(x, y, z, classification=cls, intensity=inten,
                     gps_time=gps, return_number=rn,
                     scale=(0.01, 0.01, 0.01))
    df = decode_laz_points(buf)
    assert len(df) == n
    for col, want in (("intensity", inten), ("classification", cls),
                      ("return_number", rn)):
        assert np.array_equal(df[col].to_numpy().astype(np.int64),
                              np.asarray(want, np.int64)), col
    for col, src in (("x", x), ("y", y), ("z", z)):
        assert np.array_equal(df[col].to_numpy(),
                              np.rint(src / 0.01) * 0.01), col
    assert np.array_equal(df.gps_time.to_numpy(), gps)


def test_encode_gpstime_jumps_and_constants():
    """GPSTIME11's sequence machinery: constant stamps, 32-bit steps,
    and >32-bit jumps (full rewrites) all round-trip."""
    import numpy as np
    from lidartree_spark.laz import decode_laz_points, encode_laz
    n = 3000
    gps = np.empty(n)
    gps[:1000] = 5.0                       # constant (0diff unchanged)
    gps[1000:2000] = 5.0 + np.arange(1000) * 1e-4   # small multiplier path
    gps[2000:] = 1e9 + np.arange(1000) * 7.0        # huge jump -> full
    x = np.arange(n) * 0.01
    buf = encode_laz(x, x, x, gps_time=gps, scale=(0.01, 0.01, 0.01))
    df = decode_laz_points(buf)
    assert np.array_equal(df.gps_time.to_numpy(), gps)


@needs_chablais
def test_reencode_real_data_exact_and_compact(chablais_df):
    """Re-encoding the decoded reference tile round-trips every column
    exactly and compresses at least as well as the reference's own
    laszip stream did (measured: 392,939 vs 393,020 bytes at full
    attribute fidelity)."""
    import numpy as np
    from lidartree_spark.laz import decode_laz_points, encode_laz
    df = chablais_df
    buf2 = encode_laz(df.x.to_numpy(), df.y.to_numpy(), df.z.to_numpy(),
                      classification=df.classification.to_numpy(),
                      intensity=df.intensity.to_numpy(),
                      gps_time=df.gps_time.to_numpy(),
                      return_number=df.return_number.to_numpy(),
                      n_returns=df.n_returns.to_numpy(),
                      scale=(0.01, 0.01, 0.01))
    assert len(buf2) < 28 * len(df) / 6  # >6x vs raw records
    df2 = decode_laz_points(buf2)
    for c in ("x", "y", "z", "intensity", "classification", "gps_time",
              "return_number", "n_returns"):
        assert np.array_equal(df[c].to_numpy(), df2[c].to_numpy()), c


@needs_chablais
def test_write_laz_sink_reads_back(chablais_df, tmp_path, spark):
    """Distributed compressed sink: write_laz -> read_las round-trip."""
    import numpy as np
    from lidartree_spark.las import read_las, write_laz
    pdf = chablais_df.head(30000)
    sdf = spark.createDataFrame(
        pdf[["x", "y", "z", "intensity", "classification", "gps_time"]])
    out = str(tmp_path / "sink")
    res = write_laz(sdf.repartition(3), out,
                    scale=(0.01, 0.01, 0.01)).collect()
    assert sum(r["n_records"] for r in res) == 30000
    assert all(r["path"].endswith(".laz") for r in res)
    back = read_las(spark, out).toPandas()
    assert len(back) == 30000
    for col in ("x", "y", "z"):
        assert np.array_equal(np.sort(pdf[col].to_numpy()),
                              np.sort(back[col].to_numpy())), col


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    @settings(max_examples=15, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 2500),
           st.booleans())
    def test_encode_roundtrip_property(seed, n, with_gps):
        """Property guard: ANY attribute pattern round-trips exactly —
        clustered coords, correlated returns, constant runs, sign
        flips; both point formats."""
        import numpy as np
        from lidartree_spark.laz import decode_laz_points, encode_laz
        rng = np.random.default_rng(seed)
        # mix smooth flight-line-ish coords with hard jumps
        x = np.round(np.cumsum(rng.choice([-5, -0.01, 0, 0.01, 5], n)), 2)
        y = np.round(np.cumsum(rng.choice([-3, 0, 0.02], n)), 2)
        z = np.round(rng.uniform(-100, 100, n), 2)
        rn = rng.integers(1, 8, n)
        nr = np.maximum(rn, rng.integers(1, 8, n))
        kw = {}
        if with_gps:
            kw["gps_time"] = np.where(
                rng.random(n) < 0.3, 42.0,
                np.round(rng.uniform(-1e6, 1e9, n), 6))
        buf = encode_laz(x, y, z,
                         classification=rng.integers(0, 256, n),
                         intensity=rng.integers(0, 65536, n),
                         return_number=rn, n_returns=nr,
                         scale=(0.01, 0.01, 0.01), chunk_size=997, **kw)
        df = decode_laz_points(buf)
        assert len(df) == n
        assert np.array_equal(df.x.to_numpy(), np.rint(x / 0.01) * 0.01)
        assert np.array_equal(df.y.to_numpy(), np.rint(y / 0.01) * 0.01)
        assert np.array_equal(df.z.to_numpy(), np.rint(z / 0.01) * 0.01)
        assert np.array_equal(df.return_number.to_numpy(), rn)
        assert np.array_equal(df.n_returns.to_numpy(), nr)
        if with_gps:
            assert np.array_equal(df.gps_time.to_numpy(), kw["gps_time"])


def test_header_laz_gate():
    """decode_las_header still refuses LAZ unless the caller opts in."""
    from lidartree_spark.las import decode_las_header
    hdr = bytearray(227)
    hdr[0:4] = b"LASF"
    hdr[24], hdr[25] = 1, 2
    hdr[104] = 0x80 | 1
    struct.pack_into("<H", hdr, 94, 227)
    struct.pack_into("<H", hdr, 105, 28)
    with pytest.raises(NotImplementedError, match="LAZ"):
        decode_las_header(bytes(hdr))
    h = decode_las_header(bytes(hdr), allow_laz=True)
    assert h["laz"] and h["point_format"] == 1
    # LAZ base formats beyond 1 (e.g. RGB format 3) stay loud-fail
    hdr[104] = 0x80 | 3
    with pytest.raises(NotImplementedError, match="base point format 3"):
        decode_las_header(bytes(hdr), allow_laz=True)
