"""Unit tests for the numpy kernel library against hand-computed expectations
mirroring the reference's roxygen examples (SURVEY.md §5)."""

import numpy as np
import pytest

from lidartree_spark.codecs import decode_tile, encode_tile, phash64, psnr
from lidartree_spark.generator import gen_tile, gen_tile_row
from lidartree_spark.kernels import (
    create_disk,
    dem_filtering,
    gini,
    grey_closing,
    grey_dilate,
    grey_erode,
    hist_detection,
    label_components,
    maxima_detection,
    maxima_selection,
    median_filter,
    quantile_type7,
    raster_zonal_stats,
    seg_adjust,
    segmentation,
    tree_extraction,
    tree_matching,
    tree_segmentation,
    watershed,
)
from lidartree_spark.kernels.gaps import edge_detection, gap_detection
from lidartree_spark.kernels.stats import height_regression_stats, plane_metrics


def test_create_disk():
    d5 = create_disk(5)
    # row/col offsets with i^2+j^2 <= 4 (tree_detection.R:219-232)
    assert d5.shape == (5, 5)
    assert d5[2, 2] and d5[0, 2] and d5[2, 0]
    assert not d5[0, 0] and bool(d5[1, 1])  # corners out, diagonal-adjacent in
    assert d5.sum() == 13
    with pytest.raises(ValueError):
        create_disk(4)


def test_dilate_erode_close():
    a = np.zeros((7, 7))
    a[3, 3] = 5.0
    d = grey_dilate(a, np.ones((3, 3), bool))
    assert d[2:5, 2:5].min() == 5.0 and d[0, 0] == 0.0
    e = grey_erode(d, np.ones((3, 3), bool))
    assert e[3, 3] == 5.0 and e[2, 2] == 0.0
    # closing removes small dark holes
    b = np.full((7, 7), 4.0)
    b[3, 3] = 0.0
    c = grey_closing(b, create_disk(3))
    assert c[3, 3] == 4.0


def test_median_filter():
    a = np.arange(25, dtype=float).reshape(5, 5)
    m = median_filter(a, 3)
    assert m[2, 2] == 12.0  # median of the centered 3x3 block
    assert m.shape == a.shape


def test_maxima_detection_single_peak():
    a = np.zeros((21, 21))
    a[10, 10] = 10.0
    # res=1, max_width=11 -> max_radius=5; lone peak dominates all tested radii
    maxi = maxima_detection(a, res=1.0, max_width=11.0)
    assert maxi[10, 10] == 6.0  # (r+1)*res = (5+1)*1
    # flat zero background is "maximum" too (0==dilate in flat areas)
    assert maxi[0, 0] > 0


def test_maxima_detection_two_peaks():
    a = np.zeros((30, 30))
    a[10, 10] = 10.0
    a[10, 16] = 8.0  # 6 px away: smaller peak dominated at radius >= 6
    maxi = maxima_detection(a, res=1.0, max_width=21.0)  # max_radius=10
    assert maxi[10, 10] == 11.0  # global max within all tested windows
    # smaller peak: window of radius 5 still excludes (10,10)? |dx|=6 -> radii 1..5 ok
    assert maxi[10, 16] == 6.0


def test_maxima_selection():
    maxi = np.array([[2.0, 0.0], [3.0, 4.0]])
    dem = np.array([[10.0, 10.0], [3.0, 60.0]])
    out = maxima_selection(maxi, dem, hmin=5.0, dmin=0.0, dprop=0.05)
    assert out[1, 0] == 0.0  # height 3 < hmin
    assert out[0, 0] == 2.0  # 2 >= 0.05*10
    assert out[1, 1] == 4.0  # 4 >= 3 (0.05*60)
    out2 = maxima_selection(maxi, dem, hmin=0.0, dmin=0.0, dprop=0.5)
    assert out2[0, 0] == 0.0  # 2 < 5


def test_watershed_two_seeds():
    pri = np.array([
        [9, 8, 1, 8, 9],
        [9, 8, 1, 8, 9],
        [9, 8, 1, 8, 9],
    ], dtype=float)
    seeds = np.zeros_like(pri, dtype=np.int64)
    seeds[1, 0] = 1
    seeds[1, 4] = 2
    lab = watershed(seeds, pri)
    assert (lab[:, :2] == 1).all() and (lab[:, 3:] == 2).all()
    assert set(np.unique(lab[:, 2])) <= {1, 2}  # valley split deterministically


def test_zonal_and_adjust():
    seg = np.array([[1, 1, 2], [1, 2, 2]])
    val = np.array([[5.0, 7.0, 2.0], [6.0, 3.0, 1.0]])
    zs = raster_zonal_stats(seg, val)
    assert zs[0, 0] == 7.0 and zs[1, 2] == 3.0
    adj = seg_adjust(seg, zs, val, prop=0.5, min_value=2.0, min_maxvalue=3.0)
    assert adj[0, 1] == 1          # 7 >= 0.5*7
    assert adj[1, 1] == 2          # 3 >= 1.5, >= 2
    assert adj[1, 2] == 0          # 1 < min_value
    adj2 = seg_adjust(seg, zs, val, prop=0.0, min_value=0.0, min_maxvalue=10.0)
    assert (adj2 == 0).all()       # all segment maxima < 10


def test_label_components():
    m = np.array([
        [1, 1, 0, 1],
        [0, 1, 0, 1],
        [1, 0, 0, 1],
    ])
    lab = label_components(m)
    assert lab[0, 0] == lab[1, 1] == 1      # 4-connected
    assert lab[0, 3] == lab[2, 3]
    assert lab[2, 0] not in (0, lab[0, 0], lab[0, 3])
    assert lab.max() == 3


def test_tree_matching_reference_example():
    """The 5-ref x 4-det example of tree_match.R:33-41."""
    ref = np.array([[1, 1, 15], [4, 1, 18], [3, 2, 20], [4, 3, 10], [2, 4, 11]],
                   dtype=float)
    det = np.array([[2, 1, 16], [2, 3, 19], [4, 4, 9], [4, 1, 15]], dtype=float)
    m1 = tree_matching(ref, det)  # delta_ground=2.1, h_prec=0.14
    # independently computed greedy result (cost matrix by hand):
    # norm_f = (2.1 + 0.14*H)^2 per ref tree
    norm = (2.1 + 0.14 * ref[:, 2]) ** 2
    d2 = ((det[:, None, :] - ref[None, :, :]) ** 2).sum(2)
    dn = np.minimum(d2 / norm[None, :], 1.0)
    pairs = []
    alive_d, alive_r = [True] * 4, [True] * 5
    while True:
        best, bi = 1.0, None
        for r in range(5):
            for d in range(4):
                if alive_d[d] and alive_r[r] and dn[d, r] < best:
                    best, bi = dn[d, r], (r, d)
        if bi is None:
            break
        pairs.append((bi[0] + 1, bi[1] + 1))
        alive_r[bi[0]], alive_d[bi[1]] = False, False
    assert [(p["r"], p["d"]) for p in m1] == pairs
    assert len(m1) >= 2
    # strict parameterization (delta_ground=2, h_prec=0) -> fewer/equal matches
    m2 = tree_matching(ref, det, delta_ground=2.0, h_prec=0.0)
    assert len(m2) <= len(m1)
    # stats fields
    r0 = m1[0]
    assert "h_diff" in r0 and "plan_diff" in r0
    cnt = hist_detection(5, 4, m1)
    assert cnt["true_detections"] == len(m1)
    assert cnt["omissions"] == 5 - len(m1)
    assert cnt["false_detections"] == 4 - len(m1)


def test_tree_matching_tiebreak():
    """Two refs equidistant from one det: smallest ref index wins (R
    column-major which(), tree_match.R:88)."""
    ref = np.array([[0, 0, 10], [2, 0, 10]], dtype=float)
    det = np.array([[1, 0, 10]], dtype=float)
    m = tree_matching(ref, det)
    assert [(p["r"], p["d"]) for p in m] == [(1, 1)]


@pytest.mark.parametrize("side, col", [(0, 2), (1, 0)])
def test_match_groups_nan_cost_names_group(side, col):
    """A NaN pair cost (here a NaN ref height or det x) raises ValueError
    naming the group; R's loop stops on NA too. A group with one empty side
    is skipped, NaN or not."""
    from lidartree_spark.kernels.matching import match_groups
    xyz = np.array([[0, 0, 10], [1, 0, 10],      # "a": 1 ref, 1 det
                    [np.nan, 0, 10],             # "b": 1 ref, no det
                    [0, 0, 10], [1, 0, 10]],     # "c": 1 ref, 1 det
                   dtype=float)
    starts, n_ref = [0, 2, 3, 5], [1, 1, 1]
    keys = np.array(["a", "b", "c"], dtype=object)
    g, ri, di = match_groups(xyz, starts, n_ref, keys=keys)
    assert (g.tolist(), ri.tolist(), di.tolist()) == ([0, 2], [0, 3], [1, 4])
    xyz[3 + side, col] = np.nan
    with pytest.raises(ValueError, match="group 'c'"):
        match_groups(xyz, starts, n_ref, keys=keys)
    with pytest.raises(ValueError, match="NaN"):
        tree_matching(xyz[3:4], xyz[4:5])


def test_quantile_type7_matches_r():
    x = np.array([1.0, 2.0, 3.0, 4.0])
    # R: quantile(1:4, .75, type=7) = 3.25
    assert quantile_type7(x, 0.75) == pytest.approx(3.25)
    assert quantile_type7(x, 0.5) == pytest.approx(2.5)


def test_gini_known_value():
    # perfect equality -> 0; for [0, 1] -> 0.5
    assert gini(np.array([3.0, 3.0, 3.0])) == pytest.approx(0.0)
    assert gini(np.array([0.0, 1.0])) == pytest.approx(0.5)


def test_plane_metrics():
    rng = np.random.default_rng(7)
    x, y = rng.uniform(0, 50, 200), rng.uniform(0, 50, 200)
    z = 100.0 + 0.1 * x  # pure east-facing slope
    m = plane_metrics(x, y, z)
    assert m["slope_gr"] == pytest.approx(np.arctan(0.1) * 400 / (2 * np.pi), abs=0.11)
    # aspect: normal points west... azimuth of steepest descent per reference formula
    assert m["azimut_gr"] == pytest.approx(300.0, abs=0.5)


def test_height_regression_stats():
    hl = np.array([10.0, 20.0, 30.0])
    hm = 2.0 + 0.9 * hl
    s = height_regression_stats(hm, hl)
    assert s["slope"] == pytest.approx(0.9)
    assert s["intercept"] == pytest.approx(2.0)


def test_codecs_roundtrip():
    _, chm, _ = gen_tile(0, 0)
    for fmt in ("raw_f32", "png16"):
        buf = encode_tile(chm, fmt)
        back = decode_tile(buf, fmt, chm.shape[1], chm.shape[0])
        m = np.isfinite(chm)
        assert np.isnan(back[~m]).all()
        tol = 0 if fmt == "raw_f32" else 1 / 256
        assert np.allclose(back[m], chm[m], atol=tol + 1e-6)
    buf = encode_tile(chm, "q8")
    back = decode_tile(buf, "q8", chm.shape[1], chm.shape[0])
    assert psnr(chm, back) >= 40.0  # input_hint lossy acceptance
    assert phash64(chm) == phash64(np.nan_to_num(chm.astype(np.float64), nan=0.0))


def test_generator_deterministic():
    r1, r2 = gen_tile_row(3, 5), gen_tile_row(3, 5)
    assert r1 == r2
    assert r1["image_id"] == "t0003_0005"


def test_tree_segmentation_end_to_end():
    _, chm, trees = gen_tile(1, 1)
    out = tree_segmentation(chm, res=0.5, hmin=5.0)
    assert set(out) == {"local_maxima", "segments_id", "filled_dem", "smoothed_dem"}
    n_max = int((out["local_maxima"] > 0).sum())
    assert n_max >= 1
    # every remaining maximum sits in a nonzero segment
    assert (out["segments_id"][out["local_maxima"] > 0] > 0).all()
    rows = tree_extraction(out["filled_dem"], out["local_maxima"],
                           out["segments_id"], x0=0.0, y1=32.0, res=0.5)
    assert len(rows) == n_max
    hs = sorted(r["h"] for r in rows)
    true_hs = sorted(t["h"] for t in trees)
    # detected heights within the plausible range of true tree heights
    assert hs[-1] <= true_hs[-1] * 1.1 + 1
    for r in rows:
        assert r["s"] > 0 and r["v"] > 0 and r["dom_radius"] > 0


def test_tree_extraction_mask_semantics():
    dem = np.array([[5.0, 6.0], [7.0, 8.0]])
    segs = np.array([[1, 1], [2, 2]])
    maxi = np.array([[0.0, 2.0], [0.0, 3.0]])
    mask = np.array([[1.0, 1.0], [np.nan, 1.0]])
    rows = tree_extraction(dem, maxi, segs, res=1.0, mask=mask)
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["sp"] == 2.0 and by_id[1]["vp"] == pytest.approx(11.0)
    assert by_id[2]["sp"] == 1.0
    assert np.isnan(by_id[2]["vp"])  # partially outside mask -> NaN (R quirk)


def test_gap_detection_basic():
    chm = np.full((40, 40), 20.0)
    chm[10:25, 10:25] = 0.0  # 15x15 gap = 225 cells
    out = gap_detection(chm, res=1.0, ratio=2.0, gap_max_height=1.0,
                        min_gap_surface=25.0)
    gid = out["gap_id"]
    assert gid[15, 15] > 0
    assert gid[0, 0] == 0
    surf = out["gap_surface"][15, 15]
    assert surf >= 100  # big gap survives the closing at low heights
    # small gap removed by min surface
    chm2 = np.full((40, 40), 20.0)
    chm2[5:7, 5:7] = 0.0
    out2 = gap_detection(chm2, res=1.0, ratio=None, gap_max_height=1.0,
                         min_gap_surface=25.0)
    assert (out2["gap_id"] == 0).all()


def test_edge_detection():
    g = np.zeros((10, 10))
    g[3:7, 3:7] = 1.0
    inside = edge_detection(g, inside=True)
    outside = edge_detection(g, inside=False)
    assert inside[3, 3] == 1.0 and inside[5, 5] == 0.0
    assert outside[2, 3] == 1.0 and outside[0, 0] == 0.0


def test_dem_filtering_value_dependent_sigma():
    _, chm, _ = gen_tile(2, 2)
    out = dem_filtering(chm, nl_filter="Median", nl_size=3,
                        sigma=[(0.2, 0.0), (0.8, 15.0)], res=0.5)
    assert out["smoothed_image"].shape == chm.shape
    out2 = dem_filtering(chm, nl_filter="Closing", nl_size=5, sigma=0.3, res=0.5)
    fin = np.nan_to_num(chm.astype(np.float64), nan=0.0)
    assert (out2["non_linear_image"] >= fin - 1e-9).all()  # closing is extensive


def test_watershed_packed_equals_tuple_formulation():
    """The packed-int heap must reproduce the tuple heap bit-exactly,
    including tie-breaking on flat regions."""
    import numpy as np
    from lidartree_spark.generator import gen_tile
    from lidartree_spark.kernels.detection import (
        dem_filtering,
        maxima_detection,
        maxima_selection,
    )
    from lidartree_spark.kernels.segmentation import _watershed_tuple, watershed
    for i in range(12):
        _, chm, _ = gen_tile(i, 3)
        f = dem_filtering(np.nan_to_num(chm), res=0.5)
        m = maxima_selection(maxima_detection(f["smoothed_image"], res=0.5),
                             f["non_linear_image"], hmin=0.0)
        seeds = np.zeros(m.shape, np.int64)
        ys, xs = np.nonzero(m > 0)
        seeds[ys, xs] = np.arange(1, len(ys) + 1)
        if len(ys) == 0:
            continue
        fast = watershed(seeds, f["non_linear_image"])
        ref = _watershed_tuple(seeds, f["non_linear_image"])
        assert (fast == ref).all()
    # A 1 x 349,600 strip pads to 1,048,806 px, so 3 * nbits = 63: the
    # packed Python-int key outgrows int64 and must still order exactly.
    n = 349_600
    assert 3 * ((1 + 2) * (n + 2)).bit_length() > 62
    rng = np.random.default_rng(12)
    pri = rng.integers(0, 50, (1, n)).astype(np.float64)
    seeds = np.zeros((1, n), np.int64)
    at = rng.choice(n, 40, replace=False)
    seeds[0, at] = np.arange(1, 41)
    assert (watershed(seeds, pri) == _watershed_tuple(seeds, pri)).all()


def test_binary_disk_morphology_matches_grey():
    """Chord-decomposed binary dilate/erode/closing == thresholded grey
    rank filters with the same disk, including clipped-window borders."""
    import numpy as np
    from lidartree_spark.kernels.morphology import (
        binary_closing_disk,
        binary_dilate_disk,
        binary_erode_disk,
        create_disk,
        grey_closing,
        grey_dilate,
        grey_erode,
    )
    rng = np.random.default_rng(17)
    for width in (3, 5, 9, 15, 21):
        for density in (0.05, 0.5, 0.95):
            a = (rng.random((40, 56)) < density).astype(np.float64)
            se = create_disk(width)
            assert (binary_dilate_disk(a, width)
                    == (grey_dilate(a, se) > 0)).all()
            assert (binary_erode_disk(a, width)
                    == (grey_erode(a, se) > 0)).all()
            assert (binary_closing_disk(a, width)
                    == (grey_closing(a, se) > 0)).all()


def test_label_components_vectorized_equals_twopass():
    """Vectorized CCL == sequential two-pass union-find, including label
    NUMBERING (row-major first-pixel order), on random densities and a
    spiral (worst case for naive propagation)."""
    import numpy as np
    from lidartree_spark.kernels.segmentation import (
        _label_components_twopass,
        label_components,
    )
    rng = np.random.default_rng(23)
    for density in (0.05, 0.4, 0.6, 0.95):
        for _ in range(5):
            m = rng.random((48, 64)) < density
            assert (label_components(m)
                    == _label_components_twopass(m)).all()
    s = np.zeros((50, 50), bool)
    s[0, :] = True; s[:, -1] = True; s[-1, :] = True
    s[2:, 0] = True; s[2, 2:-2] = True
    assert (label_components(s) == _label_components_twopass(s)).all()


def test_ellipses4crown_ring():
    """lidaRtRee's ellipses4Crown: one closed counter-clockwise ring made of
    four quarter ellipses (NE, NW, SW, SE), each quarter traversed in ring
    order so the outline never doubles back or self-intersects."""
    from lidartree_spark.kernels.geometry import ellipses4crown, ring_to_wkt
    x, y, n, s, e, w = 10.0, 20.0, 4.0, 1.0, 3.0, 2.0
    (ring,) = ellipses4crown(x, y, n, s, e, w)
    assert (ring[0] == ring[-1]).all()
    px, py = ring[:, 0], ring[:, 1]
    area = 0.5 * float(np.sum(px[:-1] * py[1:] - px[1:] * py[:-1]))
    expect = np.pi / 4 * (e * n + w * n + w * s + e * s)
    assert area > 0 and abs(area / expect - 1) < 0.005
    assert np.hypot(*np.diff(ring, axis=0).T).max() < 0.5
    for p in ((x + e, y), (x, y + n), (x - w, y), (x, y - s)):
        assert np.isclose(ring, p).all(axis=1).any(), p
    wkt = ring_to_wkt(ring)
    assert wkt.startswith("POLYGON ((") and wkt.endswith("))")
    verts = wkt[len("POLYGON (("):-2].split(", ")
    assert len(verts) == len(ring) and verts[0] == verts[-1]


def test_polar2projected_hand_cases():
    """Azimuth and slope in gradians, clockwise from north; half the
    diameter is added to the distance (lidaRtRee's polar2Projected)."""
    from lidartree_spark.kernels.geometry import polar2projected
    x, y, z = polar2projected(
        [1.0, 1.0, 1.0, 1.0], [2.0, 2.0, 2.0, 2.0], [3.0, 3.0, 3.0, 3.0],
        azimut_gr=[0.0, 100.0, 200.0, 300.0],
        dist=[10.0, 10.0, 2.0 * np.sqrt(2.0), 10.0],
        slope_gr=[0.0, 0.0, 50.0, 0.0], diameter=[0.0, 0.4, 0.0, 0.0])
    np.testing.assert_allclose(x, [1.0, 11.2, 1.0, -9.0], atol=1e-12)
    np.testing.assert_allclose(y, [12.0, 2.0, 0.0, 2.0], atol=1e-12)
    np.testing.assert_allclose(z, [3.0, 3.0, 5.0, 3.0], atol=1e-12)
    # declination and convergence rotate the azimuth
    x, y, _ = polar2projected(0.0, 0.0, 0.0, 0.0, 10.0,
                              declination_gr=60.0, convergence_gr=40.0)
    np.testing.assert_allclose([x, y], [10.0, 0.0], atol=1e-12)
