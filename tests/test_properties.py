"""Property-based kernel tests (hypothesis): invariants that must hold for
ANY input, complementing the example-based oracles."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from lidartree_spark.kernels.matching import (
    _tree_matching_loop,
    match_groups,
    tree_matching,
)
from lidartree_spark.kernels.morphology import (
    binary_closing_disk,
    binary_dilate_disk,
    binary_erode_disk,
)
from lidartree_spark.kernels.detection import (
    dem_filtering,
    maxima_detection,
    maxima_selection,
)
from lidartree_spark.kernels.segmentation import (
    label_components,
    raster_zonal_stats,
    seg_adjust,
    segmentation,
    tree_segmentation,
    watershed,
)
from lidartree_spark.kernels.stats import gini, quantile_type7

_small_mask = arrays(np.bool_, (12, 16), elements=st.booleans())


@settings(max_examples=60, deadline=None)
@given(_small_mask)
def test_label_components_partition_properties(mask):
    """Labels partition the foreground: background stays 0, every foreground
    pixel gets a positive label, labels are 1..k contiguous, and two
    4-adjacent foreground pixels share a label."""
    lab = label_components(mask)
    assert (lab[~mask] == 0).all()
    assert (lab[mask] > 0).all()
    ids = np.unique(lab[lab > 0])
    assert list(ids) == list(range(1, len(ids) + 1))
    h, w = mask.shape
    same_h = mask[:, :-1] & mask[:, 1:]
    assert (lab[:, :-1][same_h] == lab[:, 1:][same_h]).all()
    same_v = mask[:-1, :] & mask[1:, :]
    assert (lab[:-1, :][same_v] == lab[1:, :][same_v]).all()


@settings(max_examples=40, deadline=None)
@given(_small_mask, st.sampled_from([3, 5, 7]))
def test_binary_morphology_order_properties(mask, width):
    """Extensivity/anti-extensivity and idempotence-adjacent ordering:
    erode(A) <= A <= dilate(A), and A <= closing(A) (closing is
    extensive)."""
    a = mask.astype(np.float64)
    d = binary_dilate_disk(a, width)
    e = binary_erode_disk(a, width)
    c = binary_closing_disk(a, width)
    assert (e <= a).all()
    assert (a <= d).all()
    assert (a <= c).all()
    # duality: dilate(~A) == ~erode(A)
    assert (binary_dilate_disk(1.0 - a, width) == 1.0 - e).all()


@settings(max_examples=40, deadline=None)
@given(arrays(np.float64, (10, 12),
              elements=st.floats(0, 50, allow_nan=False)),
       st.integers(1, 6))
def test_watershed_covers_and_preserves_seeds(pri, n_seeds):
    """Watershed output: every pixel gets some seed's label, and seed pixels
    keep their own label."""
    rng = np.random.default_rng(int(abs(pri).sum() * 100) % (2**31) or 7)
    seeds = np.zeros(pri.shape, np.int64)
    ys = rng.integers(0, pri.shape[0], n_seeds)
    xs = rng.integers(0, pri.shape[1], n_seeds)
    for i, (y, x) in enumerate(zip(ys, xs)):
        seeds[y, x] = i + 1
    placed = np.unique(seeds[seeds > 0])
    lab = watershed(seeds, pri)
    assert set(np.unique(lab)) <= set(placed.tolist())
    assert (lab[seeds > 0] == seeds[seeds > 0]).all()
    assert (lab > 0).all()


@settings(max_examples=60, deadline=None)
@given(arrays(np.float64, (9, 11),
              elements=st.sampled_from([0.0, 1.0, 2.0, 3.0, 7.5, np.nan])),
       arrays(np.bool_, (9, 11), elements=st.booleans()),
       st.integers(1, 5), st.integers(0, 2**31 - 1))
def test_watershed_need_stops_early_with_full_flood_labels(pri, need, n_seeds,
                                                           seed):
    """With a `need` mask every needed pixel is labelled, and every labelled
    pixel carries the full flood's label."""
    rng = np.random.default_rng(seed)
    seeds = np.zeros(pri.shape, np.int64)
    at = rng.choice(pri.size, n_seeds, replace=False)
    seeds.ravel()[at] = np.arange(1, n_seeds + 1)
    full = watershed(seeds, pri)
    part = watershed(seeds, pri, need)
    assert (part[need] > 0).all()
    done = part > 0
    assert (part[done] == full[done]).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 8), st.integers(1, 8), st.integers(0, 2**31 - 1))
def test_tree_matching_is_one_to_one_and_within_radius(nr, nd, seed):
    """Greedy matching: injective both ways, and every pair satisfies the
    height-dependent max-radius criterion (tree_match.R:51-60 with the
    >= 1 clamp :78)."""
    rng = np.random.default_rng(seed)
    lr = np.column_stack([rng.uniform(0, 30, nr), rng.uniform(0, 30, nr),
                          rng.uniform(2, 30, nr)])
    ld = np.column_stack([rng.uniform(0, 30, nd), rng.uniform(0, 30, nd),
                          rng.uniform(2, 30, nd)])
    pairs = tree_matching(lr, ld, delta_ground=2.1, h_prec=0.14)
    rs = [p["r"] for p in pairs]
    ds = [p["d"] for p in pairs]
    assert len(rs) == len(set(rs)) and len(ds) == len(set(ds))
    for p in pairs:
        r, d = p["r"] - 1, p["d"] - 1
        hp = 0.14
        rmax2 = (2.1 ** 2 + 2 * 2.1 * hp * lr[r, 2]
                 + (hp ** 2) * lr[r, 2] ** 2)
        d3 = ((lr[r, 0] - ld[d, 0]) ** 2 + (lr[r, 1] - ld[d, 1]) ** 2
              + (lr[r, 2] - ld[d, 2]) ** 2)
        assert d3 / rmax2 < 1.0 + 1e-9


@st.composite
def _match_batches(draw):
    """A sorted batch of 1-5 groups, each 0-7 refs then 0-7 dets (empty
    sides and single trees included). Integer-grid coordinates make costs
    tie; uniform ones do not."""
    grid = draw(st.booleans())
    rng = np.random.default_rng(draw(st.integers(0, 2**31 - 1)))
    groups = []
    for _ in range(draw(st.integers(1, 5))):
        nr, nd = draw(st.integers(0, 7)), draw(st.integers(0, 7))
        if grid:
            xy = rng.integers(0, 4, (nr + nd, 2)).astype(np.float64)
            h = rng.integers(5, 8, nr + nd).astype(np.float64)
        else:
            xy = rng.uniform(0, 8, (nr + nd, 2))
            h = rng.uniform(2, 30, nr + nd)
        groups.append((np.column_stack([xy, h]), nr))
    return groups


@settings(max_examples=150, deadline=None)
@given(_match_batches(),
       st.sampled_from([(2.1, 0.14), (2.0, 0.0), (1.0, 0.3), (3.5, 0.05)]))
def test_match_groups_equals_reference_loop(groups, params):
    """match_groups over a whole batch, and tree_matching per group, make
    the reference loop's picks in its order with bit-identical floats."""
    dg, hp = params
    xyz = np.concatenate([g for g, _ in groups])
    starts = np.cumsum([0] + [len(g) for g, _ in groups])
    n_ref = np.array([nr for _, nr in groups])
    g, ri, di = match_groups(xyz, starts, n_ref, delta_ground=dg, h_prec=hp)
    got = list(zip(g.tolist(), (ri - starts[g] + 1).tolist(),
                   (di - starts[g] - n_ref[g] + 1).tolist(),
                   (xyz[di, 2] - xyz[ri, 2]).tolist(),
                   np.hypot(xyz[di, 0] - xyz[ri, 0],
                            xyz[di, 1] - xyz[ri, 1]).tolist()))
    exp = []
    for k, (pts, nr) in enumerate(groups):
        loop = _tree_matching_loop(pts[:nr], pts[nr:], dg, hp)
        one = tree_matching(pts[:nr], pts[nr:], delta_ground=dg, h_prec=hp)
        assert [(m["r"], m["d"], m["h_diff"], m["plan_diff"])
                for m in one] == loop
        exp += [(k,) + m for m in loop]
    assert got == exp


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(0.01, 1000, allow_nan=False), min_size=1,
                max_size=40))
def test_gini_and_quantile_bounds(vals):
    x = np.asarray(vals)
    g = gini(x)
    assert -1e-9 <= g < 1.0
    q = quantile_type7(x, [0.0, 0.25, 0.5, 0.75, 1.0])
    assert q[0] == x.min() and q[-1] == x.max()
    assert (np.diff(q) >= -1e-12).all()


_LAYERS = ("local_maxima", "segments_id", "filled_dem", "smoothed_dem")


def _full_flood_tree_segmentation(dem, dtm=None, res=1.0, nl_filter="Closing",
                                  nl_size=5, sigma=0.3, max_width=11.0,
                                  hmin=5.0, dmin=0.0, dprop=0.05, prop=0.3,
                                  min_value=2.0):
    """tree_segmentation composed from the public kernels, with the public
    segmentation's full flood (the composition perfbench's replay times).
    Also returns the seeds, before the maxima clear."""
    a = np.asarray(dem, dtype=np.float64).copy()
    if dtm is not None:
        t = np.asarray(dtm, dtype=np.float64)
        a[np.isnan(a)] = t[np.isnan(a)]
    else:
        t = 0.0
        a = np.nan_to_num(a, nan=0.0)
    f = dem_filtering(a, nl_filter=nl_filter, nl_size=nl_size, sigma=sigma,
                      res=res)
    nl, gs = f["non_linear_image"], f["smoothed_image"]
    chm = nl - t
    seeds = maxima_selection(maxima_detection(gs, res=res, max_width=max_width),
                             chm, hmin=0.0, dmin=dmin, dprop=dprop)
    dem_w = segmentation(seeds, nl)
    dem_wh = raster_zonal_stats(dem_w, chm, fun=np.max)
    dem_w = seg_adjust(dem_w, dem_wh, chm, prop=prop, min_value=min_value,
                       min_maxvalue=hmin)
    maxi = seeds.copy()
    maxi[dem_w == 0] = 0.0
    return {"local_maxima": maxi, "segments_id": dem_w, "filled_dem": nl,
            "smoothed_dem": gs}, seeds


def _assert_same_layers(dem, dtm=None, **kw):
    with np.errstate(invalid="ignore"):  # NaN CHM pixels in the zonal max
        got = tree_segmentation(dem, dtm=dtm, **kw)
        want, seeds = _full_flood_tree_segmentation(dem, dtm=dtm, **kw)
    for k in _LAYERS:
        assert got[k].dtype == want[k].dtype, k
        assert np.array_equal(got[k], want[k], equal_nan=True), k
    return got, seeds


@st.composite
def _tiles(draw):
    """(dem, dtm or None): canopy heights with plateaus exactly at the 2 m
    min_value, ground, NaN holes in the DEM and (when present) the DTM."""
    h, w = draw(st.integers(4, 18)), draw(st.integers(4, 18))
    height = draw(arrays(np.float64, (h, w), elements=st.one_of(
        st.sampled_from([0.0, 0.5, 2.0, 2.0, 6.0]),
        st.floats(0, 30, allow_nan=False, allow_infinity=False))))
    holes = draw(arrays(np.bool_, (h, w),
                        elements=st.sampled_from([False] * 9 + [True])))
    dtm = None
    if draw(st.booleans()):
        dtm = draw(arrays(np.float64, (h, w), elements=st.one_of(
            st.sampled_from([0.0, 1.0]), st.just(np.nan),
            st.floats(0, 5, allow_nan=False, allow_infinity=False))))
    dem = height + (0.0 if dtm is None else np.nan_to_num(dtm))
    dem[holes] = np.nan
    return dem, dtm


@settings(max_examples=150, deadline=None)
@given(_tiles(), st.sampled_from(["Closing", "None"]),
       st.sampled_from([0.5, 1.0]))
def test_tree_segmentation_equals_full_flood_composition(tile, nl_filter, res):
    """tree_segmentation floods only until every pixel seg_adjust keeps has
    its label; its four layers must equal those of the full flood composed
    from the public kernels, bit for bit."""
    dem, dtm = tile
    _assert_same_layers(dem, dtm, res=res, nl_filter=nl_filter)


def test_tree_segmentation_parity_edge_tiles():
    """Zero seeds, all ground, all canopy (with and without a DTM)."""
    ground = np.full((10, 12), 0.5)
    ground[2:5, 3:6] = 1.9
    canopy = np.full((10, 12), 8.0)
    canopy[2:5, 3:6] = 15.0
    canopy[6, 7] = np.nan
    _, seeds = _assert_same_layers(np.full((10, 12), 5.0), dmin=100.0)
    assert not (seeds > 0).any()
    _assert_same_layers(ground)
    _assert_same_layers(ground + 1.0, dtm=np.ones_like(ground))
    got, _ = _assert_same_layers(canopy)
    assert (got["segments_id"] > 0).all()
    dtm = np.full(canopy.shape, 1.0)
    dtm[0, 0] = np.nan
    _assert_same_layers(canopy + 1.0, dtm=dtm)


def test_tree_segmentation_parity_ringed_canopy_pixel():
    """A 6 m pixel ringed by ground with no seed of its own is reached only
    through ground, so the flood must run past the first ground pop to
    label it; it keeps the label the full flood gives it."""
    yy, xx = np.mgrid[:16, :16]
    r = np.hypot(yy - 4, xx - 4)
    dem = 20 * np.exp(-r ** 2 / 6.0) * (r <= 3)
    dem[10, 4] = 6.0
    got, seeds = _assert_same_layers(dem, res=1.0, nl_filter="None",
                                     dmin=5.0, dprop=0.0)
    assert seeds[10, 4] == 0
    assert (dem[[9, 11, 10, 10], [4, 4, 3, 5]] < 2.0).all()
    assert got["segments_id"][10, 4] > 0
