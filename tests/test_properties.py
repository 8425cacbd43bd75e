"""Property-based kernel tests (hypothesis): invariants that must hold for
ANY input, complementing the example-based oracles."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from lidartree_spark.kernels.matching import tree_matching
from lidartree_spark.kernels.morphology import (
    binary_closing_disk,
    binary_dilate_disk,
    binary_erode_disk,
)
from lidartree_spark.kernels.segmentation import label_components, watershed
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

