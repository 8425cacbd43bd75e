"""Watershed segmentation, zonal stats, segment adjustment, connected
components — re-derivation of /root/reference/R/tree_detection.R:621-947 and
gap_detection.R connected-component labeling (:199).
"""

from __future__ import annotations

import heapq

import numpy as np

from lidartree_spark.kernels.detection import (
    dem_filtering,
    maxima_detection,
    maxima_selection,
)


def watershed(seeds: np.ndarray, priority: np.ndarray,
              need: np.ndarray | None = None) -> np.ndarray:
    """Marker-controlled watershed by priority flooding (Meyer), 4-connectivity.

    Fills every pixel (every needed pixel, given `need`) with the label of a
    seed, propagating from high priority to low — the semantics of
    imager::watershed as used by segmentation() (tree_detection.R:621-649).
    Ties resolved by insertion order (deterministic).

    `need` (boolean, same shape) names the pixels the caller reads: the flood
    stops as soon as each of them has a label, and the pixels it has not
    reached keep 0. A pixel's label is set once, when a neighbour pops, and
    the pop order up to the stop is the full flood's, so every labelled pixel
    carries the label the full flood gives it. Without `need` every pixel is
    needed and every pixel gets the full flood's label; there the count is
    only overhead (about 3% of the flood, measured), kept so that both cases
    share one code path.

    Hot-path implementation: the heap holds single packed Python ints
    (priority-group << 2b | push-counter << b | flat-index) over a
    sentinel-padded flat list — no tuple allocation, no bounds checks, no
    numpy scalar access in the loop, and no overflow at any tile size.
    `priority-group` is the dense rank of the pixel's priority among the
    DISTINCT priority values (descending), so pop order — and therefore every
    label assignment, including ties — is bit-identical to the reference
    tuple formulation (-pri, counter), at ~2.5x the speed. The keys are
    unique, so the seeds are heapified at once rather than pushed one by one.
    Verified pixel-exact against the tuple version (tests/test_kernels.py).
    """
    lab2 = np.asarray(seeds, dtype=np.int64)
    h, w = lab2.shape
    W = w + 2
    lab = np.full((h + 2, W), -1, dtype=np.int64)  # -1 border sentinel
    lab[1:-1, 1:-1] = lab2
    pri = np.full((h + 2, W), -np.inf)
    pri[1:-1, 1:-1] = np.nan_to_num(np.asarray(priority, dtype=np.float64),
                                    nan=-np.inf)
    nd = np.zeros((h + 2, W), dtype=bool)
    nd[1:-1, 1:-1] = True if need is None else np.asarray(need, dtype=bool)
    flat_lab = lab.ravel()
    p = pri.ravel()
    nd = nd.ravel()
    left = int(np.count_nonzero(nd & (flat_lab == 0)))  # needed, unlabelled
    nbits = max(1, int(lab.size).bit_length())
    uniq = np.unique(p)  # ascending
    group = (len(uniq) - 1) - np.searchsorted(uniq, p)  # descending dense rank
    shift1, shift2 = 2 * nbits, nbits
    mask = (1 << nbits) - 1
    push, pop = heapq.heappush, heapq.heappop
    fl = flat_lab.tolist()
    gp = group.tolist()
    ndl = nd.tolist()
    nb = (-W, W, -1, 1)
    seed_idx = np.flatnonzero(flat_lab > 0).tolist()
    heap = [(gp[idx] << shift1) | (k << shift2) | idx
            for k, idx in enumerate(seed_idx)]
    heapq.heapify(heap)
    counter = len(heap)
    while left and heap:
        idx = pop(heap) & mask
        l = fl[idx]
        for d in nb:
            j = idx + d
            if fl[j] == 0:
                fl[j] = l
                push(heap, (gp[j] << shift1) | (counter << shift2) | j)
                counter += 1
                if ndl[j]:
                    left -= 1
    return np.array(fl, dtype=np.int64).reshape(h + 2, W)[1:-1, 1:-1]


def _watershed_tuple(seeds: np.ndarray, priority: np.ndarray) -> np.ndarray:
    """Reference formulation (tuple heap) of the full flood; kept as the
    oracle for watershed's parity test."""
    lab = np.asarray(seeds, dtype=np.int64).copy()
    pri = np.nan_to_num(np.asarray(priority, dtype=np.float64), nan=-np.inf)
    h, w = lab.shape
    heap: list = []
    counter = 0
    sy, sx = np.nonzero(lab > 0)
    for y, x in zip(sy.tolist(), sx.tolist()):
        heapq.heappush(heap, (-pri[y, x], counter, y, x))
        counter += 1
    nbrs = ((-1, 0), (1, 0), (0, -1), (0, 1))
    while heap:
        _, _, y, x = heapq.heappop(heap)
        l = lab[y, x]
        for dy, dx in nbrs:
            ny, nx = y + dy, x + dx
            if 0 <= ny < h and 0 <= nx < w and lab[ny, nx] == 0:
                lab[ny, nx] = l
                heapq.heappush(heap, (-pri[ny, nx], counter, ny, nx))
                counter += 1
    return lab


def segmentation(maxi: np.ndarray, dem_nl: np.ndarray,
                 need: np.ndarray | None = None) -> np.ndarray:
    """Seeded watershed; seed ids = row-major order of maxima (deterministic
    replacement for the reference's `sample()` ids, tree_detection.R:631-639 —
    label comparisons are permutation-invariant by design). `need` is passed
    to watershed: pixels outside it may be left at 0."""
    m = np.asarray(maxi, dtype=np.float64)
    seeds = np.zeros(m.shape, dtype=np.int64)
    ys, xs = np.nonzero(m > 0)
    seeds[ys, xs] = np.arange(1, len(ys) + 1)
    if len(ys) == 0:
        return seeds
    return watershed(seeds, dem_nl, need)


def raster_zonal_stats(segms: np.ndarray, dem_nl: np.ndarray, fun=np.max) -> np.ndarray:
    """Per-segment statistic painted back on pixels (tree_detection.R:689-710)."""
    seg = np.asarray(segms, dtype=np.int64)
    val = np.asarray(dem_nl, dtype=np.float64)
    out = np.empty_like(val)
    ids = np.unique(seg)
    if fun is np.max:
        # vectorized scatter-max
        remap = np.searchsorted(ids, seg)
        acc = np.full(len(ids), -np.inf)
        np.maximum.at(acc, remap.ravel(), val.ravel())
        out = acc[remap]
    else:
        for i in ids:
            out[seg == i] = fun(val[seg == i])
    return out


def seg_adjust(
    dem_w: np.ndarray,
    dem_wh: np.ndarray,
    dem_nl: np.ndarray,
    prop: float = 0.3,
    min_value: float = 2.0,
    min_maxvalue: float = 5.0,
) -> np.ndarray:
    """Crown trimming (tree_detection.R:769-790): three zero-out rules."""
    out = np.asarray(dem_w, dtype=np.int64).copy()
    wh = np.asarray(dem_wh, dtype=np.float64)
    nl = np.asarray(dem_nl, dtype=np.float64)
    out[wh < min_maxvalue] = 0
    out[nl < prop * wh] = 0
    out[nl < min_value] = 0
    return out


def tree_segmentation(
    dem: np.ndarray,
    dtm: np.ndarray | None = None,
    res: float = 1.0,
    nl_filter: str = "Closing",
    nl_size: int = 5,
    sigma=0.3,
    max_width: float = 11.0,
    jitter: bool = False,
    hmin: float = 5.0,
    dmin: float = 0.0,
    dprop: float = 0.05,
    prop: float = 0.3,
    min_value: float = 2.0,
) -> dict:
    """Full preprocessing + segmentation pipeline (tree_detection.R:862-947).

    Returns dict of 4 layers: local_maxima, segments_id, filled_dem,
    smoothed_dem (:944-946). NA fill with dtm or 0 (:893-899); maxima
    selection runs with hmin=0 pre-watershed (:921-923); hmin is enforced as
    seg_adjust's min.maxvalue (:930-939); maxima of dropped segments cleared
    (:942).
    """
    if min_value > hmin:
        raise ValueError("minimum tree height lower than minimum crown base height")
    a = np.asarray(dem, dtype=np.float64).copy()
    if dtm is not None:
        t = np.asarray(dtm, dtype=np.float64)
        nanm = np.isnan(a)
        a[nanm] = t[nanm]
    else:
        t = 0.0
        a = np.nan_to_num(a, nan=0.0)

    f = dem_filtering(a, nl_filter=nl_filter, nl_size=nl_size, sigma=sigma, res=res)
    dem_nl, dem_gs = f["non_linear_image"], f["smoothed_image"]

    maxi = maxima_detection(dem_gs, res=res, max_width=max_width, jitter=jitter)
    chm = dem_nl - t
    maxi = maxima_selection(maxi, chm, hmin=0.0, dmin=dmin, dprop=dprop)

    # Flood only until every pixel seg_adjust's `nl < min_value` rule keeps
    # (NaN included) has its label. The pixels left at 0 all have a CHM below
    # min_value, so that rule zeroes them anyway, and they cannot raise the
    # zonal max of a segment that holds a kept pixel (its max is at least
    # min_value); a segment with no kept pixel is zeroed whole.
    dem_w = segmentation(maxi, dem_nl, need=~(chm < min_value))
    dem_wh = raster_zonal_stats(dem_w, chm, fun=np.max)
    dem_w = seg_adjust(dem_w, dem_wh, chm, prop=prop, min_value=min_value,
                       min_maxvalue=hmin)
    maxi = maxi.copy()
    maxi[dem_w == 0] = 0.0
    return {
        "local_maxima": maxi,
        "segments_id": dem_w,
        "filled_dem": dem_nl,
        "smoothed_dem": dem_gs,
    }


def label_components(mask: np.ndarray) -> np.ndarray:
    """4-connectivity connected-component labeling, fully vectorized.

    Labels numbered 1..n in row-major first-pixel order; 0 = background.
    Replaces imager::label as used in gap_detection.R:199.

    Algorithm: Shiloach-Vishkin-style min-hooking over the foreground edge
    list (right + down neighbor pairs) with pointer-jumping compression —
    O(E log n) numpy vector ops, no per-pixel Python. The component
    representative is the min flat index, i.e. the component's first
    row-major pixel, so renumbering ascending reproduces the exact label
    order of the sequential two-pass formulation (_label_components_twopass,
    kept for the parity test).
    """
    m = np.asarray(mask) != 0
    h, w = m.shape
    n = h * w
    flat = m.ravel()
    fg = np.nonzero(flat)[0]
    out = np.zeros(n, dtype=np.int64)
    if fg.size == 0:
        return out.reshape(h, w)
    # foreground-foreground edges: right neighbors (not crossing rows), down
    idx = np.arange(n).reshape(h, w)
    rmask = m[:, :-1] & m[:, 1:]
    dmask = m[:-1, :] & m[1:, :]
    eu = np.concatenate([idx[:, :-1][rmask], idx[:-1, :][dmask]])
    ev = np.concatenate([idx[:, 1:][rmask], idx[1:, :][dmask]])
    parent = np.arange(n, dtype=np.int64)
    if eu.size:
        while True:
            pu = parent[eu]
            pv = parent[ev]
            lo = np.minimum(pu, pv)
            np.minimum.at(parent, pu, lo)
            np.minimum.at(parent, pv, lo)
            while True:  # pointer jumping to full compression
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
            if np.array_equal(parent[eu], parent[ev]):
                break
    reps = parent[fg]
    uniq = np.unique(reps)  # ascending == row-major first-pixel order
    lut = np.zeros(n, dtype=np.int64)
    lut[uniq] = np.arange(1, uniq.size + 1)
    out[fg] = lut[reps]
    return out.reshape(h, w)


def _label_components_twopass(mask: np.ndarray) -> np.ndarray:
    """Sequential reference formulation (two-pass union-find); kept as the
    oracle for the vectorized version's parity test."""
    m = np.asarray(mask) != 0
    h, w = m.shape
    lab = np.zeros((h, w), dtype=np.int64)
    parent = [0]  # parent[i] for provisional labels, 1-based

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    nxt = 1
    for y in range(h):
        row = m[y]
        for x in range(w):
            if not row[x]:
                continue
            up = lab[y - 1, x] if y > 0 else 0
            left = lab[y, x - 1] if x > 0 else 0
            if up == 0 and left == 0:
                parent.append(nxt)
                lab[y, x] = nxt
                nxt += 1
            elif up == 0:
                lab[y, x] = left
            elif left == 0:
                lab[y, x] = up
            else:
                ru, rl = find(up), find(left)
                r = min(ru, rl)
                parent[ru] = parent[rl] = r
                lab[y, x] = r
    # second pass: resolve + renumber by first appearance (row-major)
    roots = {}
    out = np.zeros_like(lab)
    nxt_final = 1
    ys, xs = np.nonzero(lab)
    for y, x in zip(ys.tolist(), xs.tolist()):
        r = find(lab[y, x])
        if r not in roots:
            roots[r] = nxt_final
            nxt_final += 1
        out[y, x] = roots[r]
    return out
