"""Greedy 1-to-1 tree matching — exact re-derivation of
/root/reference/R/tree_match.R:47-103 (tree_matching) and :201-232
(hist_detection).

match_groups matches every group of a sorted batch in one pass: it builds
all (ref, det) candidate pairs at once, sorts the ones with cost < 1 by
(group, cost, ref, det) and walks that order once, taking a pair when both
trees are still free. The reference loop takes the smallest free pair in
(cost, ref, det) order each round, and each pick is no smaller than the
one before, so the single scan makes the same picks in the same order.
"""

from __future__ import annotations

import numpy as np


def match_groups(
    xyz: np.ndarray,
    starts: np.ndarray,
    n_ref: np.ndarray,
    delta_ground: float = 2.1,
    h_prec: float = 0.14,
    keys=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Greedy min-cost assignment for every group of a sorted batch.

    xyz: (n, 3) x, y, height; group g is rows starts[g]:starts[g + 1], its
    first n_ref[g] rows the reference trees, the rest the detections.
    Cost: 3D squared distance over the height-dependent max matching radius
    of the REFERENCE tree ``rmax^2 = dg^2 + 2*dg*hp*H + hp^2*H^2``
    (tree_match.R:51-60,69-73); costs >= 1 never match (:78). Ties fall to
    the smallest reference row, then the smallest detection row: the first
    minimum in column-major order of the shrunken matrix (:85-93).

    Returns (group, ref_row, det_row) int64 arrays of the picks, in group
    order and, within a group, in pick order. A group with one empty side
    matches nothing. A NaN cost in a group with both sides raises
    ValueError naming keys[g] (the group index when keys is None).
    """
    xyz = np.asarray(xyz, dtype=np.float64).reshape(-1, 3)
    starts = np.asarray(starts, dtype=np.int64)
    n_ref = np.asarray(n_ref, dtype=np.int64)
    n_det = np.diff(starts) - n_ref
    n_pair = n_ref * n_det
    # pair p of group g: ref row a + p // n_det, det row a + n_ref + p % n_det
    gid = np.repeat(np.arange(len(n_ref)), n_pair)
    p = np.arange(len(gid)) - np.repeat(np.cumsum(n_pair) - n_pair, n_pair)
    nd = n_det[gid]
    ri = starts[:-1][gid] + p // nd
    di = starts[:-1][gid] + n_ref[gid] + p % nd

    h = xyz[:, 2]
    norm_f = (delta_ground ** 2
              + 2.0 * h_prec * delta_ground * h
              + h_prec ** 2 * h ** 2)  # per-reference rmax^2 (:60)
    diff = xyz[di] - xyz[ri]
    cost = np.sum(diff * diff, axis=1) / norm_f[ri]
    bad = np.isnan(cost)
    if bad.any():
        g = int(gid[bad.argmax()])
        name = g if keys is None else keys[g]
        raise ValueError(f"tree matching: NaN pair cost in group {name!r}")
    keep = cost < 1.0
    gid, ri, di = gid[keep], ri[keep], di[keep]
    order = np.lexsort((di, ri, cost[keep], gid))

    taken = bytearray(len(xyz))
    picks = []
    for k, i, j in zip(order.tolist(), ri[order].tolist(),
                       di[order].tolist()):
        if not taken[i] and not taken[j]:
            taken[i] = taken[j] = 1
            picks.append(k)
    return gid[picks], ri[picks], di[picks]


def tree_matching(
    lr: np.ndarray,
    ld: np.ndarray,
    delta_ground: float = 2.1,
    h_prec: float = 0.14,
    stat: bool = True,
) -> list[dict]:
    """Greedy min-cost assignment of detected to reference trees: the
    one-group call of match_groups.

    lr/ld: (n, 3) arrays of x, y, height. Returns list of dicts with 1-based
    indices r, d (+ h_diff, plan_diff when stat=True), matching the R output.
    """
    lr = np.asarray(lr, dtype=np.float64).reshape(-1, 3)
    ld = np.asarray(ld, dtype=np.float64).reshape(-1, 3)
    nr = lr.shape[0]
    xyz = np.concatenate([lr, ld])
    _, ri, di = match_groups(xyz, [0, len(xyz)], [nr],
                             delta_ground=delta_ground, h_prec=h_prec)
    d = di - nr
    if not stat:
        return [{"r": i + 1, "d": j + 1}
                for i, j in zip(ri.tolist(), d.tolist())]
    h_diff = xyz[di, 2] - xyz[ri, 2]
    plan_diff = np.hypot(xyz[di, 0] - xyz[ri, 0], xyz[di, 1] - xyz[ri, 1])
    return [{"r": i + 1, "d": j + 1, "h_diff": hd, "plan_diff": pd}
            for i, j, hd, pd in zip(ri.tolist(), d.tolist(),
                                    h_diff.tolist(), plan_diff.tolist())]


def _tree_matching_loop(
    lr: np.ndarray,
    ld: np.ndarray,
    delta_ground: float = 2.1,
    h_prec: float = 0.14,
) -> list[tuple[int, int, float, float]]:
    """Reference formulation (shrinking matrix, argmin per round) of
    tree_matching; kept as the oracle for match_groups' parity test.
    Returns (r, d, h_diff, plan_diff) with 1-based r, d in pick order."""
    lr = np.asarray(lr, dtype=np.float64).reshape(-1, 3)
    ld = np.asarray(ld, dtype=np.float64).reshape(-1, 3)
    nr, nd = lr.shape[0], ld.shape[0]
    if nr == 0 or nd == 0:
        return []
    norm_f = (delta_ground ** 2
              + 2.0 * h_prec * delta_ground * lr[:, 2]
              + h_prec ** 2 * lr[:, 2] ** 2)  # per-reference rmax^2 (:60)
    # dn[d, r] = squared 3D distance / norm_f[r]
    diff = ld[:, None, :] - lr[None, :, :]
    d2 = np.sum(diff * diff, axis=2)  # (nd, nr)
    dn = d2 / norm_f[None, :]
    dn = np.minimum(dn, 1.0)  # clamp (:78)

    det_alive = np.ones(nd, dtype=bool)
    ref_alive = np.ones(nr, dtype=bool)
    matched = []
    while True:
        sub = dn[np.ix_(det_alive, ref_alive)]
        if sub.size == 0:
            break
        mn = sub.min()
        if mn >= 1.0:
            break
        det_idx_alive = np.nonzero(det_alive)[0]
        ref_idx_alive = np.nonzero(ref_alive)[0]
        # column-major first minimum: smallest ref (col), then smallest det (row)
        cols, rows = np.nonzero((sub == mn).T)
        ref_i = int(ref_idx_alive[cols[0]])
        det_i = int(det_idx_alive[rows[0]])
        matched.append((
            ref_i + 1, det_i + 1,
            float(ld[det_i, 2] - lr[ref_i, 2]),
            float(np.hypot(ld[det_i, 0] - lr[ref_i, 0],
                           ld[det_i, 1] - lr[ref_i, 1]))))
        det_alive[det_i] = False
        ref_alive[ref_i] = False
    return matched


def hist_detection(nr: int, nd: int, matched: list[dict]) -> dict:
    """Detection confusion counts (tree_match.R:201-232)."""
    tp = len(matched)
    return {
        "true_detections": tp,
        "false_detections": nd - tp,
        "omissions": nr - tp,
    }
