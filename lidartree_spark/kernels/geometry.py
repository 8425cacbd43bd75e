"""Vector geometry kernels: point-in-polygon, convex hull, crown ellipses,
polar->projected conversion. Re-derivations of /root/reference/R/common.R.
"""

from __future__ import annotations

import math
import re

import numpy as np

_NUM = re.compile(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?")


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """Parse the outer ring of a WKT POLYGON into an (n, 2) array.

    Accepts GeoJSON too (the other interchange form a migrating sf/terra
    user holds): a JSON string or dict with a Polygon geometry — bare
    geometry, Feature, or single-feature FeatureCollection."""
    if isinstance(wkt, dict) or wkt.lstrip().startswith("{"):
        return parse_geojson_polygon(wkt)
    nums = [float(m) for m in _NUM.findall(wkt.split("),")[0])]
    return np.array(nums, dtype=np.float64).reshape(-1, 2)


def parse_geojson_polygon(obj) -> np.ndarray:
    """Outer ring of a GeoJSON Polygon -> (n, 2) array. Takes a JSON
    string or an already-parsed dict; unwraps Feature /
    FeatureCollection (single feature). MultiPolygon and multi-feature
    collections raise — a silent first-part pick would clip ROIs
    wrongly."""
    import json

    g = json.loads(obj) if isinstance(obj, str) else obj
    if g.get("type") == "FeatureCollection":
        feats = g.get("features", [])
        if len(feats) != 1:
            raise ValueError(
                f"FeatureCollection with {len(feats)} features — pass the "
                f"one polygon feature (a silent first-pick would clip "
                f"ROIs wrongly)")
        g = feats[0]
    if g.get("type") == "Feature":
        g = g.get("geometry") or {}
    if g.get("type") != "Polygon":
        raise NotImplementedError(
            f"GeoJSON geometry type {g.get('type')!r} unsupported "
            f"(Polygon only; split MultiPolygons upstream)")
    ring = np.asarray(g["coordinates"][0], dtype=np.float64)
    if ring.ndim != 2 or ring.shape[1] < 2:
        raise ValueError(f"malformed Polygon ring shape {ring.shape}")
    ring = ring[:, :2]
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])  # close the ring (WKT habit)
    return ring


def points_in_polygon(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting point-in-polygon (edge-inclusive is not
    guaranteed on boundaries; replaces sf::st_intersection point∈polygon,
    tree_detection.R:195-199)."""
    x = np.asarray(x, float)
    y = np.asarray(y, float)
    inside = np.zeros(x.shape, dtype=bool)
    n = len(ring)
    x0s, y0s = ring[:, 0], ring[:, 1]
    for i in range(n - 1):
        x1, y1 = x0s[i], y0s[i]
        x2, y2 = x0s[i + 1], y0s[i + 1]
        cond = ((y1 > y) != (y2 > y))
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        inside ^= cond & (x < xin)
    return inside


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain convex hull -> closed ring (common.R:459-472
    uses grDevices::chull + polygon rasterization)."""
    pts = np.unique(np.asarray(pts, float), axis=0)
    if len(pts) <= 2:
        return np.vstack([pts, pts[:1]])
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ring = np.array(lower[:-1] + upper[:-1] + [lower[0]])
    return ring


def polar2projected(
    x, y, z, azimut_gr, dist, slope_gr=0.0, declination_gr=0.0,
    convergence_gr=0.0, diameter=0.0,
):
    """Polar -> cartesian field coordinates (common.R:166-176): azimuth and
    slope in gradians, with declination/convergence corrections and target
    radius offset (diameter/2 added to the distance)."""
    d = np.asarray(dist, float) + np.asarray(diameter, float) / 2.0
    az = (np.asarray(azimut_gr, float) + declination_gr + convergence_gr) \
        * math.pi / 200.0
    sl = np.asarray(slope_gr, float) * math.pi / 200.0
    dh = d * np.cos(sl)
    return (np.asarray(x, float) + dh * np.sin(az),
            np.asarray(y, float) + dh * np.cos(az),
            np.asarray(z, float) + d * np.sin(sl))


def ellipses4crown(x, y, n, s, e, w, angles=None) -> list[np.ndarray]:
    """Crown polygons as union of 4 quarter ellipses with half-axes
    n(orth), s(outh), e(ast), w(est) (common.R:507-558). Returns one closed
    ring per input row."""
    if angles is None:
        angles = np.linspace(0, np.pi / 2, 16)
    rings = []
    for xi, yi, ni, si, ei, wi in zip(*map(np.atleast_1d, (x, y, n, s, e, w))):
        pts = []
        # quarter NE (x: +e, y: +n), NW (-w, +n), SW (-w, -s), SE (+e, -s)
        for ax, ay, rev in ((ei, ni, False), (-wi, ni, True),
                            (-wi, -si, False), (ei, -si, True)):
            # NW and SE run t from pi/2 down to 0 so the ring is
            # continuous counterclockwise
            t = angles[::-1] if rev else angles
            pts.append(np.column_stack([xi + ax * np.cos(t),
                                        yi + ay * np.sin(t)]))
        ring = np.vstack(pts)
        ring = np.vstack([ring, ring[:1]])
        rings.append(ring)
    return rings


def ring_to_wkt(ring: np.ndarray, dec: int = 2) -> str:
    pts = ", ".join(f"{p[0]:.{dec}f} {p[1]:.{dec}f}" for p in ring)
    return f"POLYGON (({pts}))"
