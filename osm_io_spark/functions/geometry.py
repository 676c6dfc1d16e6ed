"""Planar geometry kernels (pure numpy — no shapely in this environment).

Convention: x = lon, y = lat. Polygons are lists of rings; ring 0 is the
outer ring, subsequent rings are holes; containment uses the even-odd rule
(ray casting), so holes need no special-casing. Rings may be closed
(first == last) or open — a closing edge is implied.

Rings cross the Arrow boundary into every Python kernel in ONE flat
layout (:func:`flat_ring_cols` builds it, :func:`split_rings` reads one
row of it back): ``ring_len`` plus parallel ``lons``/``lats`` primitive
arrays — ragged array<array<struct>> cells fail pyspark's Arrow→pandas
conversion and cost a dict per vertex where they work.

BoundingBox semantics mirror /root/reference/src/osm/model/bounding_box.rs:
merge_point / merge_bounding_box are min/max folds over (lon, lat).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_008.8

FLAT_RING_COLS = ("ring_len", "lons", "lats")


def flat_ring_cols(rings: str = "rings") -> list[Column]:
    """The flat ring columns of an array<array<struct<lon, lat>>>
    column: ``ring_len`` (array<int>, vertices per ring) and the
    parallel ``lons`` / ``lats`` (array<double>, all rings end to end).
    A NULL ring list stays NULL. Each is one SQL expression (a py4j
    round trip or two, where Python-lambda higher-order Columns cost
    dozens). transform/flatten are interpreted higher-order functions
    (CLAUDE.md), so select these once per polygon, before any explode
    or join fans its rows out."""
    r = f"`{rings}`"
    return [F.expr(f"transform({r}, ring -> size(ring)) AS ring_len"),
            *[F.expr(f"flatten(transform({r}, ring -> transform(ring, "
                     f"pt -> pt.{k}))) AS {k}s") for k in ("lon", "lat")]]


def split_rings(ring_len, lons, lats) -> list[np.ndarray]:
    """One row of the flat layout → its rings, each an (m, 2) array of
    (lon, lat), in ring order. A NULL ring list (``None``) has no
    rings."""
    if ring_len is None or not len(ring_len):
        return []
    xy = np.column_stack([np.asarray(lons, np.float64),
                          np.asarray(lats, np.float64)])
    return np.split(xy, np.cumsum(ring_len)[:-1])


def _ring_edges(ring: np.ndarray):
    """ring: (m, 2) array of (lon, lat). Returns x1, y1, x2, y2 edge arrays
    (implied closing edge included; degenerate duplicate-closure edge is
    harmless for even-odd counting since it has zero y-span)."""
    r = np.asarray(ring, np.float64)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    return x1, y1, x2, y2


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Vectorized even-odd ray cast: (n,) bool for n points vs one polygon.

    Broadcasts points against all edges of all rings; memory is
    O(n_points * n_edges) per call — callers batch points (the spatial
    join applies this per (polygon, candidate-point-batch) group).
    """
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        if len(ring) < 3:
            continue
        x1, y1, x2, y2 = _ring_edges(ring)
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        hits = crosses & (px < xint)
        inside ^= hits.sum(axis=1).astype(np.int64) % 2 == 1
    return inside


def _segments_cross(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Proper/improper segment intersection via orientation signs
    (elementwise): the endpoints of each segment lie on different sides
    of — or one on — the other's line. Collinear overlaps are not
    crossings."""

    def orient(ox, oy, px_, py_, qx, qy):
        return np.sign((px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox))

    d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    return (d1 != d2) & (d3 != d4)


# (rect, polygon edge) pairs per chunk of rects_intersect_polygons:
# bounds its temporaries whatever the batch and ring sizes
_EDGE_PAIR_BUDGET = 1 << 19


def rects_intersect_polygons(left, bottom, right, top, poly,
                             polygons) -> np.ndarray:
    """Does axis-aligned rect k intersect ``polygons[poly[k]]`` (edge or
    area)? One vectorized pass over every (rect, polygon edge) pair of
    a batch; used to refine bbox cell covers into tight covers. A rect
    is kept when any polygon vertex lies in the closed rect, OR any
    rect corner lies inside the rings (even-odd, the
    :func:`points_in_polygon` ray cast; rings of < 3 vertices bound no
    area), OR any rect edge crosses any ring edge
    (:func:`_segments_cross`). ``polygons`` is a sequence of ring
    lists, each ring an (m, 2) array of (lon, lat)."""
    left, bottom, right, top = (np.asarray(a, np.float64)
                                for a in (left, bottom, right, top))
    poly = np.asarray(poly, np.int64)
    rings = [np.asarray(r, np.float64).reshape(-1, 2)
             for p in polygons for r in p]
    n_rings = np.array([len(p) for p in polygons], np.int64)
    ring_len = np.array([len(r) for r in rings], np.int64)
    keep = np.zeros(len(left), bool)
    if not len(rings) or not len(left):
        return keep
    # one edge per ring vertex, closing edge included (_ring_edges)
    xy = np.concatenate(rings)
    ring_start = np.cumsum(ring_len) - ring_len
    nxt = np.arange(len(xy)) + 1
    ends = ring_start + ring_len - 1
    nxt[ends[ring_len > 0]] = ring_start[ring_len > 0]
    x1, y1 = xy[:, 0], xy[:, 1]
    x2, y2 = x1[nxt], y1[nxt]
    area_edge = np.repeat(ring_len >= 3, ring_len)
    # polygon p owns edges [edge_start[p], edge_start[p] + n_edges[p])
    n_edges = np.bincount(np.repeat(np.arange(len(polygons)), n_rings),
                          ring_len, len(polygons)).astype(np.int64)
    edge_start = np.cumsum(n_edges) - n_edges
    cnt = n_edges[poly]
    bound = np.cumsum(cnt)
    cuts = np.searchsorted(bound, np.arange(_EDGE_PAIR_BUDGET, bound[-1],
                                            _EDGE_PAIR_BUDGET))
    for rows in np.split(np.arange(len(left)), np.unique(cuts)):
        if len(rows):
            keep[rows] = _rects_hit(left[rows], bottom[rows], right[rows],
                                    top[rows], edge_start[poly[rows]],
                                    cnt[rows], x1, y1, x2, y2, area_edge)
    return keep


def _rects_hit(left, bottom, right, top, start, cnt, x1, y1, x2, y2,
               area_edge) -> np.ndarray:
    """The three tests of :func:`rects_intersect_polygons` over the
    flattened (rect, edge) pairs of one chunk; each test runs only on
    the rects the earlier ones left undecided."""
    hit = np.zeros(len(left), bool)

    def pairs(rows, edge_mask=None):
        # (rect, edge) pairs of ``rows``: local rect index, edge index
        # and the rect's bounds per pair
        c = cnt[rows]
        r = np.repeat(np.arange(len(rows)), c)
        e = (np.arange(len(r)) - np.repeat(np.cumsum(c) - c, c)
             + np.repeat(start[rows], c))
        if edge_mask is not None:
            r, e = r[edge_mask[e]], e[edge_mask[e]]
        return (r, e, *(a[rows][r] for a in (left, bottom, right, top)))

    def any_per_rect(r, pair, n):
        return np.bincount(r[pair], minlength=n) > 0

    # polygon vertex inside the closed rect
    rows = np.arange(len(left))
    r, e, lo, bo, ri, to = pairs(rows)
    hit[rows] = any_per_rect(r, (x1[e] >= lo) & (x1[e] <= ri)
                             & (y1[e] >= bo) & (y1[e] <= to), len(rows))
    # rect corner inside the rings: even-odd ray cast over every edge
    # of every area ring (the XOR of per-ring parities)
    rows = np.flatnonzero(~hit)
    r, e, lo, bo, ri, to = pairs(rows, area_edge)
    ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
    for px, py in ((lo, bo), (ri, bo), (ri, to), (lo, to)):
        crosses = (ey1 > py) != (ey2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (ex2 - ex1) * (py - ey1) / (ey2 - ey1) + ex1
        odd = np.bincount(r[crosses & (px < xint)], minlength=len(rows)) % 2
        hit[rows] |= odd == 1
    # a rect edge crossing a ring edge (every ring)
    rows = np.flatnonzero(~hit)
    r, e, lo, bo, ri, to = pairs(rows)
    ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
    cross = np.zeros(len(r), bool)
    for bx1, by1, bx2, by2 in ((lo, bo, ri, bo), (ri, bo, ri, to),
                               (ri, to, lo, to), (lo, to, lo, bo)):
        cross |= _segments_cross(ex1, ey1, ex2, ey2, bx1, by1, bx2, by2)
    hit[rows] = any_per_rect(r, cross, len(rows))
    return hit


WORLD_BBOX = (-180.0, -90.0, 180.0, 90.0)


def bbox_from_str(s: str) -> tuple[float, float, float, float]:
    """Parse 'left,bottom,right,top' (optional whitespace around commas)
    into a validated bbox tuple — C9, mirroring the FromStr impl at
    /root/reference/src/osm/model/bounding_box.rs:89-115 (range checks
    lon ∈ [-180,180], lat ∈ [-90,90]; <4 parts rejected; extra parts
    ignored, as there).

    Raises ValueError with the offending input on malformed or
    out-of-range values.
    """
    err = ValueError(
        "Bounding box string must be in the form 'left,bottom,right,top' "
        f"as in -180.0, -90.0, 180.0, 90.0 with optional white space "
        f"around commas. Got {s!r} instead")
    parts = [p.strip() for p in s.split(",")]
    if len(parts) < 4:
        raise err
    try:
        left, bottom, right, top = (float(p) for p in parts[:4])
    except ValueError:
        raise err from None
    if not (-180.0 <= left <= 180.0 and -90.0 <= bottom <= 90.0
            and -180.0 <= right <= 180.0 and -90.0 <= top <= 90.0):
        raise err
    return (left, bottom, right, top)


def bbox_to_str(bbox) -> str:
    """Inverse of bbox_from_str (Display impl, bounding_box.rs:83-87
    uses named fields; we emit the parsable comma form)."""
    left, bottom, right, top = bbox
    return f"{left}, {bottom}, {right}, {top}"


def polygon_bbox(rings) -> tuple[float, float, float, float]:
    """(left, bottom, right, top) — merge fold as in
    /root/reference/src/osm/model/bounding_box.rs:30-64."""
    pts = np.concatenate([np.asarray(r, np.float64) for r in rings], axis=0)
    return (float(pts[:, 0].min()), float(pts[:, 1].min()),
            float(pts[:, 0].max()), float(pts[:, 1].max()))


def polygon_centroid(rings) -> tuple[float, float]:
    """Area-weighted centroid of the outer ring (shoelace); falls back to
    vertex mean for degenerate area."""
    r = np.asarray(rings[0], np.float64)
    x, y = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-12:
        return float(x.mean()), float(y.mean())
    cx = ((x + x2) * cross).sum() / (6.0 * a)
    cy = ((y + y2) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (vectorized)."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, np.float64))
                          for a in (lat1, lon1, lat2, lon2))
    dla, dlo = la2 - la1, lo2 - lo1
    h = np.sin(dla / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))
