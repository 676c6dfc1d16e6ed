"""Slippy tiling engine: vector tiles (cover → clip → simplify →
quantize → MVT blobs), raster heatmap tiles (bin → cascade → PNG),
zoom-pyramid rollups, and incremental dirty-tile maintenance.

The reference stops at assigning elements to its planar Morton tile
(/root/reference/src/osm/apidb_dump/sql.rs:50-61); an actual tiling
engine must also CUT geometry into per-tile pieces the way map servers
emit Mapbox-Vector-Tile layers: for every Web-Mercator tile a polygon
overlaps, clip the rings to the (buffered) tile rectangle, simplify at
the tile's pixel resolution, and quantize to integer tile-local
coordinates on a fixed extent grid (4096 is the published MVT default).

Spark-first layout — the whole pipeline is ONE shuffle (the final
per-tile aggregation or MVT encode, when the caller asks for it):

  polygons ──(SQL steps: bbox → tile range)──► explode x ──►
  explode y ──(mapInPandas numpy kernel: clip+simplify+quantize)──►
  per-(tile, polygon) features ──(encode_mvt_layers: tile-key
  repartition + sorted-run mapInPandas)──► one MVT blob per tile

The fan-out explode and the kernel pipeline in the SAME stage (no
exchange in between — pinned in tests/test_plan_audit.py), so a
polygon overlapping many tiles is cut by however many tasks its fan-out
rows land in: hot coastline polygons parallelize by construction
instead of hot-spotting one task.

Scale guard: a polygon whose bbox at the requested zoom overlaps more
than ``max_tiles_per_polygon`` tiles (a continent outline at z=15)
fans out quadratically in zoom; the default raises with guidance to
tile it at a coarser zoom first (same raise-and-route convention as
dedup.ngram router / multimodal.max_caption_group).

Clipping is exact in lon/lat space: Web-Mercator tile edges are
meridians and parallels, i.e. axis-aligned lines in degree space, so a
Sutherland–Hodgman clip of degree-space rings against the degree-space
tile rectangle is geometrically exact for polygons whose edges are
straight in lon/lat (the OSM convention).  The nonlinear Mercator y
stretch is applied AFTER clipping, when vertices are projected to
continuous tile-pixel coordinates for simplification + quantization.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G
from ..functions import webmercator as WM
from ..functions.cells import morton_np
from ..functions.steps import select_steps
from .util import widen

# ---------------------------------------------------------------------------
# numpy geometry kernels
# ---------------------------------------------------------------------------


def _clip_half(pts: np.ndarray, keep: np.ndarray, axis: int,
               value: float) -> np.ndarray:
    """One Sutherland–Hodgman half-plane pass over an open ring.

    ``keep`` is the inside mask for the current vertices; crossing
    edges contribute the intersection with the axis-aligned boundary
    line first, then the inside endpoint.  Fully vectorized: emitted
    counts per vertex are 0/1/2, assembled with a cumsum offset table.
    """
    n = len(pts)
    if n == 0 or keep.all():
        return pts if keep.all() else pts[:0]
    prev = np.empty_like(pts)
    prev[0] = pts[-1]
    prev[1:] = pts[:-1]
    prev_keep = np.empty_like(keep)
    prev_keep[0] = keep[-1]
    prev_keep[1:] = keep[:-1]
    cross = keep != prev_keep
    counts = cross.astype(np.int64) + keep.astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((int(counts.sum()), 2), np.float64)
    if cross.any():
        p, c = prev[cross], pts[cross]
        other = 1 - axis
        tt = (value - p[:, axis]) / (c[:, axis] - p[:, axis])
        ipts = np.empty((len(p), 2), np.float64)
        ipts[:, axis] = value
        ipts[:, other] = p[:, other] + tt * (c[:, other] - p[:, other])
        out[offs[cross]] = ipts
    idx_cur = offs + cross.astype(np.int64)
    out[idx_cur[keep]] = pts[keep]
    return out


def clip_ring_rect_np(pts: np.ndarray, left: float, bottom: float,
                      right: float, top: float) -> np.ndarray:
    """Clip an OPEN ring (no repeated closing vertex) to an axis-aligned
    rectangle; returns an open ring (possibly empty)."""
    pts = np.asarray(pts, np.float64).reshape(-1, 2)
    pts = _clip_half(pts, pts[:, 0] >= left, 0, left)
    if len(pts):
        pts = _clip_half(pts, pts[:, 0] <= right, 0, right)
    if len(pts):
        pts = _clip_half(pts, pts[:, 1] >= bottom, 1, bottom)
    if len(pts):
        pts = _clip_half(pts, pts[:, 1] <= top, 1, top)
    return pts


def simplify_ring_np(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on an open ring (iterative, numpy per-chord
    distance sweep).  The first vertex is the fixed anchor; the chord
    for the initial span is first→last, falling back to
    distance-to-point when a chord degenerates.  tol <= 0 keeps every
    vertex (identity) so callers can disable simplification without a
    code path change."""
    pts = np.asarray(pts, np.float64).reshape(-1, 2)
    n = len(pts)
    if tol <= 0.0 or n <= 2:
        return pts
    keep = np.zeros(n, bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[i + 1:j]
        dx = pts[j, 0] - pts[i, 0]
        dy = pts[j, 1] - pts[i, 1]
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d = np.hypot(seg[:, 0] - pts[i, 0], seg[:, 1] - pts[i, 1])
        else:
            d = np.abs((seg[:, 0] - pts[i, 0]) * dy
                       - (seg[:, 1] - pts[i, 1]) * dx) / math.sqrt(l2)
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return pts[keep]


def ring_area2_np(pts: np.ndarray) -> float:
    """Twice the signed shoelace area of an open ring."""
    pts = np.asarray(pts, np.float64).reshape(-1, 2)
    if len(pts) < 3:
        return 0.0
    x, y = pts[:, 0], pts[:, 1]
    s = float(x[:-1] @ y[1:] - x[1:] @ y[:-1])
    return s + float(x[-1] * y[0] - x[0] * y[-1])


def _dedupe_consecutive(q: np.ndarray, drop_wrap: bool = True) -> np.ndarray:
    """Drop consecutive duplicate integer vertices, then (for open
    RINGS — ``drop_wrap``) any trailing vertices equal to the first
    (wraparound).  Polylines pass ``drop_wrap=False``: a closed-loop
    way legitimately ends where it starts."""
    if len(q) == 0:
        return q
    diff = np.empty(len(q), bool)
    diff[0] = True
    np.any(q[1:] != q[:-1], axis=1, out=diff[1:])
    if not diff.all():
        q = q[diff]
    while drop_wrap and len(q) > 1 and (q[-1] == q[0]).all():
        q = q[:-1]
    return q


# Mercator continuous tile-coordinate helpers (degree → [0, 2^z) floats).

def _merc_xy_np(lon: np.ndarray, lat: np.ndarray, zoom: int):
    n = float(1 << zoom)
    la = np.clip(lat, -WM.MAX_LAT, WM.MAX_LAT)
    r = np.radians(la)
    X = (lon + 180.0) / 360.0 * n
    Y = (1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi) / 2.0 * n
    return X, Y


def _inv_merc_lat_np(Y, zoom: int):
    n = float(1 << zoom)
    Y = np.asarray(Y, np.float64)
    return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * Y / n))))


def _inv_merc_lat(Y: float, zoom: int) -> float:
    # delegates to the array kernel so scalar callers (tests) and the
    # batched kernel share one set of libm calls bit-for-bit
    return float(_inv_merc_lat_np(np.float64(Y), zoom))


def _clip_half_batch(pts: np.ndarray, seg: np.ndarray,
                     seg_vals: np.ndarray, axis: int, keep_ge: bool):
    """One Sutherland–Hodgman half-plane pass over MANY open rings at
    once: ``pts`` (N,2) flat vertices, ``seg`` (N,) contiguous ascending
    ring ids, ``seg_vals`` the per-RING boundary value (each (polygon,
    tile) row clips against its own tile rect). Identical arithmetic to
    ``_clip_half`` — the scalar-reference parity tests referee both."""
    n = len(pts)
    if n == 0:
        return pts, seg
    v = seg_vals[seg]
    keep = pts[:, axis] >= v if keep_ge else pts[:, axis] <= v
    starts = np.empty(n, bool)
    starts[0] = True
    np.not_equal(seg[1:], seg[:-1], out=starts[1:])
    sidx = np.flatnonzero(starts)
    ends = np.append(sidx[1:], n) - 1
    prev_idx = np.arange(n) - 1
    prev_idx[sidx] = ends
    prev_keep = keep[prev_idx]
    cross = keep != prev_keep
    counts = cross.astype(np.int64) + keep.astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((int(counts.sum()), 2), np.float64)
    oseg = np.empty(len(out), seg.dtype)
    if cross.any():
        p = pts[prev_idx[cross]]
        c = pts[cross]
        vv = v[cross]
        other = 1 - axis
        tt = (vv - p[:, axis]) / (c[:, axis] - p[:, axis])
        ipts = np.empty((len(p), 2), np.float64)
        ipts[:, axis] = vv
        ipts[:, other] = p[:, other] + tt * (c[:, other] - p[:, other])
        out[offs[cross]] = ipts
        oseg[offs[cross]] = seg[cross]
    idx_cur = offs + cross.astype(np.int64)
    out[idx_cur[keep]] = pts[keep]
    oseg[idx_cur[keep]] = seg[keep]
    return out, oseg


def _clip_polyline_half_batch(pts: np.ndarray, seg: np.ndarray,
                              seg2row: np.ndarray, row_vals: np.ndarray,
                              axis: int, keep_ge: bool):
    """One half-plane pass over MANY open POLYLINE parts at once.

    Same vectorized shape as ``_clip_half_batch`` with two line-specific
    differences: no wraparound edge (a part's first vertex has no
    predecessor), and a part that exits and re-enters the half-plane
    SPLITS — crossing-out intersections end the current part, crossing-in
    intersections start a new one (the open-polyline Sutherland–Hodgman
    variant; a clipped way becomes a multilinestring).

    ``pts`` (N,2) flat vertices; ``seg`` (N,) contiguous ascending part
    ids; ``seg2row`` (P,) part → input-row map (``row_vals`` is per
    row: each (way, tile) row clips against its own tile rect).
    Returns (pts, seg, seg2row) with parts relabeled contiguous
    ascending."""
    n = len(pts)
    if n == 0:
        return pts, seg, seg2row[:0]
    v = row_vals[seg2row[seg]]
    keep = pts[:, axis] >= v if keep_ge else pts[:, axis] <= v
    starts = np.empty(n, bool)
    starts[0] = True
    np.not_equal(seg[1:], seg[:-1], out=starts[1:])
    prev_keep = np.empty(n, bool)
    prev_keep[1:] = keep[:-1]
    prev_keep[starts] = keep[starts]      # no predecessor ⇒ no crossing
    cross = keep != prev_keep
    counts = cross.astype(np.int64) + keep.astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((int(counts.sum()), 2), np.float64)
    if cross.any():
        p = pts[np.flatnonzero(cross) - 1]  # cross is False at starts
        c = pts[cross]
        vv = v[cross]
        other = 1 - axis
        tt = (vv - p[:, axis]) / (c[:, axis] - p[:, axis])
        ipts = np.empty((len(p), 2), np.float64)
        ipts[:, axis] = vv
        ipts[:, other] = p[:, other] + tt * (c[:, other] - p[:, other])
        out[offs[cross]] = ipts
    idx_cur = offs + cross.astype(np.int64)
    out[idx_cur[keep]] = pts[keep]
    # an output part starts at an inside part-head or an entering
    # intersection; every emitted run leads with one (the first emission
    # after a gap of outside vertices is always an entering crossing)
    flag_i = np.flatnonzero((starts & keep) | (cross & keep))
    newpart = np.zeros(len(out), bool)
    newpart[offs[flag_i]] = True
    oseg = np.cumsum(newpart) - 1
    return out, oseg, seg2row[seg[flag_i]]


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

# Quantized rings are emitted FLAT (ring_lens + parallel pxs/pys), the
# same primitive-array layout the kernel consumes: Arrow moves these
# zero-copy, where an array<array<struct<px,py>>> column costs a Python
# dict per vertex on the way out (measured ~2x on the sf0.1 bench) and
# ragged nesting breaks toPandas. An MVT encoder slices ring i as
# pxs[sum(lens[:i]) : sum(lens[:i+1])].
FEATURE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("polygon_id", T.LongType()),
    T.StructField("ring_lens", T.ArrayType(T.IntegerType())),
    T.StructField("pxs", T.ArrayType(T.IntegerType())),
    T.StructField("pys", T.ArrayType(T.IntegerType())),
    T.StructField("n_pts", T.IntegerType()),
    T.StructField("area_px2", T.DoubleType()),
])


def tile_cover(polys: DataFrame, zoom: int,
               max_tiles_per_polygon: int = 4096,
               antimeridian: str = "split",
               id_col: str = "polygon_id") -> DataFrame:
    """Fan a polygon frame (… left/bottom/right/top bbox cols) out to
    one row per overlapped Web-Mercator tile at ``zoom``.

    SQL steps (functions/steps.select_steps) + explodes — stays in the
    scan's stage, no shuffle, no driver collect.  Tile range per
    polygon is the bbox's tile-index range (slippy y grows southward:
    y range comes from top→bottom).

    Antimeridian (``antimeridian='split'``, default): bboxes are
    min/max lon, so a ring crossing ±180° arrives with lon width >
    180° — read as a WRAPPED interval [right, left+360] (the standard
    heuristic: no real feature spans more than half the globe the
    short way) and fanned out as TWO x ranges, [x(right), 2^z-1] ∪
    [0, x(left)].  The clip kernel re-centres ring longitudes into
    each tile's frame, so crossing geometry renders exactly — the
    same semantics the S2 path (s2_spatial_join_polygons) gets
    natively.  Pass ``antimeridian='wide'`` to read a >180°-wide bbox
    literally (a genuinely world-spanning ring, e.g. a polar cap).

    The guard raises in-task (raise_error folded into the ``_y0``
    step, which the y explode reads, so Catalyst cannot prune it) when
    a polygon's fan-out exceeds ``max_tiles_per_polygon``; pass None to
    disable (e.g. after pre-splitting giant polygons at a coarser
    zoom)."""
    if antimeridian not in ("split", "wide"):
        raise ValueError(f"antimeridian={antimeridian!r}: 'split' or 'wide'")
    n_hi = (1 << zoom) - 1
    crossing = ("(`right` - `left`) > 180e0" if antimeridian == "split"
                else "false")

    def rng(lo: str, hi: str) -> str:
        return f"named_struct('lo', {lo}, 'hi', {hi})"

    steps = [
        ("_xl", WM.tile_x_sql("`left`", zoom)),
        ("_xr", WM.tile_x_sql("`right`", zoom)),
        ("_cross", crossing),
        # at zoom 0 both wrapped ranges merge
        ("_two", "_cross AND _xr > _xl"),
        ("_ranges", f"CASE WHEN _two THEN array({rng('_xr', f'{n_hi}L')}, "
                    f"{rng('0L', '_xl')}) "
                    f"WHEN _cross THEN array({rng('0L', f'{n_hi}L')}) "
                    f"ELSE array({rng('_xl', '_xr')}) END"),
        ("_ty0", WM.tile_y_sql("`top`", zoom)),
        ("_y1", WM.tile_y_sql("`bottom`", zoom)),
        ("_y0", "_ty0"),
    ]
    if max_tiles_per_polygon is not None:
        x_count = (f"CASE WHEN _two THEN ({n_hi}L - _xr + 1) + (_xl + 1) "
                   f"WHEN _cross THEN {n_hi + 1}L ELSE _xr - _xl + 1 END")
        msg = (f"concat('tile_cover: geometry ', "
               f"CAST(`{id_col}` AS STRING), ' overlaps > "
               f"{max_tiles_per_polygon} tiles at zoom {zoom}; tile at a "
               f"coarser zoom or raise max_tiles_per_polygon')")
        steps[-1] = ("_y0", f"CASE WHEN ({x_count}) * (_y1 - _ty0 + 1) <= "
                            f"{int(max_tiles_per_polygon)} THEN _ty0 "
                            f"ELSE CAST(raise_error({msg}) AS BIGINT) END")
    d = select_steps(polys, steps, keep=("_ranges", "_y0", "_y1"))
    return (d.selectExpr("*", "explode(_ranges) AS _r")
             .selectExpr("*", "explode(sequence(_r.lo, _r.hi)) AS x")
             .selectExpr("*", "explode(sequence(_y0, _y1)) AS y",
                         f"{zoom} AS z")
             .drop("_ranges", "_r", "_y0", "_y1"))


def _tile_frame(pts: np.ndarray, row_of_pt: np.ndarray, xr: np.ndarray,
                yr: np.ndarray, zoom: int, extent: int, buffer_px: int):
    """Per-row buffered tile rect in degree space → (lon_l, lon_r,
    lat_b, lat_t), and the vertices of ``pts`` (row ``row_of_pt``)
    re-centred IN PLACE into their tile's frame (±360 shift): an
    antimeridian-crossing feature reaches tiles on both sides of ±180°,
    where half its vertices sit a full wrap away from the tile rect.
    For non-crossing data every shift is 0 and the write is skipped —
    bit-identical to the unshifted path."""
    n = float(1 << zoom)
    fb = buffer_px / float(extent)
    lon_l = (xr - fb) / n * 360.0 - 180.0
    lon_r = (xr + 1 + fb) / n * 360.0 - 180.0
    lat_t = _inv_merc_lat_np(yr - fb, zoom)
    lat_b = _inv_merc_lat_np(yr + 1 + fb, zoom)
    if len(pts):
        ctr = 0.5 * (lon_l + lon_r)
        k = np.round((ctr[row_of_pt] - pts[:, 0]) / 360.0)
        if k.any():
            pts[:, 0] = pts[:, 0] + 360.0 * k
    return lon_l, lon_r, lat_b, lat_t


def _feature_rows(pdf: pd.DataFrame, zoom: int, extent: int,
                  buffer_px: int, tol_px: float):
    """Kernel: one (polygon, tile) row → 0 or 1 clipped feature row.

    Ring geometry arrives in the flat layout of
    functions/geometry.flat_ring_cols (ring_len + parallel lons/lats
    primitive arrays), split here for the whole batch at once."""
    out = {k: [] for k in ("z", "x", "y", "polygon_id", "ring_lens",
                           "pxs", "pys", "n_pts", "area_px2")}
    nrows = len(pdf)
    if nrows == 0:
        return pd.DataFrame(out)
    ext = float(extent)

    # ---- flatten the whole batch: all rings of all rows, one array ----
    xr = pdf["x"].to_numpy().astype(np.float64)
    yr = pdf["y"].to_numpy().astype(np.float64)
    lens_col = pdf["ring_len"].to_numpy()
    rings_per_row = np.array([len(v) for v in lens_col], np.int64)
    seg_row = np.repeat(np.arange(nrows), rings_per_row)       # ring→row
    seg_lens = (np.concatenate(lens_col).astype(np.int64)
                if rings_per_row.sum() else np.empty(0, np.int64))
    n_seg = len(seg_lens)
    pts = np.column_stack([np.concatenate(pdf["lons"].to_numpy()),
                           np.concatenate(pdf["lats"].to_numpy())]) \
        if n_seg else np.empty((0, 2))
    seg = np.repeat(np.arange(n_seg), seg_lens)
    # open closed rings (drop the repeated closing vertex); index only
    # the >=2-point rings — a zero-length ring's sidx points one past
    # its (empty) slot, which is out of bounds when it is the last ring
    eidx = np.cumsum(seg_lens) - 1
    sidx = np.concatenate(([0], eidx[:-1] + 1))
    closed = np.zeros(n_seg, bool)
    v = seg_lens >= 2
    if v.any():
        closed[v] = (pts[sidx[v]] == pts[eidx[v]]).all(axis=1)
    if closed.any():
        drop = np.zeros(len(pts), bool)
        drop[eidx[closed]] = True
        pts, seg = pts[~drop], seg[~drop]

    # ---- 4 half-plane passes over EVERY ring at once ----
    lon_l, lon_r, lat_b, lat_t = _tile_frame(pts, seg_row[seg], xr, yr,
                                             zoom, extent, buffer_px)
    rl = lon_l[seg_row]
    rr = lon_r[seg_row]
    rb = lat_b[seg_row]
    rt = lat_t[seg_row]
    pts, seg = _clip_half_batch(pts, seg, rl, 0, True)
    pts, seg = _clip_half_batch(pts, seg, rr, 0, False)
    pts, seg = _clip_half_batch(pts, seg, rb, 1, True)
    pts, seg = _clip_half_batch(pts, seg, rt, 1, False)

    # ---- batched projection to continuous tile-pixel coords ----
    X, Y = _merc_xy_np(pts[:, 0], pts[:, 1], zoom)
    row_of = seg_row[seg] if len(seg) else seg
    pix_all = np.column_stack([(X - xr[row_of]) * ext,
                               (Y - yr[row_of]) * ext])
    counts = np.bincount(seg, minlength=n_seg)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))

    # ---- per-ring tail (simplify is recursive; rings are tiny) ----
    ring_cursor = 0
    for i in range(nrows):
        rings_q = []
        tot_pts = 0
        area2 = 0.0
        for s in range(ring_cursor, ring_cursor + int(rings_per_row[i])):
            c = int(counts[s])
            if c < 3:
                continue
            pix = pix_all[offs[s]:offs[s] + c]
            pix = simplify_ring_np(pix, tol_px)
            if len(pix) < 3:
                continue
            q = np.floor(pix + 0.5).astype(np.int64)
            q = _dedupe_consecutive(q)
            if len(q) < 3:
                continue
            a2 = ring_area2_np(q)
            if a2 == 0.0:
                continue
            rings_q.append(q)
            tot_pts += len(q)
            area2 += a2
        ring_cursor += int(rings_per_row[i])
        # net signed area 0 ⇒ the rings cancel under the even-odd rule
        # (e.g. a tile wholly inside a multipolygon hole clips to two
        # coincident opposite-wound squares) — nothing to render, drop
        # the feature.  Per published MVT practice, winding is the
        # data's responsibility: same-wound coincident rings would slip
        # past this check, matching how real encoders treat them.
        if not rings_q or area2 == 0.0:
            continue
        allq = np.concatenate(rings_q)
        out["z"].append(zoom)
        out["x"].append(int(xr[i]))
        out["y"].append(int(yr[i]))
        out["polygon_id"].append(int(pdf["polygon_id"].iat[i]))
        out["ring_lens"].append(np.array([len(r) for r in rings_q],
                                         np.int32))
        out["pxs"].append(allq[:, 0].astype(np.int32))
        out["pys"].append(allq[:, 1].astype(np.int32))
        out["n_pts"].append(tot_pts)
        # abs: outer CCW / inner CW cancel, matching even-odd fill area
        out["area_px2"].append(abs(area2) / 2.0)
    return pd.DataFrame(out)


def _fan_out(flat: DataFrame, zoom: int, max_tiles: int, id_col: str,
             only_tiles: DataFrame | None, kernel, schema) -> DataFrame:
    """The shared vector-tile shape: tile_cover → optional dirty-tile
    semi-join → widen → one mapInPandas ``kernel(pdf)`` pass."""
    cov = tile_cover(flat, zoom, max_tiles, id_col=id_col).drop(
        "z", "left", "bottom", "right", "top")
    if only_tiles is not None:
        # Incremental re-tile: keep only (feature, tile) pairs whose
        # tile is dirty, BEFORE the expensive kernel. A left-semi join
        # against the (small) dirty set; broadcast when the set is
        # driver-sized (count gate — same convention as the S2
        # containment join's broadcast gate), shuffled otherwise.
        keys = only_tiles.select("x", "y").distinct()
        if keys.count() <= 1_000_000:
            keys = F.broadcast(keys)
        cov = cov.join(keys, ["x", "y"], "left_semi")
    # The (feature, tile) fan-out inherits the SOURCE's partitioning —
    # 1-2 parquet splits at bench scale would pin the Python kernel to
    # 1-2 cores (CLAUDE.md widen rule; measured 55s → ~4s at sf0.1).
    # widen() is a no-op for a source with a known split count at or
    # above the target; a shuffled (AQE-planned) source always pays one
    # extra round-robin shuffle here. It also spreads a hot giant
    # polygon's tiles across the cluster.
    cov = widen(cov)

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield kernel(pdf)

    return cov.mapInPandas(run, schema)


def build_vector_tiles(polys: DataFrame, zoom: int, extent: int = 4096,
                       buffer_px: int = 16, tol_px: float = 1.0,
                       max_tiles_per_polygon: int = 4096,
                       only_tiles: DataFrame | None = None) -> DataFrame:
    """Polygons (polygon_id, rings, left/bottom/right/top) → per-tile
    clipped + simplified + quantized features (FEATURE_SCHEMA).

    One stage end-to-end: scan → tile fan-out (SQL steps + explode) →
    mapInPandas kernel; no shuffle until the caller aggregates.
    ``buffer_px`` is the published MVT overzoom margin (vertices up to
    that many pixels outside the tile are kept so adjacent tiles render
    seamless borders); ``tol_px`` the Douglas–Peucker tolerance in
    pixel units (0 disables).  Antimeridian-crossing rings fan out to
    both sides of ±180° (:func:`tile_cover`) and the kernel re-centres
    their longitudes per tile.  ``only_tiles``: restrict the build to
    that (x, y) tile set (see :func:`retile`)."""
    # flat rings BEFORE the tile fan-out: once per polygon, not once
    # per (polygon, tile) row
    flat = polys.select("polygon_id", "left", "bottom", "right", "top",
                        *G.flat_ring_cols())
    return _fan_out(
        flat, zoom, max_tiles_per_polygon, "polygon_id", only_tiles,
        lambda pdf: _feature_rows(pdf, zoom, extent, buffer_px, tol_px),
        FEATURE_SCHEMA)


def tile_layer_stats(features: DataFrame) -> DataFrame:
    """Per-tile layer statistics — the one shuffle of the pipeline."""
    return (features.groupBy("z", "x", "y")
            .agg(F.count("*").alias("n_features"),
                 F.sum("n_pts").alias("n_pts"),
                 F.sum("area_px2").alias("area_px2")))


# Line features mirror FEATURE_SCHEMA with parts instead of rings (a
# way clipped to a tile is a MULTIlinestring: it splits wherever it
# exits and re-enters the rect) and polyline length instead of area.
LINE_FEATURE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("way_id", T.LongType()),
    T.StructField("part_lens", T.ArrayType(T.IntegerType())),
    T.StructField("pxs", T.ArrayType(T.IntegerType())),
    T.StructField("pys", T.ArrayType(T.IntegerType())),
    T.StructField("n_pts", T.IntegerType()),
    T.StructField("length_px", T.DoubleType()),
])


def _line_feature_rows(pdf: pd.DataFrame, zoom: int, extent: int,
                       buffer_px: int, tol_px: float) -> pd.DataFrame:
    """Arrow-batch line kernel: clip every (way, tile) polyline of the
    batch to its buffered tile rect (splitting into parts), simplify at
    pixel tolerance, quantize.  Same flat-array batching discipline as
    ``_feature_rows`` — all four half-plane passes run once over every
    vertex of the batch; only simplify (recursive) walks parts."""
    out = {k: [] for k in ("z", "x", "y", "way_id", "part_lens",
                           "pxs", "pys", "n_pts", "length_px")}
    nrows = len(pdf)
    if nrows == 0:
        return pd.DataFrame(out)
    ext = float(extent)
    xr = pdf["x"].to_numpy().astype(np.float64)
    yr = pdf["y"].to_numpy().astype(np.float64)
    lens = np.array([len(v) for v in pdf["lons"].to_numpy()], np.int64)
    pts = np.column_stack([np.concatenate(pdf["lons"].to_numpy()),
                           np.concatenate(pdf["lats"].to_numpy())]) \
        if lens.sum() else np.empty((0, 2))
    seg = np.repeat(np.arange(nrows), lens)   # one part per row initially
    seg2row = np.arange(nrows)

    lon_l, lon_r, lat_b, lat_t = _tile_frame(pts, seg, xr, yr, zoom,
                                             extent, buffer_px)
    pts, seg, seg2row = _clip_polyline_half_batch(
        pts, seg, seg2row, lon_l, 0, True)
    pts, seg, seg2row = _clip_polyline_half_batch(
        pts, seg, seg2row, lon_r, 0, False)
    pts, seg, seg2row = _clip_polyline_half_batch(
        pts, seg, seg2row, lat_b, 1, True)
    pts, seg, seg2row = _clip_polyline_half_batch(
        pts, seg, seg2row, lat_t, 1, False)

    X, Y = _merc_xy_np(pts[:, 0], pts[:, 1], zoom)
    row_of_pt = seg2row[seg] if len(seg) else seg
    pix_all = np.column_stack([(X - xr[row_of_pt]) * ext,
                               (Y - yr[row_of_pt]) * ext])
    n_part = len(seg2row)
    counts = np.bincount(seg, minlength=n_part)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))

    # per-part tail grouped by row (part→row is non-decreasing: every
    # pass preserves input order)
    def _flush(r, parts_q, tot, length):
        if not parts_q:
            return
        allq = np.concatenate(parts_q)
        out["z"].append(zoom)
        out["x"].append(int(xr[r]))
        out["y"].append(int(yr[r]))
        out["way_id"].append(int(pdf["way_id"].iat[r]))
        out["part_lens"].append(np.array([len(p) for p in parts_q],
                                         np.int32))
        out["pxs"].append(allq[:, 0].astype(np.int32))
        out["pys"].append(allq[:, 1].astype(np.int32))
        out["n_pts"].append(tot)
        out["length_px"].append(length)

    cur_row = -1
    parts_q: list = []
    tot = 0
    length = 0.0
    for p in range(n_part):
        r = int(seg2row[p])
        if r != cur_row:
            _flush(cur_row, parts_q, tot, length)
            cur_row, parts_q, tot, length = r, [], 0, 0.0
        c = int(counts[p])
        if c < 2:
            continue
        pix = pix_all[offs[p]:offs[p] + c]
        pix = simplify_ring_np(pix, tol_px)
        q = np.floor(pix + 0.5).astype(np.int64)
        q = _dedupe_consecutive(q, drop_wrap=False)
        if len(q) < 2:
            continue
        d = np.diff(q, axis=0)
        length += float(np.hypot(d[:, 0], d[:, 1]).sum())
        parts_q.append(q)
        tot += len(q)
    _flush(cur_row, parts_q, tot, length)
    return pd.DataFrame(out)


def build_vector_tile_lines(lines: DataFrame, zoom: int,
                            extent: int = 4096, buffer_px: int = 16,
                            tol_px: float = 1.0,
                            max_tiles_per_line: int = 4096) -> DataFrame:
    """Polylines (way_id, line array<struct<lon,lat>>,
    left/bottom/right/top) → per-tile clipped + simplified + quantized
    MULTIlinestring features (LINE_FEATURE_SCHEMA) — the rendering path
    for the ~60% of OSM ways that are roads/rivers/paths rather than
    closed areas (reference way geometry: way_relations_reader.rs).

    Identical Spark shape to :func:`build_vector_tiles` (one stage,
    zero shuffle until the caller aggregates); the kernel differs in
    clip semantics only — exit/re-enter SPLITS a way into parts instead
    of connecting along the rect boundary."""
    flat = lines.select(
        "way_id", "left", "bottom", "right", "top",
        F.transform("line", lambda p: p["lon"]).alias("lons"),
        F.transform("line", lambda p: p["lat"]).alias("lats"))
    return _fan_out(
        flat, zoom, max_tiles_per_line, "way_id", None,
        lambda pdf: _line_feature_rows(pdf, zoom, extent, buffer_px,
                                       tol_px),
        LINE_FEATURE_SCHEMA)


def tile_points(points: DataFrame, zoom: int, extent: int = 4096,
                buffer_px: int = 16, id_col: str = "point_id") -> DataFrame:
    """Geotagged points → one row per (tile, point) with quantized
    in-tile pixel coordinates, INCLUDING buffer-margin duplicates into
    adjacent tiles (a point ``buffer_px`` pixels from a tile edge also
    renders in the neighbor so labels/markers survive tile borders —
    the published MVT overzoom convention, same margin as the
    polygon/line kernels).

    SQL text — continuous tile coords, a 3×3 neighbor explode, SQL
    steps, one filter; zero shuffle, whole-stage codegen end-to-end,
    and fully SQL-expressible (the oracle reproduces it with a VALUES
    cross join).  x wraps modulo 2^z so the antimeridian seam
    duplicates like any other tile edge; y clamps (no wrap past the
    poles)."""
    nt, ext, b = 1 << zoom, float(extent), float(buffer_px)
    offsets = ", ".join(f"named_struct('_dx', {dx}, '_dy', {dy})"
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    d = (points.selectExpr(f"`{id_col}`",
                           f"{WM.tile_xc_sql('`lon`', zoom)} AS _fx",
                           f"{WM.tile_yc_sql('`lat`', zoom)} AS _fy")
         .selectExpr("*", f"inline(array({offsets}))"))
    d = select_steps(d, [("_tx", "floor(_fx) + _dx"),
                         ("_ty", "floor(_fy) + _dy"),
                         ("_px", f"(_fx - _tx) * {ext}D"),
                         ("_py", f"(_fy - _ty) * {ext}D")],
                     keep=("_tx", "_ty", "_px", "_py"))
    return (d.filter(f"_px >= {-b}D AND _px <= {ext + b}D AND "
                     f"_py >= {-b}D AND _py <= {ext + b}D AND "
                     f"_ty >= 0 AND _ty <= {nt - 1}")
            .selectExpr(f"`{id_col}`", f"CAST({zoom} AS INT) AS z",
                        f"CAST(pmod(_tx, {nt}) AS BIGINT) AS x",
                        "CAST(_ty AS BIGINT) AS y",
                        "CAST(floor(_px + 0.5D) AS INT) AS px",
                        "CAST(floor(_py + 0.5D) AS INT) AS py"))


def _sorted_runs(df: DataFrame, keys, order, emit, schema) -> DataFrame:
    """Key-grouped batch kernel without tiny-group applyInPandas: one
    hash repartition on ``keys``, sortWithinPartitions(``keys`` +
    ``order``), then ONE mapInPandas pass. A key's rows are contiguous
    within a partition but may straddle an Arrow batch boundary, so the
    trailing (possibly incomplete) run is carried into the next batch.
    ``emit(pdf, starts, ends)`` gets whole runs only: run i is rows
    ``starts[i]:ends[i]``, cut by numpy change detection."""
    src = df.repartition(*keys).sortWithinPartitions(*keys, *order)

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            change = np.zeros(len(pdf), bool)
            change[0] = True
            for k in keys:
                v = pdf[k].to_numpy()
                change[1:] |= v[1:] != v[:-1]
            starts = np.flatnonzero(change)
            carry = pdf.iloc[starts[-1]:]
            if len(starts) > 1:
                yield emit(pdf.iloc[:starts[-1]], starts[:-1], starts[1:])
        if carry is not None:
            yield emit(carry, np.array([0]), np.array([len(carry)]))

    return src.mapInPandas(run, schema)


MVT_LAYERED_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("n_layers", T.IntegerType()),
    T.StructField("n_features", T.IntegerType()),
    T.StructField("mvt", T.BinaryType()),
])

_LAYER_KINDS = {"polygon": 3, "line": 2, "point": 1}  # mvt geom types


def encode_mvt_layers(layers, extent: int = 4096) -> DataFrame:
    """[(layer_name, frame, kind[, attrs])] → ONE MVT 2.1 blob per tile
    (functions/mvt.py hand-encodes the published protobuf layout) — a
    single polygon layer, or the complete tile a real map server emits:
    polygon, line, and point layers in one protobuf (spec: a Tile is
    repeated Layer messages; each Feature carries its geometry type and
    tag-index pairs into the layer's key/value dictionaries).

    ``kind``: 'polygon' (FEATURE_SCHEMA, feature id ``polygon_id``),
    'line' (LINE_FEATURE_SCHEMA, ``way_id``), 'point' (tile_points
    output, ``point_id``).  ``attrs`` (optional 4th element): a
    (fid, tag_ks array<string>, tag_vs array<string>) frame of feature
    attributes, LEFT-joined on the feature id before the tile shuffle
    (one extra key-equi-join per attributed layer; featureless ids get
    no tags field). Per-tile-layer key/value dictionaries are built in
    feature-sorted first-seen order, so blobs stay byte-deterministic.
    Layer names must be distinct (MVT 2.1 §4.1).

    Frames normalize to one shared (z, x, y, layer, fid, part_lens,
    pxs, pys, tag_ks, tag_vs) shape and union; one shuffle (tile-key
    repartition) + sortWithinPartitions (tile, layer, fid) + one
    mapInPandas pass (:func:`_sorted_runs`) — never a tiny-group
    applyInPandas (~0.5 ms of pandas overhead per 1-3-feature tile).
    Layer order inside a tile = caller order; the in-tile fid sort
    makes every blob byte-deterministic regardless of upstream
    partitioning."""
    from ..functions import mvt as MVT

    layers = list(layers)
    if not layers:
        raise ValueError("encode_mvt_layers: no layers")
    for t in layers:
        if len(t) not in (3, 4) or t[2] not in _LAYER_KINDS:
            raise ValueError(
                f"encode_mvt_layers: layer {t!r} is not (name, frame, "
                f"kind[, attrs]) with kind in {sorted(_LAYER_KINDS)}")
    names = [t[0] for t in layers]
    if len(set(names)) != len(names):
        raise ValueError(f"encode_mvt_layers: duplicate layer names "
                         f"{names} (MVT 2.1 §4.1)")
    gts = np.array([_LAYER_KINDS[t[2]] for t in layers])
    empty_s = F.array().cast("array<string>")
    src = None
    for li, t in enumerate(layers):
        _name, df, kind = t[0], t[1], t[2]
        attrs = t[3] if len(t) > 3 else None
        if kind == "polygon":
            d = df.select("z", "x", "y",
                          F.col("polygon_id").alias("fid"),
                          F.col("ring_lens").alias("part_lens"),
                          "pxs", "pys")
        elif kind == "line":
            d = df.select("z", "x", "y", F.col("way_id").alias("fid"),
                          "part_lens", "pxs", "pys")
        else:
            d = df.select("z", "x", "y", F.col("point_id").alias("fid"),
                          F.array(F.lit(1)).alias("part_lens"),
                          F.array(F.col("px")).alias("pxs"),
                          F.array(F.col("py")).alias("pys"))
        if attrs is not None:
            d = (d.join(attrs.select("fid", "tag_ks", "tag_vs"), "fid",
                        "left")
                 .withColumn("tag_ks", F.coalesce("tag_ks", empty_s))
                 .withColumn("tag_vs", F.coalesce("tag_vs", empty_s)))
        else:
            d = (d.withColumn("tag_ks", empty_s)
                 .withColumn("tag_vs", empty_s))
        d = d.withColumn("layer", F.lit(li).cast("int"))
        src = d if src is None else src.unionByName(d)

    def _emit(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        nrow = len(pdf)
        li = pdf["layer"].to_numpy()
        # (tile, layer) runs: a tile start or a layer change
        lchange = np.zeros(nrow, bool)
        lchange[starts] = True
        lchange[1:] |= li[1:] != li[:-1]
        lstarts = np.flatnonzero(lchange)
        lends = np.append(lstarts[1:], nrow)
        run_of_row = np.cumsum(lchange) - 1
        # per-(tile, layer) key/value dictionaries and the per-feature
        # packed tag bytes, over the tagged rows only (indices are
        # dictionary-local, so this precedes the geometry encode)
        ks_col = pdf["tag_ks"].to_numpy()
        vs_col = pdf["tag_vs"].to_numpy()
        tagged = np.flatnonzero(np.fromiter(map(len, ks_col), np.int64,
                                            nrow))
        tag_bytes = [b""] * nrow if len(tagged) else None
        run_dicts: dict = {}
        for i in tagged:
            kd, vd = run_dicts.setdefault(int(run_of_row[i]), ({}, {}))
            pairs = []
            for k_, v_ in zip(ks_col[i], vs_col[i]):
                pairs.append(kd.setdefault(k_, len(kd)))
                pairs.append(vd.setdefault(v_, len(vd)))
            tag_bytes[i] = MVT.encode_tags_packed(pairs)
        # batch-encode feature messages per geometry type (messages are
        # independent; only the layer wrapper needs the tile grouping)
        gt = gts[li]
        fid = pdf["fid"].to_numpy()
        lens_col = pdf["part_lens"].to_numpy()
        pxs_col = pdf["pxs"].to_numpy()
        pys_col = pdf["pys"].to_numpy()
        feat_msgs: list = [None] * nrow
        for g in np.unique(gt):
            m = np.flatnonzero(gt == g)
            rpr = np.fromiter(map(len, lens_col[m]), np.int64, len(m))
            if rpr.sum():
                part_lens = np.concatenate(lens_col[m]).astype(np.int64)
                q = np.column_stack([
                    np.concatenate(pxs_col[m]).astype(np.int64),
                    np.concatenate(pys_col[m]).astype(np.int64)])
            else:
                part_lens = np.empty(0, np.int64)
                q = np.empty((0, 2), np.int64)
            msgs = MVT.encode_features_batch(
                q, part_lens, np.repeat(np.arange(len(m)), rpr), fid[m],
                geom_type=int(g),
                tag_bytes=(None if tag_bytes is None
                           else [tag_bytes[i] for i in m]))
            for i, mi in enumerate(m):
                feat_msgs[mi] = msgs[i]
        # one Layer message per (tile, layer) run, joined per tile
        lblobs = [
            MVT.encode_tile(MVT.encode_layer(
                names[li[s]], b"".join(feat_msgs[s:e]), extent,
                *run_dicts.get(r, ((), ()))))
            for r, (s, e) in enumerate(zip(lstarts, lends))]
        lcut = np.searchsorted(lstarts, starts)
        lcut_end = np.append(lcut[1:], len(lstarts))
        return pd.DataFrame({
            "z": pdf["z"].to_numpy()[starts],
            "x": pdf["x"].to_numpy()[starts],
            "y": pdf["y"].to_numpy()[starts],
            "n_layers": (lcut_end - lcut).astype(np.int32),
            "n_features": (ends - starts).astype(np.int32),
            "mvt": [b"".join(lblobs[a:b]) for a, b in zip(lcut, lcut_end)]})

    return _sorted_runs(src, ["z", "x", "y"], ["layer", "fid"], _emit,
                        MVT_LAYERED_SCHEMA)


def tile_morton_sql(x: str, y: str) -> str:
    """Spark SQL text of the raw Morton interleave of tile x/y columns
    ``x``/``y`` (no lead bit; ``x`` is the more significant bit of each
    pair, as :func:`functions.cells.morton_np`) for tile indices below
    2^16 (zoom <= 16): one flat OR of 32 masked, shifted bits. A NULL
    input gives NULL. Flat text on purpose: the inlined spread-step
    chain was 4.6 KB of 32-fold nested text whose cold parse cost
    ~1.3 s of driver time per fresh JVM."""
    return " | ".join(f"((`{c}` & {1 << i}L) << {i + s})"
                      for i in range(16) for c, s in ((x, 1), (y, 0)))


def tile_morton_col(x, y) -> "F.Column":
    """Raw Morton interleave of tile x/y columns (names; no lead bit) —
    the 1-D sort key of the tile store: 2-D tile locality == 1-D id
    locality, so a morton-RANGE-sharded store serves a bbox region
    from a handful of shards (same read-path story as the S2 Hilbert
    id, spatial_join.s2_read_region_pruned). One ``F.expr`` of
    :func:`tile_morton_sql`; valid for zoom <= 16 (tile indices below
    2^16)."""
    return F.expr(tile_morton_sql(x, y))


def morton_ranges_for_rect(x0: int, x1: int, y0: int, y1: int, zoom: int,
                           max_ranges: int = 64) -> list[tuple[int, int]]:
    """Decompose an inclusive tile rect into ≤ max_ranges Morton-id
    ranges (quadtree descent; a quad partially overlapping the rect is
    emitted WHOLE once the budget is reached — a superset is fine, the
    caller applies the exact x/y filter after the manifest skip)."""
    out: list[tuple[int, int]] = []
    stack = [(0, 0, 0)]  # (prefix cell x, y, level)
    while stack:
        cx, cy, lv = stack.pop()
        span = 1 << (zoom - lv)
        qx0, qy0 = cx * span, cy * span
        qx1, qy1 = qx0 + span - 1, qy0 + span - 1
        if qx1 < x0 or qx0 > x1 or qy1 < y0 or qy0 > y1:
            continue
        full = qx0 >= x0 and qx1 <= x1 and qy0 >= y0 and qy1 <= y1
        if full or lv == zoom or \
                len(out) + len(stack) + 4 >= max_ranges:
            m0 = int(morton_np(np.array([qx0], np.uint64),
                               np.array([qy0], np.uint64))[0])
            out.append((m0, m0 + span * span - 1))
            continue
        for dx in (0, 1):
            for dy in (0, 1):
                stack.append((cx * 2 + dx, cy * 2 + dy, lv + 1))
    out.sort()
    # merge adjacent ranges
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def read_tile_region(table, spark, zoom: int, left: float, bottom: float,
                     right: float, top: float):
    """Region read over a morton-sharded tile snapshot: bbox → tile
    rect → Morton ranges → manifest min/max skipping
    (SnapshotTable.read_pruned_multi on the ``m`` column) → exact x/y
    filter. Returns (DataFrame, kept partition names) — the
    tile-serving path of a 100 TB tile store: no file listing, no full
    scan."""
    x0a, y0a = WM.tile_xy_np(np.array([top]), np.array([left]), zoom)
    x1a, y1a = WM.tile_xy_np(np.array([bottom]), np.array([right]), zoom)
    x0, x1 = int(x0a[0]), int(x1a[0])
    y0, y1 = int(y0a[0]), int(y1a[0])
    ranges = morton_ranges_for_rect(x0, x1, y0, y1, zoom)
    df, kept = table.read_pruned_multi(spark, "m", ranges)
    return (df.filter((F.col("x") >= x0) & (F.col("x") <= x1)
                      & (F.col("y") >= y0) & (F.col("y") <= y1)),
            kept)


def quadkey_prefix_ranges(prefixes) -> list[tuple[str, str]]:
    """[lo, hi] STRING ranges covering every descendant key of each
    quadkey prefix: base-4 keys use digits '0'-'3' only, so all keys
    with prefix ``p`` sort lexicographically in [p, p + '4'] and no
    real key ever equals the upper bound — the string sibling of the
    S2 descendant-id range (s2_range_np) and the Morton rect ranges
    above. This is how real tile stores (quadkey-keyed, per the
    published Bing scheme) serve a region as a handful of key-prefix
    scans."""
    return [(p, p + "4") for p in prefixes]


def geohash_prefix_ranges(prefixes) -> list[tuple[str, str]]:
    """Descendant STRING ranges per geohash prefix: the published
    base-32 alphabet (functions/geohash.GEOHASH32) ends at 'z', so
    every key with prefix ``p`` sorts in [p, p + '{'] ('{' is the
    character after 'z'; no geohash digit reaches it) — the geohash
    sibling of quadkey_prefix_ranges."""
    return [(p, p + "{") for p in prefixes]


def _read_region_string_prefix(table, spark, prefixes, col, ranges):
    """Shared string-prefix region read: prefix → [lo, hi] ranges →
    manifest min/max skipping (read_pruned_multi works unchanged on
    string stats — parquet row-group min/max are order-typed, not
    numeric) → exact ``startswith`` filter. Returns (DataFrame, kept
    partition names); no file listing, no full scan."""
    if not prefixes:
        return table.read(spark).limit(0), []
    df, kept = table.read_pruned_multi(spark, col, ranges)
    cond = F.col(col).startswith(prefixes[0])
    for p in prefixes[1:]:
        cond = cond | F.col(col).startswith(p)
    return df.filter(cond), kept


def read_tile_region_quadkey(table, spark, prefixes, qk: str = "qk"):
    """Region read over a QUADKEY-sorted tile snapshot: ancestor-tile
    prefixes → string ranges → manifest skipping → exact filter.
    Same no-listing/no-full-scan contract as read_tile_region; the key
    is a string so the store interops with external quadkey-keyed
    systems."""
    prefixes = list(prefixes)
    return _read_region_string_prefix(
        table, spark, prefixes, qk, quadkey_prefix_ranges(prefixes))


def read_tile_region_geohash(table, spark, prefixes, gh: str = "gh"):
    """Region read over a GEOHASH-sorted snapshot (the third string
    geocode's read payoff, after the quadkey path): ancestor geohash
    prefixes — e.g. the 4-char parents of an 8-char-keyed store —
    serve a region as a handful of key-prefix scans via the same
    manifest min/max skipping."""
    prefixes = list(prefixes)
    return _read_region_string_prefix(
        table, spark, prefixes, gh, geohash_prefix_ranges(prefixes))


def dirty_tiles(changed_polys: DataFrame, zoom: int,
                max_tiles_per_polygon: int | None = None) -> DataFrame:
    """Distinct (z, x, y) tiles touched by a set of changed polygons
    (pass bboxes covering BOTH the old and new geometry of each edit —
    a moved polygon dirties where it was and where it is)."""
    cov = tile_cover(
        changed_polys.select("polygon_id", "left", "bottom", "right",
                             "top"),
        zoom, max_tiles_per_polygon)
    return cov.select("z", "x", "y").distinct()


def retile(polys: DataFrame, changed_polys: DataFrame,
           zoom: int) -> tuple[DataFrame, DataFrame]:
    """Incremental tile maintenance: (dirty_tiles, rebuilt_features).

    A tile's content depends on EVERY polygon overlapping it, not just
    the changed ones — so the rebuild runs the full polygon table
    through the (cheap, SQL-only) fan-out and semi-joins it down to
    the dirty tile set BEFORE the clip kernel: kernel work is
    proportional to the dirty area, the full-table pass is a
    scan+explode with no shuffle. The caller overwrites exactly the
    returned tiles in its tile store (blobs are deterministic, so an
    unchanged tile rewrites byte-identically)."""
    dirty = dirty_tiles(changed_polys, zoom).localCheckpoint(eager=False)
    feats = build_vector_tiles(polys, zoom, only_tiles=dirty)
    return dirty, feats


HEATMAP_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("n_points", T.LongType()),
    T.StructField("max_count", T.LongType()),
    T.StructField("png", T.BinaryType()),
])


def render_heatmap_tiles(points: DataFrame, zoom: int, size: int = 256,
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Geotagged points → one grayscale PNG heatmap tile per slippy
    tile — the raster-tile sink next to the MVT vector sink (the
    10^12-image rendering path: density tiles of the image corpus).

    Two stages, both scale-safe:
    1. SQL text assigns every point its (tile, pixel) bin at
       ``zoom`` (continuous Mercator coords, floor/fraction split) and
       a groupBy reduces 10^12 points to ≤ size² counted bins per tile
       — the ONLY pass over the full table, with map-side partial
       aggregation.
    2. The binned counts (bounded: tiles × size²) take the MVT sink's
       repartition + sortWithinPartitions + single-mapInPandas path
       (never tiny-group applyInPandas) to paint each tile's uint8
       image — log-scaled per tile, 255 = the tile's max bin — and
       encode it with the hand-rolled PNG codec (functions/png.py).

    PNG bytes are deterministic: bin counts are exact integers and the
    per-tile normalization uses only the tile's own data."""
    d = (points.selectExpr(f"{WM.tile_xc_sql(f'`{lon}`', zoom)} AS _xc",
                           f"{WM.tile_yc_sql(f'`{lat}`', zoom)} AS _yc")
         .select(F.floor("_xc").cast("long").alias("x"),
                 F.floor("_yc").cast("long").alias("y"),
                 F.least(F.floor((F.col("_xc") % 1.0) * size),
                         F.lit(size - 1)).cast("int").alias("px"),
                 F.least(F.floor((F.col("_yc") % 1.0) * size),
                         F.lit(size - 1)).cast("int").alias("py"))
         .groupBy("x", "y", "px", "py").agg(F.count(F.lit(1)).alias("n")))
    return _paint_bins(d, zoom, size)


def render_heatmap_pyramid(points: DataFrame, zooms, size: int = 256,
                           lat: str = "lat",
                           lon: str = "lon") -> DataFrame:
    """PNG heatmap tiles for EVERY zoom in ``zooms`` from ONE pass over
    the point table — the 10^12-image rendering path done right: the
    per-zoom binning of render_heatmap_tiles repeated for 10 zooms
    would scan the table 10 times; here the finest zoom's GLOBAL pixel
    bins (gx = floor(Xc·size) ∈ [0, 2^z·size)) are aggregated once,
    and every coarser zoom's bins are EXACTLY the parent shift
    gx>>dz, gy>>dz of the previous level's partials (integer-division
    identity: floor(floor(v)/2) == floor(v/2)) — the same cascade as
    tile_pyramid_rollup, then each level is painted independently.

    ``size`` must be a power of two (tile index = gx>>log2(size),
    pixel = gx & (size-1)). ``zooms`` strictly decreasing. Each
    level's bins are pinned with a lazy localCheckpoint (fan-out rule:
    the painter and the next cascade step both consume them)."""
    zooms = list(zooms)
    if len(zooms) < 1 or len(set(zooms)) != len(zooms) or \
            zooms != sorted(zooms, reverse=True):
        raise ValueError("zooms must be strictly decreasing")
    lg = size.bit_length() - 1
    if size != (1 << lg):
        raise ValueError("size must be a power of two")
    z0 = zooms[0]
    gx = f"CAST(floor({WM.tile_xc_sql(f'`{lon}`', z0)} * {size}) AS BIGINT)"
    gy = f"CAST(floor({WM.tile_yc_sql(f'`{lat}`', z0)} * {size}) AS BIGINT)"
    cur = (points.selectExpr(f"{gx} AS gx", f"{gy} AS gy")
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=False))
    out = None
    prev = z0
    for zv in zooms:
        if zv != prev:
            dz = prev - zv
            cur = (cur.groupBy(F.shiftright("gx", dz).alias("gx"),
                               F.shiftright("gy", dz).alias("gy"))
                   .agg(F.sum("n").alias("n"))
                   .localCheckpoint(eager=False))
            prev = zv
        bins = cur.select(
            F.shiftright("gx", lg).alias("x"),
            F.shiftright("gy", lg).alias("y"),
            (F.col("gx") % size).cast("int").alias("px"),
            (F.col("gy") % size).cast("int").alias("py"),
            "n")
        painted = _paint_bins(bins, zv, size)
        out = painted if out is None else out.unionByName(painted)
    return out


def _paint_bins(bins: DataFrame, zoom: int, size: int) -> DataFrame:
    """(x, y, px, py, n) counted bins → painted PNG tiles (the shared
    tail of render_heatmap_tiles and render_heatmap_pyramid)."""
    from ..functions import png as PNG

    def _paint(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        px = pdf["px"].to_numpy()
        py = pdf["py"].to_numpy()
        n = pdf["n"].to_numpy()
        out = {"n_points": [], "max_count": [], "png": []}
        for s, e in zip(starts, ends):
            img = np.zeros((size, size), np.float64)
            img[py[s:e], px[s:e]] = n[s:e]
            mx = int(n[s:e].max())
            scaled = np.round(
                255.0 * np.log1p(img) / math.log1p(mx)).astype(np.uint8) \
                if mx > 0 else img.astype(np.uint8)
            out["n_points"].append(int(n[s:e].sum()))
            out["max_count"].append(mx)
            out["png"].append(PNG.encode_gray(scaled))
        return pd.DataFrame({"z": np.full(len(starts), zoom, np.int32),
                             "x": pdf["x"].to_numpy()[starts],
                             "y": pdf["y"].to_numpy()[starts], **out})

    return _sorted_runs(bins, ["x", "y"], ["py", "px"], _paint,
                        HEATMAP_SCHEMA)


def tile_pyramid_rollup(df: DataFrame, zooms, aggs,
                        x: str = "x", y: str = "y") -> DataFrame:
    """Cascaded zoom pyramid on the slippy hierarchy — the Web-Mercator
    sibling of spatial_join.s2_multires_rollup (same hypertable-rollup
    shape, proven 5.7x over per-level leaf aggregation at 100M rows in
    BENCH/S2.md): aggregate the leaf table ONCE at ``zooms[0]``, then
    every coarser zoom re-aggregates the previous level's partial via
    the parent bit-shift (parent of (z, x, y) is (z-1, x>>1, y>>1) —
    the published slippy scheme's quadtree). Each step shrinks the
    input ~4^Δz, so a z15→z0 heatmap pyramid over 10^12 images costs
    one leaf shuffle plus a vanishing tail.

    ``zooms``: strictly decreasing; ``df`` carries tile coords at
    ``zooms[0]`` in columns ``x``/``y``. ``aggs`` as cascade_aggs.
    Each partial fans out (output union + next step) — pinned with a
    lazy localCheckpoint per the fan-out rule.

    Returns ``(z int, x long, y long, *aliases)``, all zooms unioned.
    """
    from .util import cascade_aggs

    zooms = list(zooms)
    if len(zooms) < 1 or len(set(zooms)) != len(zooms) or \
            zooms != sorted(zooms, reverse=True):
        raise ValueError("zooms must be strictly decreasing")
    leaf_aggs, re_aggs = cascade_aggs(aggs)
    cur = (df.groupBy(F.col(x).alias("x"), F.col(y).alias("y"))
           .agg(*leaf_aggs)
           .select(F.lit(zooms[0]).cast("int").alias("z"), "*")
           .localCheckpoint(eager=False))
    out = cur
    prev = zooms[0]
    for zv in zooms[1:]:
        dz = prev - zv
        cur = (cur.groupBy(F.shiftright("x", dz).alias("x"),
                           F.shiftright("y", dz).alias("y"))
               .agg(*re_aggs)
               .select(F.lit(zv).cast("int").alias("z"), "*")
               .localCheckpoint(eager=False))
        out = out.unionByName(cur)
        prev = zv
    return out
