"""Web-Mercator slippy tiling: golden anchors, three-way encode parity,
clip/simplify kernel correctness vs independent scalar references, and
the end-to-end vector-tile build over the PBF fixture.

The reference engine stops at planar Morton tile assignment
(/root/reference/src/osm/apidb_dump/sql.rs:50-61); the slippy scheme
here follows the published OSM formula, so the golden anchors are
closed-form consequences of that spec (boundary latitudes where
asinh(tan(lat)) hits rational multiples of pi), not repo-internal
self-parity.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import webmercator as WM
from osm_io_spark.functions.steps import select_steps
from osm_io_spark.operators import tiles as TL
from osm_io_spark.sources.pbf import proto as P

# ---------------------------------------------------------------------------
# golden anchors (closed-form consequences of the published formula)
# ---------------------------------------------------------------------------

# atan(sinh(k*pi)) latitudes sit EXACTLY on slippy row boundaries:
# y_cont = (1 - k) * 2^z / 2
LAT_HALF = math.degrees(math.atan(math.sinh(math.pi / 2)))   # 66.51326...
LAT_BOUND = WM.MAX_LAT                                        # atan(sinh(pi))


def test_golden_anchor_tiles():
    cases = [
        # (lat, lon, zoom, x, y)
        (0.0, 0.0, 0, 0, 0),
        (0.0, 0.0, 1, 1, 1),          # greenwich/equator → SE quadrant
        (0.0, -180.0, 1, 0, 1),
        (40.0, -74.0, 0, 0, 0),
        (0.0, 179.9999, 3, 7, 4),     # antimeridian east edge → last col
        (LAT_HALF + 1e-9, 0.0, 2, 2, 0),   # just north of the k=1/2 row
        (LAT_HALF - 1e-9, 0.0, 2, 2, 1),   # just south of it
        (-LAT_HALF - 1e-9, 0.0, 2, 2, 3),  # mirror row in the south
        (LAT_BOUND, 0.0, 4, 8, 0),     # clamp: pole edge lands in row 0
        (-LAT_BOUND, 0.0, 4, 8, 15),   # …and row 2^z - 1
        (89.9, 0.0, 4, 8, 0),          # beyond the bound: clamped
        (-89.9, 0.0, 4, 8, 15),
    ]
    for lat, lon, z, ex, ey in cases:
        x, y = WM.tile_xy_np(np.array([lat]), np.array([lon]), z)
        assert (int(x[0]), int(y[0])) == (ex, ey), (lat, lon, z, x, y)


def test_three_way_encode_parity(spark, duck):
    """numpy / Spark SQL / DuckDB SQL (one shared text) produce
    identical tiles on a dense deterministic grid at several zooms."""
    rng = np.random.Generator(np.random.Philox(7))
    lat = rng.uniform(-84.9, 84.9, 4000)
    lon = rng.uniform(-180.0, 179.999, 4000)
    import pandas as pd
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    sdf = spark.createDataFrame(pdf)
    for z in (1, 5, 12):
        nx, ny = WM.tile_xy_np(lat, lon, z)
        got = (sdf.selectExpr(f"{WM.tile_x_sql('lon', z)} AS x",
                              f"{WM.tile_y_sql('lat', z)} AS y")
               .toPandas())
        assert (got["x"].to_numpy() == nx).all(), z
        assert (got["y"].to_numpy() == ny).all(), z
        d = duck.sql(
            f"SELECT {WM.tile_x_sql('lon', z)} AS x, "
            f"{WM.tile_y_sql('lat', z)} AS y FROM pdf").df()
        assert (d["x"].to_numpy() == nx).all(), z
        assert (d["y"].to_numpy() == ny).all(), z


def test_quadkey_published_golden_vectors():
    """Literal examples from the published Bing Maps Tile System doc:
    tile (3,5) at level 3 is quadkey "213"; the level-1/2 quadrant
    figures give (0,0)@1="0", (1,0)@1="1", (1,2)@2="21"."""
    assert WM.quadkey_np([3], [5], 3) == ["213"]
    assert WM.quadkey_np([0], [0], 1) == ["0"]
    assert WM.quadkey_np([1], [0], 1) == ["1"]
    assert WM.quadkey_np([1], [2], 2) == ["21"]


def test_quadkey_three_way_parity_roundtrip_and_prefix(spark, duck):
    """numpy / Spark SQL steps / DuckDB SQL quadkeys are string-identical on a
    dense grid; the decoder inverts them; every child key starts with
    its arithmetic parent's key (the prefix property)."""
    rng = np.random.Generator(np.random.Philox(11))
    import pandas as pd
    for z in (1, 7, 14):
        n = 1 << z
        x = rng.integers(0, n, 3000)
        y = rng.integers(0, n, 3000)
        want = WM.quadkey_np(x, y, z)
        pdf = pd.DataFrame({"x": x, "y": y})
        got = select_steps(spark.createDataFrame(pdf),
                           WM.quadkey_steps("x", "y", z, "qk"),
                           keep=("qk",)).toPandas()["qk"]
        assert list(got) == want, z
        d = duck.sql(f"SELECT {WM.quadkey_sql('x', 'y', z)} AS qk "
                     f"FROM pdf").df()["qk"]
        assert list(d) == want, z
        rx, ry, rz = WM.quadkey_to_xyz_np(want)
        assert rz == z and (rx == x).all() and (ry == y).all()
        if z > 2:
            parents = WM.quadkey_np(x >> 2, y >> 2, z - 2)
            assert all(qk.startswith(p) for qk, p in zip(want, parents))


def test_tile_morton_text_matches_numpy(spark):
    """The tile store's Morton key is one flat per-bit text (a cold
    parse of the nested spread-step text cost ~1.3 s per JVM): it
    equals ``morton_np`` bit for bit on the corners of the 16-bit
    range and on seeded random pairs, NULL in gives NULL out, and the
    text stays short."""
    from osm_io_spark.functions.cells import morton_np

    assert len(TL.tile_morton_sql("x", "y")) <= 1024
    rng = np.random.default_rng(14)
    xs = np.concatenate([[0, 65535, 0, 65535],
                         rng.integers(0, 1 << 16, 1000)])
    ys = np.concatenate([[0, 65535, 65535, 0],
                         rng.integers(0, 1 << 16, 1000)])
    rows = [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    rows += [(len(rows), None, 7), (len(rows) + 1, 7, None)]
    df = spark.createDataFrame(rows, "i int, x long, y long")
    got = [r.m for r in sorted(
        df.select("i", TL.tile_morton_col("x", "y").alias("m")).collect())]
    want = morton_np(xs.astype(np.uint64), ys.astype(np.uint64))
    assert got[:len(xs)] == [int(v) for v in want]
    assert got[len(xs):] == [None, None]


def test_tile_bounds_roundtrip():
    z = 9
    rng = np.random.Generator(np.random.Philox(11))
    x = rng.integers(0, 1 << z, 500)
    y = rng.integers(0, 1 << z, 500)
    l, b, r, t = WM.tile_bounds_np(x, y, z)
    assert (r > l).all() and (t > b).all()
    cx, cy = WM.tile_xy_np((b + t) / 2.0, (l + r) / 2.0, z)
    assert (cx == x).all() and (cy == y).all()


# ---------------------------------------------------------------------------
# clip kernel vs an independent scalar Sutherland–Hodgman
# ---------------------------------------------------------------------------

def _clip_scalar(pts, left, bottom, right, top):
    """Deliberately naive per-vertex reference implementation."""
    def half(poly, inside, cross):
        out = []
        n = len(poly)
        for i in range(n):
            cur, prev = poly[i], poly[i - 1]
            if inside(cur):
                if not inside(prev):
                    out.append(cross(prev, cur))
                out.append(tuple(cur))
            elif inside(prev):
                out.append(cross(prev, cur))
        return out

    def xcross(v):
        return lambda p, c: (v, p[1] + (v - p[0]) / (c[0] - p[0]) * (c[1] - p[1]))

    def ycross(v):
        return lambda p, c: (p[0] + (v - p[1]) / (c[1] - p[1]) * (c[0] - p[0]), v)

    poly = [tuple(p) for p in pts]
    for inside, cross in [
        (lambda p: p[0] >= left, xcross(left)),
        (lambda p: p[0] <= right, xcross(right)),
        (lambda p: p[1] >= bottom, ycross(bottom)),
        (lambda p: p[1] <= top, ycross(top)),
    ]:
        if not poly:
            break
        poly = half(poly, inside, cross)
    return np.array(poly, np.float64).reshape(-1, 2)


def test_clip_matches_scalar_reference():
    rng = np.random.Generator(np.random.Philox(23))
    for _ in range(300):
        n = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        rad = rng.uniform(0.2, 3.0, n)
        pts = np.column_stack([np.cos(ang) * rad, np.sin(ang) * rad])
        l, b = rng.uniform(-2, 0, 2)
        r, t = l + rng.uniform(0.5, 3), b + rng.uniform(0.5, 3)
        got = TL.clip_ring_rect_np(pts, l, b, r, t)
        want = _clip_scalar(pts, l, b, r, t)
        # scalar reference emits <3-vertex residue unchanged; the
        # vectorized kernel returns it too — compare raw vertex lists
        assert got.shape == want.shape, (pts, l, b, r, t)
        if len(got):
            assert np.allclose(got, want, atol=1e-12)


def test_clip_containment_semantics():
    """Point-sampled: a sample is inside the clipped ring iff it is
    inside the original ring AND inside the rect (samples near any
    edge excluded — S–H bridge edges have zero width but PIP on them
    is boundary-sensitive)."""
    from osm_io_spark.functions.geometry import points_in_polygon
    rng = np.random.Generator(np.random.Philox(29))
    for _ in range(40):
        n = int(rng.integers(4, 10))
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        rad = rng.uniform(0.3, 2.5, n)
        ring = np.column_stack([np.cos(ang) * rad, np.sin(ang) * rad])
        l, b, r, t = -1.0, -0.8, 1.2, 0.9
        cl = TL.clip_ring_rect_np(ring, l, b, r, t)
        px = rng.uniform(-3, 3, 600)
        py = rng.uniform(-3, 3, 600)
        in_orig = points_in_polygon(px, py, [ring])
        in_rect = (px > l) & (px < r) & (py > b) & (py < t)
        want = in_orig & in_rect
        got = (points_in_polygon(px, py, [cl])
               if len(cl) >= 3 else np.zeros_like(want))
        # exclude samples within eps of the clip boundary or original
        # polygon edges: PIP there is representation-dependent
        near_rect_edge = (np.abs(px - l) < 1e-3) | (np.abs(px - r) < 1e-3) | \
                         (np.abs(py - b) < 1e-3) | (np.abs(py - t) < 1e-3)
        ok = ~near_rect_edge & ~_near_any_edge(px, py, ring, 1e-3)
        assert (got[ok] == want[ok]).all()


def _near_any_edge(px, py, ring, eps):
    near = np.zeros(len(px), bool)
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        tt = np.clip(((px - ax) * dx + (py - ay) * dy) / (l2 or 1.0), 0, 1)
        d2 = (ax + tt * dx - px) ** 2 + (ay + tt * dy - py) ** 2
        near |= d2 < eps * eps
    return near


# ---------------------------------------------------------------------------
# simplify kernel
# ---------------------------------------------------------------------------

def _dp_scalar(pts, tol):
    """Recursive reference Douglas–Peucker (independent shape)."""
    pts = np.asarray(pts, float)
    if len(pts) <= 2:
        return pts

    def rec(i, j):
        if j <= i + 1:
            return []
        dx, dy = pts[j] - pts[i]
        l2 = dx * dx + dy * dy
        best, bd = -1, -1.0
        for m in range(i + 1, j):
            if l2 == 0:
                d = math.hypot(pts[m][0] - pts[i][0], pts[m][1] - pts[i][1])
            else:
                d = abs((pts[m][0] - pts[i][0]) * dy
                        - (pts[m][1] - pts[i][1]) * dx) / math.sqrt(l2)
            if d > bd:
                best, bd = m, d
        if bd > tol:
            return rec(i, best) + [best] + rec(best, j)
        return []

    keep = [0] + rec(0, len(pts) - 1) + [len(pts) - 1]
    return pts[sorted(set(keep))]


def test_simplify_matches_scalar_reference():
    rng = np.random.Generator(np.random.Philox(31))
    for _ in range(200):
        n = int(rng.integers(3, 40))
        pts = np.cumsum(rng.normal(0, 1, (n, 2)), axis=0)
        tol = float(rng.uniform(0.01, 2.0))
        got = TL.simplify_ring_np(pts, tol)
        want = _dp_scalar(pts, tol)
        assert got.shape == want.shape
        assert np.allclose(got, want)


def test_simplify_deviation_bound_and_identity():
    rng = np.random.Generator(np.random.Philox(37))
    pts = np.cumsum(rng.normal(0, 1, (60, 2)), axis=0)
    assert (TL.simplify_ring_np(pts, 0.0) == pts).all()
    tol = 0.5
    simp = TL.simplify_ring_np(pts, tol)
    # every dropped vertex is within tol of the simplified polyline
    kept = {tuple(p) for p in simp}
    for p in pts:
        if tuple(p) in kept:
            continue
        d = _min_dist_to_polyline(p, simp)
        assert d <= tol + 1e-9, (p, d)


def _min_dist_to_polyline(p, line):
    best = math.inf
    for i in range(len(line) - 1):
        a, b = line[i], line[i + 1]
        dx, dy = b - a
        l2 = dx * dx + dy * dy
        tt = 0.0 if l2 == 0 else max(0.0, min(1.0, ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / l2))
        best = min(best, math.hypot(a[0] + tt * dx - p[0], a[1] + tt * dy - p[1]))
    return best


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

def _square_poly_df(spark, cx, cy, half, pid=1):
    ring = [{"lon": cx - half, "lat": cy - half},
            {"lon": cx + half, "lat": cy - half},
            {"lon": cx + half, "lat": cy + half},
            {"lon": cx - half, "lat": cy + half}]
    return spark.createDataFrame(
        [(pid, [ring], cx - half, cy - half, cx + half, cy + half)],
        "polygon_id long, rings array<array<struct<lon double, lat double>>>, "
        "left double, bottom double, right double, top double")


def test_tile_cover_matches_bounds(spark):
    df = _square_poly_df(spark, 13.4, 52.5, 0.6)
    cov = TL.tile_cover(df, 10).select("z", "x", "y").toPandas()
    x0, y0 = WM.tile_xy_np(np.array([53.1]), np.array([12.8]), 10)
    x1, y1 = WM.tile_xy_np(np.array([51.9]), np.array([14.0]), 10)
    want = {(10, int(x), int(y))
            for x in range(int(x0[0]), int(x1[0]) + 1)
            for y in range(int(y0[0]), int(y1[0]) + 1)}
    assert {(int(r.z), int(r.x), int(r.y)) for r in cov.itertuples()} == want


def test_tile_cover_guard_raises(spark):
    from py4j.protocol import Py4JJavaError
    df = _square_poly_df(spark, 0.0, 0.0, 60.0)
    with pytest.raises(Exception) as ei:
        TL.tile_cover(df, 12, max_tiles_per_polygon=1000).count()
    assert "overlaps" in str(ei.value)
    # and the escape hatch works
    n = TL.tile_cover(df, 6, max_tiles_per_polygon=None).count()
    assert n > 0


def test_vector_tiles_end_to_end(spark):
    """One polygon spanning several z13 tiles: features reproduce an
    independent per-tile scalar pipeline (clip→project→simplify→
    quantize) bit-for-bit on the quantized rings."""
    cx, cy, half = -169.9, -19.1, 0.07
    df = _square_poly_df(spark, cx, cy, half, pid=77)
    zoom, extent, buf, tol = 13, 4096, 16, 1.0
    feats = TL.build_vector_tiles(df, zoom, extent, buf, tol).collect()
    assert len(feats) >= 4  # 0.14° square spans ≥ 2×2 z13 tiles
    n = float(1 << zoom)
    for row in feats:
        assert row.z == zoom and row.polygon_id == 77
        # independent scalar re-derivation for this tile
        fb = buf / extent
        lon_l = (row.x - fb) / n * 360.0 - 180.0
        lon_r = (row.x + 1 + fb) / n * 360.0 - 180.0
        lat_t = TL._inv_merc_lat(row.y - fb, zoom)
        lat_b = TL._inv_merc_lat(row.y + 1 + fb, zoom)
        ring = np.array([[cx - half, cy - half], [cx + half, cy - half],
                         [cx + half, cy + half], [cx - half, cy + half]])
        cl = _clip_scalar(ring, lon_l, lat_b, lon_r, lat_t)
        X, Y = TL._merc_xy_np(cl[:, 0], cl[:, 1], zoom)
        pix = np.column_stack([(X - row.x) * extent, (Y - row.y) * extent])
        pix = _dp_scalar(pix, tol)
        q = np.floor(pix + 0.5).astype(np.int64)
        q = TL._dedupe_consecutive(q)
        assert list(row.ring_lens) == [len(q)]
        got = np.column_stack([np.asarray(row.pxs), np.asarray(row.pys)])
        assert (got == q).all(), (row.x, row.y)
        # quantized coords stay within the buffered extent
        assert got.min() >= -buf - 1 and got.max() <= extent + buf + 1


def test_tile_cover_antimeridian_split(spark):
    """A bbox wider than 180° is read as a WRAPPED interval (the
    min/max-lon bbox of a ±180°-crossing ring): the fan-out covers the
    two edge strips, never the world in between."""
    z, n = 6, 64
    df = spark.createDataFrame(
        [(1, -170.0, -21.0, 170.0, -17.0)],
        "polygon_id long, left double, bottom double, right double, "
        "top double")
    got = {(int(r.x), int(r.y))
           for r in TL.tile_cover(df, z).select("x", "y").collect()}
    x_lo, y0 = WM.tile_xy_np(np.array([-17.0]), np.array([-170.0]), z)
    x_hi, y1 = WM.tile_xy_np(np.array([-21.0]), np.array([170.0]), z)
    xs = set(range(int(x_hi[0]), n)) | set(range(0, int(x_lo[0]) + 1))
    want = {(x, y) for x in xs for y in range(int(y0[0]), int(y1[0]) + 1)}
    assert got == want
    # and 'wide' keeps the literal (world-spanning) reading
    wide = {(int(r.x), int(r.y)) for r in TL.tile_cover(
        df, z, antimeridian="wide").select("x", "y").collect()}
    assert {x for (x, _) in wide} == set(range(int(x_lo[0]),
                                               int(x_hi[0]) + 1))


def test_vector_tiles_antimeridian_crossing(spark):
    """A Fiji-style square crossing ±180° renders bit-for-bit against
    the independent scalar pipeline run on per-tile re-centred
    longitudes, with features on BOTH sides of the seam and none in
    between."""
    ring = [{"lon": 177.0, "lat": -21.0}, {"lon": -177.0, "lat": -21.0},
            {"lon": -177.0, "lat": -17.0}, {"lon": 177.0, "lat": -17.0}]
    df = spark.createDataFrame(
        [(9, [ring], -177.0, -21.0, 177.0, -17.0)],
        "polygon_id long, rings array<array<struct<lon double, "
        "lat double>>>, left double, bottom double, right double, "
        "top double")
    zoom, extent, buf, tol = 9, 4096, 16, 1.0
    feats = TL.build_vector_tiles(df, zoom, extent, buf, tol).collect()
    n = float(1 << zoom)
    xs = {int(r.x) for r in feats}
    assert xs and max(xs) >= (1 << zoom) - 1 - 10 and min(xs) <= 10
    assert not {x for x in xs if 20 < x < (1 << zoom) - 20}
    base = np.array([[177.0, -21.0], [183.0, -21.0],
                     [183.0, -17.0], [177.0, -17.0]])
    for row in feats:
        fb = buf / extent
        lon_l = (row.x - fb) / n * 360.0 - 180.0
        lon_r = (row.x + 1 + fb) / n * 360.0 - 180.0
        lat_t = TL._inv_merc_lat(row.y - fb, zoom)
        lat_b = TL._inv_merc_lat(row.y + 1 + fb, zoom)
        ctr = 0.5 * (lon_l + lon_r)
        ring_sh = base.copy()
        ring_sh[:, 0] += 360.0 * np.round((ctr - ring_sh[:, 0]) / 360.0)
        cl = _clip_scalar(ring_sh, lon_l, lat_b, lon_r, lat_t)
        X, Y = TL._merc_xy_np(cl[:, 0], cl[:, 1], zoom)
        pix = np.column_stack([(X - row.x) * extent, (Y - row.y) * extent])
        pix = _dp_scalar(pix, tol)
        q = np.floor(pix + 0.5).astype(np.int64)
        q = TL._dedupe_consecutive(q)
        assert list(row.ring_lens) == [len(q)], (row.x, row.y)
        got = np.column_stack([np.asarray(row.pxs), np.asarray(row.pys)])
        assert (got == q).all(), (row.x, row.y)


def test_vector_tiles_trailing_empty_ring(spark):
    """A zero-length ring in the rings array must be a no-op, not an
    IndexError: the kernel's closed-ring detection indexed pts[sidx]
    for ALL rings, and a trailing empty ring's start index points one
    past the last point."""
    cx, cy, half = 13.4, 52.5, 0.07
    ring = [{"lon": cx - half, "lat": cy - half},
            {"lon": cx + half, "lat": cy - half},
            {"lon": cx + half, "lat": cy + half},
            {"lon": cx - half, "lat": cy + half}]
    schema = ("polygon_id long, rings array<array<struct<lon double, "
              "lat double>>>, left double, bottom double, right double, "
              "top double")
    bbox = (cx - half, cy - half, cx + half, cy + half)
    with_empty = spark.createDataFrame([(1, [ring, []], *bbox)], schema)
    without = spark.createDataFrame([(1, [ring], *bbox)], schema)
    got = sorted((r.x, r.y, list(r.ring_lens), list(r.pxs), list(r.pys))
                 for r in TL.build_vector_tiles(with_empty, 13).collect())
    want = sorted((r.x, r.y, list(r.ring_lens), list(r.pxs), list(r.pys))
                  for r in TL.build_vector_tiles(without, 13).collect())
    assert got == want and len(got) >= 4


def test_vector_tiles_quantized_bounds_on_fixture(spark):
    """Every feature of the registry entry's fixture run stays within
    the buffered extent and has ≥3 vertices and nonzero area."""
    from osm_io_spark import queries as Q
    from osm_io_spark.operators import assemble as ASM
    from osm_io_spark.sources.pbf import decode as PD
    path = Q._fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    feats = TL.build_vector_tiles(polys, zoom=13).collect()
    assert len(feats) > 50
    for row in feats:
        lens = list(row.ring_lens)
        assert sum(lens) == len(row.pxs) == len(row.pys) == row.n_pts
        assert min(lens) >= 3
        arr = np.concatenate([np.asarray(row.pxs), np.asarray(row.pys)])
        assert arr.min() >= -17 and arr.max() <= 4096 + 17
        assert row.area_px2 > 0


def test_vector_tiles_single_widen_plan(spark):
    """The pipeline's only pre-aggregation exchange is the deliberate
    round-robin widen() between the fan-out and the Python kernel
    (CLAUDE.md: 1-2 parquet splits at bench scale would pin the
    map-heavy stage to 1-2 cores). No hash shuffle of the data, and
    exactly one exchange below the kernel."""
    # already-wide input: widen is a no-op, pipeline is exchange-free
    df = _square_poly_df(spark, 13.4, 52.5, 0.6)
    plan = TL.build_vector_tiles(df, 11)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    # narrow input (the 1-2-split bench shape): exactly one round-robin
    # exchange, never a hash shuffle of the ring data
    # (the repartition(1) that narrows the input is itself the first
    # exchange; widen's round-robin is the second and last)
    plan1 = TL.build_vector_tiles(df.repartition(1), 11) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan1.count("Exchange") == 2, plan1
    assert "RoundRobinPartitioning(4)" in plan1, plan1
    assert "hashpartitioning" not in plan1, plan1


# ---------------------------------------------------------------------------
# tile pyramid
# ---------------------------------------------------------------------------

def test_tile_pyramid_rollup_cascade_consistency(spark):
    """Every coarser level's totals re-aggregate exactly from its
    children (quadtree parent shift), and zoom validation rejects
    non-decreasing sequences."""
    import pandas as pd
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "x": rng.integers(0, 1 << 8, 2000), "y": rng.integers(0, 1 << 8, 2000),
        "v": rng.integers(0, 100, 2000)})
    df = spark.createDataFrame(pdf)
    out = TL.tile_pyramid_rollup(
        df, (8, 6, 5), {"n": ("count", "v"), "s": ("sum", "v"),
                        "mx": ("max", "v")}).toPandas()
    for z in (8, 6, 5):
        lvl = out[out.z == z]
        dz = 8 - z
        want = (pdf.assign(px=pdf.x.values >> dz, py=pdf.y.values >> dz)
                .groupby(["px", "py"])
                .agg(n=("v", "size"), s=("v", "sum"), mx=("v", "max"))
                .reset_index())
        got = lvl.sort_values(["x", "y"]).reset_index(drop=True)
        want = want.sort_values(["px", "py"]).reset_index(drop=True)
        assert (got.x.values == want.px.values).all() and \
               (got.y.values == want.py.values).all(), z
        assert (got.n.values == want.n.values).all()
        assert (got.s.values == want.s.values).all()
        assert (got.mx.values == want.mx.values).all()
    with pytest.raises(ValueError):
        TL.tile_pyramid_rollup(df, (5, 6), {"n": ("count", "v")})
    with pytest.raises(ValueError):
        TL.tile_pyramid_rollup(df, (8, 6), {"a": ("avg", "v")})


# ---------------------------------------------------------------------------
# MVT codec
# ---------------------------------------------------------------------------

def test_mvt_golden_bytes_unit_square():
    """Hand-assembled wire bytes for a single unit-square feature —
    every varint below is computed from the published spec by hand, so
    this is an external anchor, not codec self-parity."""
    from osm_io_spark.functions import mvt as MVT
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]])
    # geometry: MoveTo(1)+(0,0); LineTo(3)+(10,0),(0,10),(-10,0); Close
    # cmd ints: 9, 26, 15 ; zigzag deltas: 0,0, 20,0, 0,20, 19,0
    want_geom = bytes([9, 0, 0, 26, 20, 0, 0, 20, 19, 0, 15])
    got_cmds = MVT.geometry_commands([sq])
    assert b"".join(P.varint(c) for c in got_cmds) == want_geom
    blob = MVT.encode_mvt([(7, [sq])], name="t", extent=512)
    # feature msg: id(field1)=7, type(field3)=3, geom(field4)
    feat = bytes([0x08, 7, 0x18, 3, 0x22, len(want_geom)]) + want_geom
    # layer: version(15)=2, name(1)="t", features(2), extent(5)=512
    layer = (bytes([0x78, 2]) + bytes([0x0A, 1]) + b"t"
             + bytes([0x12, len(feat)]) + feat
             + bytes([0x28]) + P.varint(512))
    want = bytes([0x1A, len(layer)]) + layer
    assert blob == want


def test_mvt_roundtrip_random_rings():
    from osm_io_spark.functions import mvt as MVT
    rng = np.random.default_rng(41)
    feats = []
    for fid in range(30):
        rings = []
        for _ in range(int(rng.integers(1, 4))):
            n = int(rng.integers(3, 12))
            rings.append(rng.integers(-20, 4116, (n, 2)).astype(np.int64))
        feats.append((fid, rings))
    dec = MVT.decode_mvt(MVT.encode_mvt(feats, name="osm", extent=4096))
    assert dec["version"] == 2 and dec["name"] == "osm"
    assert dec["extent"] == 4096
    assert len(dec["features"]) == len(feats)
    for (fid, rings), (gid, grings) in zip(feats, dec["features"]):
        assert gid == fid and len(grings) == len(rings)
        for r, g in zip(rings, grings):
            assert (np.asarray(g) == np.asarray(r)).all()


def _encode_osm(feats):
    """One polygon layer named 'osm' — the single-layer tile sink."""
    return TL.encode_mvt_layers([("osm", feats, "polygon")])


def _collect_batched(df, rows_per_batch):
    """Collect ``df`` with Arrow batches capped at ``rows_per_batch``
    rows, so key runs straddle batch boundaries."""
    conf = df.sparkSession.conf
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = conf.get(key)
    try:
        conf.set(key, str(rows_per_batch))
        return df.collect()
    finally:
        conf.set(key, old)


def test_encode_mvt_tiles_deterministic_and_decodable(spark):
    """The Spark sink: per-tile blobs decode back to the exact
    quantized rings of the features frame, independent of input
    partitioning (byte-determinism via the in-tile sort)."""
    from osm_io_spark.functions import mvt as MVT
    df = _square_poly_df(spark, -169.9, -19.1, 0.07, pid=5).unionByName(
        _square_poly_df(spark, -169.93, -19.13, 0.05, pid=9))
    feats = TL.build_vector_tiles(df, 13)
    tiles1 = {(r.z, r.x, r.y): r for r in _encode_osm(feats).collect()}
    tiles2 = {(r.z, r.x, r.y): r
              for r in _encode_osm(feats.repartition(7)).collect()}
    assert tiles1.keys() == tiles2.keys() and len(tiles1) >= 4
    by_tile = {}
    for r in feats.collect():
        lens = np.asarray(r.ring_lens)
        q = np.column_stack([np.asarray(r.pxs), np.asarray(r.pys)])
        by_tile.setdefault((r.z, r.x, r.y), {})[r.polygon_id] = \
            np.split(q, np.cumsum(lens)[:-1])
    for key, row in tiles1.items():
        assert bytes(row.mvt) == bytes(tiles2[key].mvt)
        dec = MVT.decode_mvt(bytes(row.mvt))
        want = by_tile[key]
        assert row.n_features == len(want) == len(dec["features"])
        for fid, rings in dec["features"]:
            assert fid in want
            for r, g in zip(want[fid], rings):
                assert (np.asarray(g) == np.asarray(r)).all()


def test_encode_mvt_tiles_batch_straddle(spark):
    """Force 3-row Arrow batches so multi-feature tiles straddle batch
    boundaries — the kernel's carry-over must still emit exactly one
    blob per tile with all its features."""
    from osm_io_spark.functions import mvt as MVT
    df = None
    # 9 overlapping squares share tiles at z11
    for pid in range(9):
        d = _square_poly_df(spark, 13.40 + pid * 1e-4, 52.50, 0.05,
                            pid=pid)
        df = d if df is None else df.unionByName(d)
    feats = TL.build_vector_tiles(df, 11)
    rows = _collect_batched(_encode_osm(feats.coalesce(1)), 3)
    baseline = _encode_osm(feats).collect()
    got = {(r.z, r.x, r.y): (r.n_features, bytes(r.mvt)) for r in rows}
    want = {(r.z, r.x, r.y): (r.n_features, bytes(r.mvt)) for r in baseline}
    assert len(rows) == len(got), "duplicate tile emitted"
    assert got == want
    total = sum(r.n_features for r in rows)
    assert total == feats.count()
    for r in rows:
        assert len(MVT.decode_mvt(bytes(r.mvt))["features"]) == r.n_features


def test_encode_mvt_layers_batch_straddle_attributed(spark):
    """3-row Arrow batches over a three-layer attributed input: tiles
    and their (tile, layer) runs straddle batch boundaries, yet every
    blob — layer dictionaries included — equals the default-batch one."""
    from osm_io_spark.functions import mvt as MVT
    polys = None
    for pid in range(6):
        d = _square_poly_df(spark, 13.40 + pid * 1e-4, 52.50, 0.05,
                            pid=pid)
        polys = d if polys is None else polys.unionByName(d)
    lines = polys.select(F.col("polygon_id").alias("way_id"),
                         F.element_at("rings", 1).alias("line"),
                         "left", "bottom", "right", "top")
    pts = polys.select(F.col("polygon_id").alias("point_id"),
                       F.col("left").alias("lon"),
                       F.col("bottom").alias("lat"))
    attrs = spark.createDataFrame(
        [(i, ["name", "kind"], [f"n{i % 3}", "k"]) for i in range(0, 6, 2)],
        "fid long, tag_ks array<string>, tag_vs array<string>")
    zoom = 11
    layers = [
        ("areas", TL.build_vector_tiles(polys, zoom), "polygon", attrs),
        ("roads", TL.build_vector_tile_lines(lines, zoom), "line", attrs),
        ("pois", TL.tile_points(pts, zoom), "point", attrs)]
    rows = _collect_batched(TL.encode_mvt_layers(layers), 3)
    want = {(r.z, r.x, r.y): (r.n_layers, r.n_features, bytes(r.mvt))
            for r in TL.encode_mvt_layers(layers).collect()}
    got = {(r.z, r.x, r.y): (r.n_layers, r.n_features, bytes(r.mvt))
           for r in rows}
    assert len(rows) == len(got), "duplicate tile emitted"
    assert got == want
    assert max(n for n, _f, _b in got.values()) == 3
    assert max(f for _n, f, _b in got.values()) > 3
    for n_layers, n_features, blob in got.values():
        dec = MVT.decode_mvt(blob)
        assert len(dec["layers"]) == n_layers
        assert len(dec["features"]) == n_features
        for L in dec["layers"]:
            for (fid, _g), a in zip(L["features"], L["attrs"]):
                assert a == ({"name": f"n{fid % 3}", "kind": "k"}
                             if fid % 2 == 0 else {})


@pytest.mark.parametrize("layers, match", [
    ([], "no layers"),
    ([("a", None)], "is not"),
    ([("a", None, "polygon", None, None)], "is not"),
    ([("a", None, "raster")], "is not"),
    ([("a", None, "polygon"), ("a", None, "line")], "duplicate"),
])
def test_encode_mvt_layers_rejects_bad_layers(layers, match):
    """Malformed ``layers`` fail fast with ValueError before any frame
    is touched: an empty list, a tuple that is not 3 or 4 long, an
    unknown kind, and duplicate layer names (MVT 2.1 §4.1)."""
    with pytest.raises(ValueError, match=match):
        TL.encode_mvt_layers(layers)


# ---------------------------------------------------------------------------
# PNG heatmap sink
# ---------------------------------------------------------------------------

def test_png_roundtrip_and_structure():
    from osm_io_spark.functions import png as PNG
    rng = np.random.default_rng(53)
    img = rng.integers(0, 256, (64, 48)).astype(np.uint8)
    buf = PNG.encode_gray(img)
    # signature + IHDR golden prefix (published spec): w=48, h=64,
    # depth 8, color type 0
    assert buf[:8] == b"\x89PNG\r\n\x1a\n"
    assert buf[8:16] == bytes([0, 0, 0, 13]) + b"IHDR"
    import struct
    w, h, depth, ctype = struct.unpack(">IIBB", buf[16:26])
    assert (w, h, depth, ctype) == (48, 64, 8, 0)
    assert buf.endswith(bytes([0, 0, 0, 0]) + b"IEND"
                        + struct.pack(">I", 0xAE426082))
    assert (PNG.decode_gray(buf) == img).all()


def test_render_heatmap_tiles_matches_numpy(spark):
    """Decoded PNG pixels reproduce an independent numpy binning +
    log scaling of the same points."""
    import math as _m

    from osm_io_spark.functions import png as PNG
    rng = np.random.default_rng(59)
    lat = rng.uniform(-50, 50, 20000)
    lon = rng.uniform(-170, 170, 20000)
    import pandas as pd
    sdf = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    zoom, size = 3, 64
    tiles = TL.render_heatmap_tiles(sdf, zoom, size)
    rows = tiles.collect()
    # 3-row Arrow batches: every tile's bins straddle batch boundaries
    assert sorted(_collect_batched(tiles, 3)) == sorted(rows)
    # independent reference
    X, Y = TL._merc_xy_np(lon, lat, zoom)
    tx, ty = np.floor(X).astype(int), np.floor(Y).astype(int)
    px = np.minimum((np.floor((X - tx) * size)).astype(int), size - 1)
    py = np.minimum((np.floor((Y - ty) * size)).astype(int), size - 1)
    seen = set()
    for r in rows:
        key = (r.x, r.y)
        assert key not in seen, "duplicate tile"
        seen.add(key)
        m = (tx == r.x) & (ty == r.y)
        assert r.n_points == int(m.sum())
        img = np.zeros((size, size), np.int64)
        np.add.at(img, (py[m], px[m]), 1)
        assert r.max_count == img.max()
        want = np.round(255.0 * np.log1p(img)
                        / _m.log1p(img.max())).astype(np.uint8)
        got = PNG.decode_gray(bytes(r.png))
        assert (got == want).all(), key
    # every non-empty tile is present
    assert seen == set(zip(tx.tolist(), ty.tolist())) or \
        seen == {(int(a), int(b)) for a, b in zip(tx, ty)}


# ---------------------------------------------------------------------------
# incremental re-tiling
# ---------------------------------------------------------------------------

def test_retile_incremental_equals_full_rebuild(spark):
    """Rebuilding only the dirty tiles reproduces exactly the full
    rebuild's output restricted to those tiles — and nothing else."""
    polys = None
    for pid in range(12):
        d = _square_poly_df(spark, 13.0 + 0.11 * pid, 52.0 + 0.07 * (pid % 4),
                            0.08, pid=pid)
        polys = d if polys is None else polys.unionByName(d)
    zoom = 12
    # polygons 3 and 7 changed; their old+new bboxes
    changed = _square_poly_df(spark, 13.0 + 0.33, 52.0 + 0.21, 0.08, pid=3) \
        .unionByName(_square_poly_df(spark, 13.0 + 0.77, 52.21, 0.12, pid=7))
    dirty, feats = TL.retile(polys, changed, zoom)
    dirty_keys = {(r.z, r.x, r.y) for r in dirty.collect()}
    assert dirty_keys, "no dirty tiles"
    inc = {(r.z, r.x, r.y, r.polygon_id):
           (list(r.ring_lens), list(r.pxs), list(r.pys))
           for r in feats.collect()}
    full = {(r.z, r.x, r.y, r.polygon_id):
            (list(r.ring_lens), list(r.pxs), list(r.pys))
            for r in TL.build_vector_tiles(polys, zoom).collect()
            if (r.z, r.x, r.y) in dirty_keys}
    assert inc == full
    assert all((z, x, y) in dirty_keys for z, x, y, _ in inc)


def test_retile_semi_join_is_broadcast(spark):
    """The dirty-tile restriction must hit the plan as a broadcast
    left-semi join BEFORE the kernel when the set is small."""
    df = _square_poly_df(spark, 13.4, 52.5, 0.6)
    dirty = TL.dirty_tiles(df, 11)
    feats = TL.build_vector_tiles(df, 11, only_tiles=dirty)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_mvt_batch_encoder_byte_identical_to_scalar():
    """encode_features_batch must reproduce the scalar per-feature
    encoder byte-for-byte (multi-ring features, random geometry)."""
    from osm_io_spark.functions import mvt as MVT
    rng = np.random.default_rng(71)
    feats = []
    for fid in range(50):
        rings = [rng.integers(-20, 4116,
                              (int(rng.integers(3, 12)), 2)).astype(np.int64)
                 for _ in range(int(rng.integers(1, 4)))]
        feats.append((fid * 7, rings))
    want = b"".join(P.field_len(2, MVT.encode_feature(fid, rings))
                    for fid, rings in feats)
    ring_lens = np.array([len(r) for _, rs in feats for r in rs])
    feat_of_ring = np.concatenate(
        [[i] * len(rs) for i, (_, rs) in enumerate(feats)])
    q = np.concatenate([r for _, rs in feats for r in rs])
    ids = np.array([fid for fid, _ in feats])
    got = b"".join(MVT.encode_features_batch(q, ring_lens,
                                             feat_of_ring, ids))
    assert got == want


def test_render_heatmap_pyramid_levels(spark):
    """zooms=[z] reproduces render_heatmap_tiles(z) byte-for-byte
    (×2^k scaling is exact in binary FP, so global-bin>>shift and
    direct binning agree bit-exactly), and a coarser cascade level
    matches an independent numpy binning of the raw points."""
    import math as _m

    from osm_io_spark.functions import png as PNG
    rng = np.random.default_rng(67)
    lat = rng.uniform(-55, 55, 15000)
    lon = rng.uniform(-175, 175, 15000)
    import pandas as pd
    sdf = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    size = 64
    direct = {(r.z, r.x, r.y): bytes(r.png)
              for r in TL.render_heatmap_tiles(sdf, 4, size).collect()}
    pyr = TL.render_heatmap_pyramid(sdf, (4, 2), size).collect()
    got4 = {(r.z, r.x, r.y): bytes(r.png) for r in pyr if r.z == 4}
    assert got4 == direct
    # level 2 vs independent binning from raw points
    X, Y = TL._merc_xy_np(lon, lat, 2)
    tx, ty = np.floor(X).astype(int), np.floor(Y).astype(int)
    px = np.minimum((np.floor((X - tx) * size)).astype(int), size - 1)
    py = np.minimum((np.floor((Y - ty) * size)).astype(int), size - 1)
    for r in (rr for rr in pyr if rr.z == 2):
        m = (tx == r.x) & (ty == r.y)
        assert r.n_points == int(m.sum())
        img = np.zeros((size, size), np.int64)
        np.add.at(img, (py[m], px[m]), 1)
        want = np.round(255.0 * np.log1p(img)
                        / _m.log1p(img.max())).astype(np.uint8)
        assert (PNG.decode_gray(bytes(r.png)) == want).all()
    with pytest.raises(ValueError):
        TL.render_heatmap_pyramid(sdf, (2, 4), size)
    with pytest.raises(ValueError):
        TL.render_heatmap_pyramid(sdf, (4,), size=100)
