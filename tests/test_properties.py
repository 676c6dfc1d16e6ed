"""Property-based tests (hypothesis) for the pure kernels — coverage
the reference does not have (SURVEY.md §5: its tests are golden-count
E2E only). Each property is a round-trip or algebraic invariant over
the full input domain, not a fixture."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_io_spark.functions import cells as C
from osm_io_spark.functions import geometry as G
from osm_io_spark.sources.pbf import proto as P

lat_s = st.floats(min_value=-90.0, max_value=90.0,
                  allow_nan=False, allow_infinity=False)
lon_s = st.floats(min_value=-180.0, max_value=180.0,
                  allow_nan=False, allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                min_size=0, max_size=200))
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, np.uint64)
    assert (P.decode_varints(P.encode_varints(arr)) == arr).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-2**62, max_value=2**62 - 1),
                min_size=0, max_size=200))
def test_sint_delta_roundtrip_property(vals):
    arr = np.array(vals, np.int64)
    assert (P.decode_sint_packed(P.encode_sint_packed(arr)) == arr).all()
    assert (P.delta_decode(P.delta_encode(arr)) == arr).all()


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1),
       st.integers(min_value=0, max_value=2**32 - 1))
def test_morton_bijective_property(x, y):
    xa = np.array([x], np.uint64)
    ya = np.array([y], np.uint64)
    m = C.morton_np(xa, ya)
    assert C._compact1by1_np(m >> np.uint64(1))[0] == x
    assert C._compact1by1_np(m)[0] == y


@settings(max_examples=200, deadline=None)
@given(lat_s, lon_s, st.integers(min_value=0, max_value=C.MAX_RES))
def test_cell_contains_its_point_property(lat, lon, res):
    cell = C.cell_at_np(np.array([lat]), np.array([lon]), res)
    left, bottom, right, top = C.cell_bounds_np(cell, res)
    # floor+clamp semantics: the point lies in [left, right] x
    # [bottom, top] of its own cell (boundary points clamp inward)
    assert left[0] - 1e-9 <= lon <= right[0] + 1e-9 or lon in (180.0, -180.0)
    assert bottom[0] - 1e-9 <= lat <= top[0] + 1e-9 or lat in (90.0, -90.0)
    # parent relationship: the same point at res-1 is the cell's parent
    if res >= 1:
        parent = C.cell_at_np(np.array([lat]), np.array([lon]), res - 1)
        assert C.cell_parent_np(cell)[0] == parent[0]


@settings(max_examples=200, deadline=None)
@given(lat_s, lon_s)
def test_zorder_tile_in_range_property(lat, lon):
    t = C.zorder_tile_np(np.array([lat]), np.array([lon]))[0]
    assert 0 <= t < 1 << 32


@settings(max_examples=200, deadline=None)
@given(st.floats(-180, 180, allow_nan=False),
       st.floats(-90, 90, allow_nan=False),
       st.floats(-180, 180, allow_nan=False),
       st.floats(-90, 90, allow_nan=False))
def test_bbox_str_roundtrip_property(left, bottom, right, top):
    bb = (left, bottom, right, top)
    assert G.bbox_from_str(G.bbox_to_str(bb)) == bb


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100, allow_nan=False,
                                    allow_infinity=False),
                          st.floats(-100, 100, allow_nan=False,
                                    allow_infinity=False)),
                min_size=3, max_size=12),
       st.floats(-100, 100, allow_nan=False),
       st.floats(-100, 100, allow_nan=False))
def test_pip_matches_matplotlib_free_winding(ring, px, py):
    """Even-odd ray cast agrees with a brute-force angle-sum-free
    reference implementation (crossing number computed per edge with
    plain Python)."""
    r = np.asarray(ring, np.float64)
    got = bool(G.points_in_polygon(np.array([px]), np.array([py]), [r])[0])
    crossings = 0
    m = len(r)
    for i in range(m):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % m]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                crossings += 1
    assert got == (crossings % 2 == 1)


# ---------------------------------------------------------------------------
# round-5 tiling kernels
# ---------------------------------------------------------------------------

@given(st.lists(st.tuples(st.floats(-10, 10), st.floats(-10, 10)),
                min_size=3, max_size=20),
       st.floats(-5, 0), st.floats(-5, 0),
       st.floats(0.1, 5), st.floats(0.1, 5))
@settings(max_examples=150, deadline=None)
def test_clip_ring_invariants(pts, l, b, w, h):
    """Clip output stays inside the (closed) rect; clipping twice is
    idempotent; a ring fully inside survives unchanged."""
    import numpy as np

    from osm_io_spark.operators import tiles as TL
    ring = np.array(pts, float)
    r, t = l + w, b + h
    cl = TL.clip_ring_rect_np(ring, l, b, r, t)
    eps = 1e-9
    if len(cl):
        assert (cl[:, 0] >= l - eps).all() and (cl[:, 0] <= r + eps).all()
        assert (cl[:, 1] >= b - eps).all() and (cl[:, 1] <= t + eps).all()
    # idempotence on a hair-expanded rect (interpolated coords can
    # exceed the exact bound by an ulp: p + t*(c-p) at t≈1)
    cl2 = TL.clip_ring_rect_np(cl, l - 1e-9, b - 1e-9, r + 1e-9, t + 1e-9)
    assert cl2.shape == cl.shape and (len(cl) == 0 or (cl2 == cl).all())
    inside = (ring[:, 0] > l) & (ring[:, 0] < r) & \
             (ring[:, 1] > b) & (ring[:, 1] < t)
    if inside.all():
        assert (cl == ring).all()


@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=2, max_size=40),
       st.floats(0.0, 10.0))
@settings(max_examples=150, deadline=None)
def test_simplify_invariants(pts, tol):
    """Endpoints always kept; output is a subsequence of the input;
    simplifying an already-simplified ring with the same tolerance is
    idempotent."""
    import numpy as np

    from osm_io_spark.operators import tiles as TL
    ring = np.array(pts, float)
    simp = TL.simplify_ring_np(ring, tol)
    assert (simp[0] == ring[0]).all() and (simp[-1] == ring[-1]).all()
    # subsequence check
    i = 0
    for p in simp:
        while i < len(ring) and not (ring[i] == p).all():
            i += 1
        assert i < len(ring), "output vertex not from input"
        i += 1
    simp2 = TL.simplify_ring_np(simp, tol)
    assert simp2.shape == simp.shape


@given(st.lists(st.integers(0, 2**40), min_size=0, max_size=200))
@settings(max_examples=150, deadline=None)
def test_encode_varints_matches_scalar_property(vals):
    import numpy as np
    arr = np.array(vals, np.uint64)
    buf, lens = P.encode_varints(arr, return_lens=True)
    want = [P.varint(v) for v in vals]
    assert buf == b"".join(want)
    assert lens.tolist() == [len(w) for w in want]


@given(st.integers(0, 14), st.integers(), st.integers(), st.integers(),
       st.integers())
@settings(max_examples=150, deadline=None)
def test_morton_ranges_cover_rect(zoom, ax, ay, bx, by):
    """Every tile of the rect falls inside some emitted Morton range,
    and ranges are sorted disjoint."""
    import numpy as np

    from osm_io_spark.functions.cells import morton_np
    from osm_io_spark.operators import tiles as TL
    n = 1 << zoom
    x0, x1 = sorted((abs(ax) % n, abs(bx) % n))
    y0, y1 = sorted((abs(ay) % n, abs(by) % n))
    ranges = TL.morton_ranges_for_rect(x0, x1, y0, y1, zoom)
    assert all(h1 < l2 for (_l1, h1), (l2, _h2)
               in zip(ranges, ranges[1:]))
    xs = np.linspace(x0, x1, min(8, x1 - x0 + 1), dtype=np.int64)
    ys = np.linspace(y0, y1, min(8, y1 - y0 + 1), dtype=np.int64)
    for xx in xs:
        for yy in ys:
            m = int(morton_np(np.array([xx], np.uint64),
                              np.array([yy], np.uint64))[0])
            assert any(lo <= m <= hi for lo, hi in ranges), (xx, yy)
