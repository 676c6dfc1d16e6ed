"""Geometry kernels vs brute-force / analytic references."""

import numpy as np
import pytest

from osm_io_spark.functions import geometry as G

SQUARE = [np.array([(0, 0), (4, 0), (4, 4), (0, 4)], float)]
SQUARE_WITH_HOLE = [
    np.array([(0, 0), (4, 0), (4, 4), (0, 4)], float),
    np.array([(1, 1), (3, 1), (3, 3), (1, 3)], float),
]
CONCAVE = [np.array([(0, 0), (4, 0), (4, 4), (2, 2), (0, 4)], float)]


def test_pip_square():
    px = np.array([2.0, 5.0, -1.0, 3.9])
    py = np.array([2.0, 2.0, 2.0, 3.9])
    got = G.points_in_polygon(px, py, SQUARE)
    assert got.tolist() == [True, False, False, True]


def test_pip_hole_even_odd():
    px = np.array([2.0, 0.5, 3.5])
    py = np.array([2.0, 0.5, 3.5])
    got = G.points_in_polygon(px, py, SQUARE_WITH_HOLE)
    assert got.tolist() == [False, True, True]


def test_pip_concave():
    px = np.array([2.0, 2.0, 1.0])
    py = np.array([3.0, 1.0, 3.4])
    got = G.points_in_polygon(px, py, CONCAVE)
    assert got.tolist() == [False, True, False]


def test_pip_closed_ring_equivalent():
    closed = [np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float)]
    rng = np.random.default_rng(3)
    px, py = rng.uniform(-1, 5, 300), rng.uniform(-1, 5, 300)
    assert (G.points_in_polygon(px, py, SQUARE)
            == G.points_in_polygon(px, py, closed)).all()


def test_rect_intersects_polygon():
    rects = np.array([(1, 1, 2, 2),        # rect inside
                      (-1, -1, 5, 5),      # poly inside rect
                      (3, 3, 5, 5),        # overlap
                      (5, 5, 6, 6),        # disjoint
                      (3.5, -1, 6, 5)],    # edge cross only (CONCAVE)
                     float)
    poly = np.array([0, 0, 0, 0, 1])
    got = G.rects_intersect_polygons(rects[:, 0], rects[:, 1], rects[:, 2],
                                     rects[:, 3], poly, [SQUARE, CONCAVE])
    assert got.tolist() == [True, True, True, False, True]


_CLOSED = np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float)
_SPLIT_CASES = {
    "outer_and_hole": SQUARE_WITH_HOLE,
    "open_and_closed": [SQUARE[0], _CLOSED],
    "one_and_two_vertex": [np.array([(5, 6)], float),
                           np.array([(1, 2), (3, 4)], float), CONCAVE[0]],
    "empty_ring_between": [SQUARE[0], np.empty((0, 2)), _CLOSED],
    "zero_rings": [],
}


@pytest.mark.parametrize("case", sorted(_SPLIT_CASES))
def test_split_rings_round_trips_flat_layout(case):
    """The flat ring layout (ring_len + parallel lons/lats) splits back
    into exactly the rings it was built from."""
    rings = _SPLIT_CASES[case]
    ring_len = [len(r) for r in rings]
    xy = np.concatenate(rings) if rings else np.empty((0, 2))
    got = G.split_rings(np.array(ring_len, np.int32), xy[:, 0], xy[:, 1])
    assert len(got) == len(rings)
    for g, r in zip(got, rings):
        assert g.shape == (len(r), 2) and g.dtype == np.float64
        assert (g == r).all()


def test_split_rings_null_is_no_rings():
    assert G.split_rings(None, None, None) == []


def test_flat_ring_cols_round_trip(spark):
    """flat_ring_cols builds the layout split_rings reads, NULL ring
    lists staying NULL."""
    from pyspark.sql import types as T

    from osm_io_spark import schemas
    cases = [_SPLIT_CASES[k] for k in sorted(_SPLIT_CASES)]
    rows = [(i, [[{"lon": float(x), "lat": float(y)} for x, y in r]
                 for r in rings]) for i, rings in enumerate(cases)]
    rows.append((len(rows), None))
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("rings", schemas.POLYGONS["rings"]
                                         .dataType, True)])
    pdf = (spark.createDataFrame(rows, schema)
           .select("id", *G.flat_ring_cols()).toPandas().sort_values("id"))
    for rings, flat in zip(cases + [[]], pdf.itertuples()):
        got = G.split_rings(flat.ring_len, flat.lons, flat.lats)
        assert [g.tolist() for g in got] == [np.asarray(r).tolist()
                                             for r in rings]


def test_bbox_and_centroid():
    assert G.polygon_bbox(CONCAVE) == (0.0, 0.0, 4.0, 4.0)
    cx, cy = G.polygon_centroid(SQUARE)
    assert abs(cx - 2.0) < 1e-12 and abs(cy - 2.0) < 1e-12


def test_haversine_known():
    # quarter circumference: equator to pole
    d = G.haversine_np([0.0], [0.0], [90.0], [0.0])[0]
    assert abs(d - np.pi / 2 * G.EARTH_RADIUS_M) < 1.0
    assert G.haversine_np([10.0], [20.0], [10.0], [20.0])[0] == 0.0


def test_bbox_from_str_valid():
    # mirrors bounding_box.rs:129-137 (test_from_str)
    assert G.bbox_from_str("-180.0, -90.0, 180.0, 90.0") == (
        -180.0, -90.0, 180.0, 90.0)
    # no whitespace, extra precision
    assert G.bbox_from_str("-170.1595029,-19.3548665,-169.5647229,-18.7534559") == (
        -170.1595029, -19.3548665, -169.5647229, -18.7534559)
    # round-trip through the Display form
    bb = (-1.5, -2.5, 3.5, 4.5)
    assert G.bbox_from_str(G.bbox_to_str(bb)) == bb


def test_bbox_from_str_invalid():
    import pytest
    # mirrors bounding_box.rs:139-144 (test_invalid_values)
    with pytest.raises(ValueError):
        G.bbox_from_str("-180.1, -90.0, 180.0, 90.0")
    with pytest.raises(ValueError):
        G.bbox_from_str("-180.0, -90.0, 180.0")      # <4 parts
    with pytest.raises(ValueError):
        G.bbox_from_str("a, b, c, d")                # non-numeric
    with pytest.raises(ValueError):
        G.bbox_from_str("0, -91.0, 10, 90.0")        # lat out of range
