"""The SQL-text cell-id builders against pinned outputs.

``fixtures/cell_ids.npz`` holds inputs and the cell ids that the
Column-object builders gave before the cell chains were rebuilt as SQL
text (one lateral column alias per step, functions/steps.py): S2 cells
at levels 30/13/10/7 of lat/lon points (through the S2 polygon join's
unit-vector text) and of direction vectors on cube-face edges and
corners, planar grid cells (``tag_probe_cells``) at res 1-16, and bbox
covers (``cover_bbox_cells``) at res 1-16. The points are 1,000
uniform ones plus poles, the antimeridian, face and grid boundaries,
NULL and NaN coordinates and out-of-range values; the ids must stay
array-identical. The rows of NULL and NaN inputs were re-pinned when
those inputs stopped getting cells: their ids are NULL, and a box with
a NULL or NaN edge covers no cell.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from osm_io_spark.functions import cells as C
from osm_io_spark.functions import s2 as S2
from osm_io_spark.operators import spatial_join as SJ

_FIX = np.load(os.path.join(os.path.dirname(__file__), "fixtures",
                            "cell_ids.npz"))


def _values(vals, nulls):
    return [None if m else float(v) for v, m in zip(vals, nulls)]


@pytest.fixture(scope="module")
def points(spark):
    rows = list(zip(range(len(_FIX["lat"])),
                    _values(_FIX["lat"], _FIX["lat_null"]),
                    _values(_FIX["lon"], _FIX["lon_null"])))
    return spark.createDataFrame(rows, "id long, lat double, lon double")


def _ids(df, col):
    rows = df.select("id", col).orderBy("id").collect()
    return (np.array([0 if r[col] is None else r[col] for r in rows],
                     np.int64),
            np.array([r[col] is None for r in rows]))


def _check(df, col, name):
    got, null = _ids(df, col)
    assert np.array_equal(null, _FIX[name + "_null"]), name
    assert np.array_equal(got, _FIX[name]), (
        name, int((got != _FIX[name]).sum()))


@pytest.mark.parametrize("level", [int(v) for v in _FIX["s2_levels"]])
def test_s2_cells_of_points(points, level):
    _check(S2.with_s2_cell(S2.with_latlon_xyz(points, "lat", "lon"),
                           "px", "py", "pz", level=level),
           "s2_cell", f"s2_latlon_L{level}")


@pytest.mark.parametrize("level", [int(v) for v in _FIX["s2_levels"]])
def test_s2_cells_of_face_edges(spark, level):
    rows = [(i, *map(float, d)) for i, d in enumerate(_FIX["xyz"])]
    dirs = spark.createDataFrame(rows, "id long, x double, y double, "
                                       "z double")
    _check(S2.with_s2_cell(dirs, "x", "y", "z", level=level), "s2_cell",
           f"s2_xyz_L{level}")


def test_grid_cells_and_bbox_covers(spark, points):
    boxes = spark.createDataFrame(
        [(i, *_values(b, m)) for i, (b, m) in
         enumerate(zip(_FIX["boxes"], _FIX["boxes_null"]))],
        "id long, left double, bottom double, right double, top double")
    for res in (int(v) for v in _FIX["grid_res"]):
        _check(SJ.tag_probe_cells(points, res), "cell", f"grid_R{res}")
        cov = (SJ.cover_bbox_cells(boxes, res).select("id", "cell")
               .orderBy("id", "cell").collect())
        assert np.array_equal(np.array([r["id"] for r in cov], np.int64),
                              _FIX[f"cover_R{res}_id"]), res
        assert np.array_equal(np.array([r["cell"] for r in cov], np.int64),
                              _FIX[f"cover_R{res}_cell"]), res


def test_null_or_nan_coordinates_get_no_cell(spark, duck):
    """A NULL or NaN coordinate has no cell, so it meets no polygon:
    the grid clamp used to put it in the last row or column, where
    ``raster_vector_assign`` (no refine) assigned it to the polygon
    covering that corner. A bbox with a NULL edge covers no cell (it
    used to cover to the grid edge: 131,804 cells at res 16)."""
    from osm_io_spark.operators import raster as RAS

    nan = float("nan")
    imgs = spark.createDataFrame(
        [(1, None, 179.9), (2, 89.9, None), (3, None, None),
         (4, nan, 179.9), (5, 89.9, nan), (6, 89.9, 179.9)],
        "img_id long, lat double, lon double")
    rects = spark.createDataFrame(
        [(7, 170.0, 80.0, 180.0, 90.0)],
        "polygon_id long, left double, bottom double, right double, "
        "top double")
    for join in (RAS.raster_vector_assign, SJ.spatial_join_rect):
        got = {r["img_id"] for r in join(imgs, rects, 6).collect()}
        assert got == {6}, join.__name__
    assert all(r["cell"] is None
               for r in SJ.tag_probe_cells(imgs, 6).collect()
               if r["img_id"] != 6)
    box = spark.createDataFrame(
        [(1, -10.0, None, 10.0, 10.0), (2, -10.0, -10.0, nan, 10.0)],
        "id long, left double, bottom double, right double, top double")
    assert SJ.cover_bbox_cells(box, 16).count() == 0
    # the DuckDB oracle text agrees
    rows = duck.sql(
        f"SELECT {C.cell_at_sql('lat', 'lon', 6)} AS c FROM (VALUES "
        f"(NULL::DOUBLE, 1e0), ('nan'::DOUBLE, 1e0), (1e0, NULL::DOUBLE), "
        f"(1e0, 'nan'::DOUBLE)) t(lat, lon)").fetchall()
    assert rows == [(None,)] * 4
