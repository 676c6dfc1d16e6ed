"""Cell index: three-way parity (numpy / Spark SQL steps / DuckDB SQL) and
hierarchy invariants. The numpy zorder tile is additionally checked
against a literal port of the reference loop
(/root/reference/src/osm/apidb_dump/sql.rs:50-61)."""

import numpy as np
import pandas as pd
import pytest

from osm_io_spark.functions import cells
from osm_io_spark.functions.steps import select_steps

RNG = np.random.default_rng(7)
LAT = RNG.uniform(-90, 90, 500)
LON = RNG.uniform(-180, 180, 500)


def rust_tile(lat: float, lon: float) -> int:
    # literal port of calculate_tile (sql.rs:50-61)
    x = int(np.floor((lon + 180.0) * 65535.0 / 360.0 + 0.5))
    y = int(np.floor((lat + 90.0) * 65535.0 / 180.0 + 0.5))
    t = 0
    for i in range(15, -1, -1):
        t = (t << 1) | ((x >> i) & 1)
        t = (t << 1) | ((y >> i) & 1)
    return t


def test_zorder_tile_matches_reference_loop():
    got = cells.zorder_tile_np(LAT, LON)
    want = np.array([rust_tile(a, b) for a, b in zip(LAT, LON)])
    assert (got == want).all()
    # corner cases
    for lat, lon in [(-90, -180), (90, 180), (0, 0), (-19.35, -170.16)]:
        assert cells.zorder_tile_np([lat], [lon])[0] == rust_tile(lat, lon)


def test_zorder_tile_spark_and_sql_parity(spark, duck):
    pdf = pd.DataFrame({"lat": LAT, "lon": LON})
    want = cells.zorder_tile_np(LAT, LON)

    df = select_steps(spark.createDataFrame(pdf),
                      cells.zorder_tile_steps("lat", "lon", "t"), keep=("t",))
    got_spark = np.array([r.t for r in df.select("t").collect()])
    assert (np.sort(got_spark) == np.sort(want)).all()

    duck.register("pts_cells", pdf)
    got_sql = duck.sql(
        f"select {cells.zorder_tile_sql('lat', 'lon')} as t from pts_cells"
    ).df()["t"].to_numpy()
    assert (got_sql == want).all()


@pytest.mark.parametrize("res", [0, 1, 5, 10, 16, 29])
def test_cell_at_parity_and_roundtrip(spark, duck, res):
    c = cells.cell_at_np(LAT, LON, res)
    assert (cells.cell_res_np(c) == res).all()
    x, y = cells.xy_at_np(LAT, LON, res)
    x2, y2 = cells.cell_to_xy_np(c, res)
    assert (x == x2).all() and (y == y2).all()

    pdf = pd.DataFrame({"lat": LAT, "lon": LON})
    duck.register("pts_cells2", pdf)
    got_sql = duck.sql(
        f"select {cells.cell_at_sql('lat', 'lon', res)} as c from pts_cells2"
    ).df()["c"].to_numpy()
    assert (got_sql == c).all()

    df = select_steps(spark.createDataFrame(pdf),
                      cells.cell_steps("lat", "lon", res, "c"), keep=("c",))
    got_spark = np.sort(np.array([r.c for r in df.select("c").collect()]))
    assert (got_spark == np.sort(c)).all()


def test_parent_nesting():
    for res in range(1, 17):
        child = cells.cell_at_np(LAT, LON, res)
        parent = cells.cell_at_np(LAT, LON, res - 1)
        assert (cells.cell_parent_np(child) == parent).all()


def test_cell_bounds_contains_point():
    for res in (4, 10, 16):
        c = cells.cell_at_np(LAT, LON, res)
        left, bottom, right, top = cells.cell_bounds_np(c, res)
        ok = (LON >= left) & (LON <= right) & (LAT >= bottom) & (LAT <= top)
        assert ok.all()


def test_ring_and_disk():
    res = 6
    x, y = 10, 20
    r0 = cells.ring_xy(x, y, res, 0)
    assert r0 == [(10, 20)]
    r1 = cells.ring_xy(x, y, res, 1)
    assert len(r1) == 8
    r2 = cells.ring_xy(x, y, res, 2)
    assert len(r2) == 16
    assert len(cells.disk_xy(x, y, res, 2)) == 25
    # lon wrap
    rw = cells.ring_xy(0, 20, res, 1)
    assert any(px == (1 << res) - 1 for px, _ in rw)
    # lat clamp at pole
    rc = cells.ring_xy(10, 0, res, 1)
    assert len(rc) == 5


def test_cover_bbox():
    res = 8
    cover = cells.cover_bbox_np(-10.0, -5.0, 10.0, 5.0, res)
    assert len(set(cover.tolist())) == len(cover)
    # every covered sample point's cell is in the cover
    lat = RNG.uniform(-5, 5, 200)
    lon = RNG.uniform(-10, 10, 200)
    pts = cells.cell_at_np(lat, lon, res)
    assert set(pts.tolist()) <= set(cover.tolist())


def test_cell_and_tile_encoders_have_no_column_form():
    """Each cell and tile encoding has ONE Spark text (SQL steps or an
    expression shared with DuckDB); a Column builder beside it would be
    a second Spark form that can drift from the first."""
    import inspect

    from osm_io_spark.functions import geohash, s2, webmercator

    twins = [f"{m.__name__}.{n}"
             for m in (cells, webmercator, geohash, s2)
             for n, v in vars(m).items()
             if callable(v) and n.endswith(("_col", "_cols"))
             and inspect.getmodule(v) is m]
    assert not twins, twins
