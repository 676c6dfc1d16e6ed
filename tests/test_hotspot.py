"""Getis–Ord Gi* hotspot statistic (operators/raster.gi_star) —
independent numpy referee + structural cases. The registry entry
`hotspot_gistar` additionally gets full cross-engine hash parity
(including the float z-score) in tests/test_oracle_parity.py."""

from __future__ import annotations

import numpy as np
import pytest

from osm_io_spark import queries as Q
from osm_io_spark.operators import raster as RAS

SF_DIR = "/root/testdata/sf0.001"


def referee(lats, lons, res):
    """First-principles Gi* over the occupied-cell universe with 3×3
    binary weights (x wraps, y clamps) — own grid math throughout."""
    n_grid = 1 << res
    gx = np.clip(np.floor((np.asarray(lons) + 180.0) / 360.0 * n_grid)
                 .astype(np.int64), 0, n_grid - 1)
    gy = np.clip(np.floor((np.asarray(lats) + 90.0) / 180.0 * n_grid)
                 .astype(np.int64), 0, n_grid - 1)
    counts: dict[tuple[int, int], int] = {}
    for a, b in zip(gx, gy):
        counts[(int(a), int(b))] = counts.get((int(a), int(b)), 0) + 1
    n = len(counts)
    xs = np.array(list(counts.values()), dtype=np.float64)
    xbar = xs.sum() / n
    s_dev = np.sqrt((xs * xs).sum() / n - xbar * xbar)
    out = {}
    for (a, b), xv in counts.items():
        k, s = 0, 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                jb = b + dy
                if not (0 <= jb < n_grid):
                    continue
                ja = (a + dx) % n_grid
                if (ja, jb) in counts:
                    k += 1
                    s += counts[(ja, jb)]
        den = s_dev * np.sqrt((n * k - k * k) / (n - 1.0))
        out[(a, b)] = (xv, k, s, (s - xbar * k) / den)
    return out


def test_matches_referee_on_clustered_corpus(spark):
    pts = Q.dbscan_points(spark, SF_DIR).toPandas()
    want = referee(pts.lat.to_numpy(), pts.lon.to_numpy(), Q._GISTAR_RES)
    got = Q.q_hotspot_gistar(spark, SF_DIR).toPandas()
    assert len(got) == len(want)
    for r in got.itertuples():
        wx, wk, ws, wz = want[(r.gx, r.gy)]
        assert (r.x, r.k_nbrs, r.nbr_sum) == (wx, wk, ws), (r.gx, r.gy)
        assert abs(r.gi_z - wz) < 1e-9, (r.gx, r.gy, r.gi_z, wz)


def test_cluster_cells_are_hotspots(spark):
    """Cells holding the dense cluster sites must score far above the
    scatter cells — the statistic must actually detect the corpus's
    planted structure (z > 2 for the max, and the top cell holds the
    max count)."""
    got = Q.q_hotspot_gistar(spark, SF_DIR).toPandas()
    top = got.sort_values("gi_z", ascending=False).iloc[0]
    assert top.gi_z > 2.0
    assert top.x >= got.x.quantile(0.9)


def test_antimeridian_x_wrap(spark):
    """Two dense columns flanking lon=±180 are 3×3 neighbors through
    the wrap: each side's k must count the other side's cell. With
    n = k = 2 the universe is degenerate (every occupied cell
    neighbors every other) — the z-score is NULL by contract, never a
    divide-by-zero (ANSI) or an engine-dependent ±inf."""
    rows = ([(float(i % 7) * 0.01, -179.99) for i in range(20)]
            + [(float(i % 7) * 0.01, 179.99) for i in range(20)])
    df = spark.createDataFrame(rows, "lat DOUBLE, lon DOUBLE")
    got = RAS.gi_star(df, res=4).toPandas()  # 16×16 grid
    assert len(got) == 2
    assert set(got.gx) == {0, 15}
    assert (got.k_nbrs == 2).all()
    assert (got.nbr_sum == 40).all()
    assert got.gi_z.isna().all()


def test_res_too_coarse_for_3x3_fanout_raises(spark):
    """res 1 is a 2-column grid: the ±1 longitude offsets wrap onto the
    same column and would double-count k_nbrs / nbr_sum — rejected."""
    df = spark.createDataFrame([(0.0, 0.0), (10.0, 100.0)],
                               "lat DOUBLE, lon DOUBLE")
    with pytest.raises(ValueError, match="3 grid columns"):
        RAS.gi_star(df, res=1)


def test_single_occupied_cell_is_null_in_both_engines(spark, duck):
    """One occupied cell (n = 1): the z denominator divides by n − 1 = 0,
    so the z-score is NULL by contract in Spark AND in the DuckDB
    oracle (not NaN there) — the oracle SQL runs on the same points."""
    rows = [(10.0 + i * 1e-3, 20.0 + i * 1e-3) for i in range(5)]
    got = RAS.gi_star(spark.createDataFrame(rows, "lat DOUBLE, lon DOUBLE"),
                      res=Q._GISTAR_RES).collect()
    assert [(r.x, r.k_nbrs, r.nbr_sum, r.gi_z) for r in got] == [
        (5, 1, 5, None)]
    duck.sql("CREATE OR REPLACE TABLE one_cell AS SELECT * FROM "
             "(VALUES " + ", ".join(f"({a}, {b})" for a, b in rows)
             + ") t(lat, lon)")
    sql = Q.SQL_GISTAR.replace(Q.DBSCAN_PTS_SQL, "SELECT * FROM one_cell")
    assert sql != Q.SQL_GISTAR
    assert duck.sql(sql).fetchall() == [
        (got[0].gx, got[0].gy, 5, 1, 5, None)]
