"""Raster-tile ↔ vector assignment (SURVEY.md J10).

Every image footprint is a raster tile: the res-``res`` cell containing
its geotag. Assignment maps each image tile to every polygon whose bbox
intersects that tile's rectangle — a pure cell-prefix equi-join:

    probe:  image → its res-R cell (one row)
    build:  polygon bbox → covering res-R cells (exploded)
    join:   equi on cell

Intersection-with-tile IS cell-cover membership, so no residual
predicate is needed (unlike J7, which refines with exact containment).
Parent-tile rollups come free from cell arithmetic (cell >> 2k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from . import spatial_join as SJ


def raster_vector_assign(images: DataFrame, rect_polygons: DataFrame,
                         res: int) -> DataFrame:
    """(image cols + polygon cols + cell) for every image-tile × polygon
    bbox overlap."""
    probe = SJ.tag_probe_cells(images, res)
    build = SJ.cover_bbox_cells(rect_polygons, res)
    return SJ.cell_join(probe, build)


def gi_star(points: DataFrame, res: int,
            lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Getis–Ord Gi* hotspot statistic over the res-``res`` cell grid —
    the spatial-statistics reducer (where are images significantly
    DENSER than the corpus baseline?) next to zonal_stats (per-polygon)
    and IDW (per-site).

    Universe: the OCCUPIED cells (empty cells are not rows at 10^12
    scale; the statistic is defined over that universe and documented
    as such). Weights: binary 3×3 Chebyshev disk including self
    (longitude wraps mod 2^res, latitude clamps — the J9/DBSCAN grid
    convention); res < 2 raises ValueError (fewer than 3 columns). For cell i with count x_i, k_i occupied neighbors and
    neighbor sum s_i, over n occupied cells with Σx, Σx²:

        x̄  = Σx/n,   S = sqrt(Σx²/n − x̄²)
        Gi* = (s_i − x̄·k_i) / (S · sqrt((n·k_i − k_i²)/(n−1)))

    Everything upstream of the final float expression is exact BIGINT
    (counts and sums), and the float tree is written identically in
    the DuckDB oracle — so the z-score itself is cross-engine
    bit-exact (the zonal_stats density precedent, one step further).

    Plan: one partial-agg groupBy to cell counts (map-side combine
    absorbs any hot cell), a 9-offset pure-Column fan-out self-join at
    CELL granularity (rows = occupied cells ≪ points), and a 1-row
    global aggregate broadcast via crossJoin — no shuffle touches the
    point table after the first count.

    Returns (gx, gy, x, k_nbrs, nbr_sum, gi_z) sorted nowhere —
    order-insensitive consumers only."""
    gx = C.grid_sql(lon_col, res, 180.0, 360.0)
    gy = C.grid_sql(lat_col, res, 90.0, 180.0)
    cells = (points.selectExpr(f"{gx} AS _gx", f"{gy} AS _gy")
             .groupBy("_gx", "_gy").agg(F.count(F.lit(1)).alias("_x"))
             .localCheckpoint(eager=False))  # fans out 3 ways below

    glob = cells.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"))

    probe = (C.disk3_fanout(cells, res, "_gx", "_gy", "_nx", "_ny")
             .select("_gx", "_gy",
                     F.col("_nx").alias("_jx"), F.col("_ny").alias("_jy")))
    nbr = (probe.join(cells.select(F.col("_gx").alias("_jx"),
                                   F.col("_gy").alias("_jy"),
                                   F.col("_x").alias("_xj")),
                      ["_jx", "_jy"])
           .groupBy("_gx", "_gy")
           .agg(F.count(F.lit(1)).alias("_k"),
                F.sum("_xj").alias("_s")))

    d = lambda c: F.col(c).cast("double")  # noqa: E731
    xbar = d("_sx") / d("_n")
    s_dev = F.sqrt(d("_sxx") / d("_n") - xbar * xbar)
    num = d("_s") - xbar * d("_k")
    den = s_dev * F.sqrt((d("_n") * d("_k") - d("_k") * d("_k"))
                         / (d("_n") - F.lit(1.0)))
    # degenerate universes (one occupied cell, n = 1; every occupied
    # cell neighbors every other, k = n; or all counts equal, S = 0)
    # have no defined z — NULL, not a divide-by-zero (ANSI mode raises)
    # or an engine-dependent NaN / ±inf
    gi = F.when((d("_n") > F.lit(1.0)) & (den != F.lit(0.0)), num / den)
    return (cells.join(nbr, ["_gx", "_gy"])
            .crossJoin(F.broadcast(glob))
            .select(F.col("_gx").alias("gx"), F.col("_gy").alias("gy"),
                    F.col("_x").alias("x"),
                    F.col("_k").alias("k_nbrs"),
                    F.col("_s").alias("nbr_sum"),
                    gi.alias("gi_z")))
