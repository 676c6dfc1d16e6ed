"""Web-Mercator XYZ ("slippy map") tile math — numpy and SQL text.

The reference's tiling surface is the planar Morton tile of
/root/reference/src/osm/apidb_dump/sql.rs:50-61 (exposed here as
``functions.cells``); real map-tile delivery, however, is keyed by the
published OSM slippy-map scheme (zoom/x/y on the spherical-Mercator
projection).  This module adds that scheme as a first-class cell
family in two forms: numpy kernels (``tile_xy_np``) for mapInPandas
operators and tests, and ONE SQL text per coordinate
(``tile_x_sql`` / ``tile_y_sql`` and the continuous ``tile_xc_sql`` /
``tile_yc_sql``) that Spark (``selectExpr`` / functions/steps) and the
DuckDB oracles both run — its double literals are e-notation, which
both engines parse as DOUBLE.  There are no Column builders.

Published formula (OSM wiki, "Slippy map tilenames"):

    n = 2^zoom
    x = floor((lon + 180) / 360 * n)
    y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * n)

DuckDB has no ``asinh``, so both forms spell it as
``ln(tan(r) + 1/cos(r))`` — algebraically identical for the clamped
latitude domain (tan + sec > 0) and therefore the same double result
in IEEE arithmetic on every engine that computes ``tan``/``cos``/``ln``
to <1 ulp.  Latitudes are clamped to the Mercator singularity bound
±85.05112878° and outputs to [0, n-1] (poles land in the edge rows,
matching the published scheme's domain).
"""

from __future__ import annotations

import math

import numpy as np

# Mercator latitude bound: atan(sinh(pi)) in degrees (published constant).
MAX_LAT = 85.05112878


def tile_xy_np(lat, lon, zoom: int):
    """(x, y) tile indices at ``zoom`` for arrays of degrees."""
    n = float(1 << zoom)
    la = np.clip(np.asarray(lat, np.float64), -MAX_LAT, MAX_LAT)
    lo = np.asarray(lon, np.float64)
    r = np.radians(la)
    x = np.floor((lo + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi)
                 / 2.0 * n).astype(np.int64)
    hi = np.int64((1 << zoom) - 1)
    return np.clip(x, 0, hi), np.clip(y, 0, hi)


def tile_bounds_np(x, y, zoom: int):
    """(left, bottom, right, top) degree bounds of tiles (y grows
    southward per the slippy scheme, so ``top`` comes from ``y`` and
    ``bottom`` from ``y + 1``)."""
    n = float(1 << zoom)
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    left = x / n * 360.0 - 180.0
    right = (x + 1.0) / n * 360.0 - 180.0

    def _lat(yy):
        return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yy / n))))

    top = _lat(y)
    bottom = _lat(y + 1.0)
    return left, bottom, right, top


def _e(v: float) -> str:
    """Double literal both engines parse as the same DOUBLE: e-notation
    (a bare decimal is DECIMAL in Spark and DuckDB), digits from
    ``repr``, which round-trips."""
    r = repr(float(v))
    return r if "e" in r else f"{r}e0"


def tile_x_sql(lon: str, zoom: int) -> str:
    """Tile column of SQL expression ``lon`` (:func:`tile_xy_np`)."""
    n, hi = _e(1 << zoom), _e((1 << zoom) - 1)
    return (f"CAST(least(greatest(floor(({lon} + 180e0) / 360e0 * {n}), "
            f"0e0), {hi}) AS BIGINT)")


def _merc_sql(lat: str) -> str:
    r = f"radians(least(greatest({lat}, {_e(-MAX_LAT)}), {_e(MAX_LAT)}))"
    return f"(1e0 - ln(tan({r}) + 1e0 / cos({r})) / pi()) / 2e0"


def tile_y_sql(lat: str, zoom: int) -> str:
    """Tile row of SQL expression ``lat`` (:func:`tile_xy_np`)."""
    n, hi = _e(1 << zoom), _e((1 << zoom) - 1)
    return (f"CAST(least(greatest(floor({_merc_sql(lat)} * {n}), 0e0), "
            f"{hi}) AS BIGINT)")


def tile_xc_sql(lon: str, zoom: int) -> str:
    """CONTINUOUS tile x coordinate (double in [0, 2^zoom)) — floor is
    the tile index, fraction the in-tile position. The clamp bound
    nextafter(n, 0) parses to the same double in both engines."""
    n = float(1 << zoom)
    return (f"least(greatest(({lon} + 180e0) / 360e0 * {_e(n)}, 0e0), "
            f"{_e(math.nextafter(n, 0.0))})")


def tile_yc_sql(lat: str, zoom: int) -> str:
    n = float(1 << zoom)
    return (f"least(greatest({_merc_sql(lat)} * {_e(n)}, 0e0), "
            f"{_e(math.nextafter(n, 0.0))})")


# ---------------------------------------------------------------------------
# Bing quadkey addressing (published Bing Maps Tile System)
# ---------------------------------------------------------------------------
# The quadkey of tile (x, y, zoom) is the zoom-digit base-4 string whose
# i-th digit (MSB first) is 2*y_bit + x_bit at bit (zoom-1-i) — i.e. the
# base-4 representation of the y-major Morton interleave, zero-padded to
# ``zoom`` digits.  Quadkeys have the PREFIX property (a parent tile's
# key is its children's common prefix), which makes them the standard
# string key for tile stores: a region read is a key-prefix range scan,
# the string sibling of the S2 descendant-id range used by
# s2_read_region_pruned.  numpy, Spark steps and DuckDB text agree;
# published golden vectors (tile (3,5)@3 = "213" etc.) are pinned in
# tests/test_tiles.py.


def quadkey_np(x, y, zoom: int) -> list[str]:
    """Quadkeys for tile-index arrays (driver/test-side helper)."""
    from .cells import morton_np
    m = morton_np(np.asarray(y, np.uint64), np.asarray(x, np.uint64))
    out = []
    for v in m:
        v = int(v)
        out.append("".join(str((v >> (2 * (zoom - 1 - i))) & 3)
                           for i in range(zoom)))
    return out


def quadkey_to_xyz_np(quadkeys) -> tuple[np.ndarray, np.ndarray, int]:
    """Inverse (test referee): (x, y, zoom) from same-length quadkeys."""
    zoom = len(quadkeys[0])
    x = np.zeros(len(quadkeys), np.int64)
    y = np.zeros(len(quadkeys), np.int64)
    for n, qk in enumerate(quadkeys):
        assert len(qk) == zoom
        for c in qk:
            d = ord(c) - 48
            x[n] = (x[n] << 1) | (d & 1)
            y[n] = (y[n] << 1) | (d >> 1)
    return x, y, zoom


def quadkey_steps(x: str, y: str, zoom: int,
                  out: str) -> list[tuple[str, str]]:
    """SQL steps (functions/steps.select_steps) of ``out`` = the quadkey
    of tile columns ``x``/``y``: the y-major Morton interleave
    (cells.morton_steps) rendered base-4 by ``conv`` and zero-padded —
    no UDF."""
    from .cells import morton_steps
    m = f"_{out}_m"
    return [*morton_steps(y, x, m),
            (out, f"lpad(conv(CAST({m} AS STRING), 10, 4), {zoom}, '0')")]


def quadkey_sql(x: str, y: str, zoom: int) -> str:
    """DuckDB oracle text (DuckDB spells base conversion ``to_base``)."""
    from .cells import morton_sql
    return f"lpad(to_base({morton_sql(y, x)}, 4), {zoom}, '0')"
