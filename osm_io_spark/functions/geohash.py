"""Geohash encoding — numpy, Spark SQL steps and DuckDB text, bit-identical.

The third public string geocode next to the slippy z/x/y (C20) and the
Bing quadkey (C30): base-32 over the lon-first bit interleave of an
equirectangular subdivision (public domain, Niemeyer 2008).  Like the
quadkey it has the PREFIX property — every descendant of a geohash
cell shares its string prefix — so geohash-keyed stores serve regions
as key-prefix scans.

Construction for EVEN ``precision`` p (5p bits split equally):

    half = 5p/2 ; n = 2^half
    x = clamp(floor((lon + 180) / 360 * n), 0, n-1)   # lon bins
    y = clamp(floor((lat +  90) / 180 * n), 0, n-1)   # lat bins
    m = interleave(x high, y low)                     # lon gets the MSB
    geohash = base32_geohash(m), p digits, zero-padded

Odd precisions interleave unequal bit counts and are intentionally
unsupported (`ValueError`) — the even ladder (2, 4, 6, 8, 10 chars)
covers the practical range (~±0.6 km at 6, ~±6 cm at 10).

The bins are the planar grid of functions/cells at ``half`` bits
(``cells.grid_sql`` in Spark). The base-32 render goes through the
engines' native base conversion (`conv` in Spark, `to_base` in the
DuckDB oracle, both emitting 0-9A-V) followed by a character
translate onto the published geohash alphabet (which skips a/i/l/o) —
pure codegen string ops, no UDF.  Golden vector: (57.64911, 10.40744)
@10 = "u4pruydqqv" (the classic published example), pinned in
tests/test_geohash.py.
"""

from __future__ import annotations

import numpy as np

from . import cells as C

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_CONV_TAIL = "ABCDEFGHIJKLMNOPQRSTUV"   # conv/to_base digits 10..31
_GEO_TAIL = GEOHASH32[10:]              # their geohash counterparts


def _half_bits(precision: int) -> int:
    if precision <= 0 or precision % 2:
        raise ValueError(
            f"geohash precision must be a positive EVEN number of "
            f"characters (got {precision}): odd precisions interleave "
            f"unequal lon/lat bit counts")
    if 5 * precision > 50:
        raise ValueError(f"precision {precision} exceeds the 25-bit "
                         f"per-axis interleave budget")
    return 5 * precision // 2


def _bins_np(lat, lon, half: int):
    n = np.int64(1) << np.int64(half)
    x = np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0
                 * float(n)).astype(np.int64)
    y = np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0
                 * float(n)).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def geohash_np(lat, lon, precision: int) -> list[str]:
    """Geohashes for degree arrays (driver/test-side helper)."""
    half = _half_bits(precision)
    x, y = _bins_np(lat, lon, half)
    m = C.morton_np(x.astype(np.uint64), y.astype(np.uint64))
    out = []
    for v in m:
        v = int(v)
        out.append("".join(GEOHASH32[(v >> (5 * (precision - 1 - i))) & 31]
                           for i in range(precision)))
    return out


def geohash_bounds_np(geohashes) -> tuple[np.ndarray, ...]:
    """(left, bottom, right, top) degree bounds per geohash — the
    decoder (test referee)."""
    p = len(geohashes[0])
    half = _half_bits(p)
    n = float(1 << half)
    x = np.zeros(len(geohashes), np.int64)
    y = np.zeros(len(geohashes), np.int64)
    for i, gh in enumerate(geohashes):
        assert len(gh) == p
        m = 0
        for ch in gh:
            m = (m << 5) | GEOHASH32.index(ch)
        for k in range(half):
            x[i] |= ((m >> (2 * k + 1)) & 1) << k
            y[i] |= ((m >> (2 * k)) & 1) << k
    left = x / n * 360.0 - 180.0
    bottom = y / n * 180.0 - 90.0
    return left, bottom, left + 360.0 / n, bottom + 180.0 / n


def geohash_steps(lat: str, lon: str, precision: int,
                  out: str) -> list[tuple[str, str]]:
    """SQL steps (functions/steps.select_steps) of ``out`` = the
    geohash of columns ``lat``/``lon``: the grid bins at ``half`` bits,
    the Morton interleave (cells.morton_steps), then conv/lpad/translate
    — no UDF, whole-stage codegen."""
    half = _half_bits(precision)
    gx, gy, m = f"_{out}_gx", f"_{out}_gy", f"_{out}_m"
    return [(gx, C.grid_sql(lon, half, 180.0, 360.0)),
            (gy, C.grid_sql(lat, half, 90.0, 180.0)),
            *C.morton_steps(gx, gy, m),
            (out, f"translate(lpad(conv(CAST({m} AS STRING), 10, 32), "
                  f"{precision}, '0'), '{_CONV_TAIL}', '{_GEO_TAIL}')")]


def _render_sql(m: str, precision: int) -> str:
    return (f"translate(lpad(to_base({m}, 32), {precision}, '0'), "
            f"'{_CONV_TAIL}', '{_GEO_TAIL}')")


def geohash_sql(lat: str, lon: str, precision: int) -> str:
    """DuckDB oracle text (DuckDB spells base conversion ``to_base``)."""
    half = _half_bits(precision)
    x = C.grid_oracle_sql(lon, half, 180.0, 360.0)
    y = C.grid_oracle_sql(lat, half, 90.0, 180.0)
    return _render_sql(C.morton_sql(x, y), precision)


def geohash_from_bins_sql(x: str, y: str, precision: int) -> str:
    """SQL geohash from ALREADY-COMPUTED lon/lat bin expressions at
    this precision's bit depth — lets an oracle derive an ancestor
    geohash ARITHMETICALLY (x >> 5k, y >> 5k) instead of by substring,
    so hash equality against a substring-derived Spark column PROVES
    the prefix property (the quadkey-oracle pattern, SQL_TILE_QK)."""
    _half_bits(precision)
    return _render_sql(C.morton_sql(x, y), precision)
