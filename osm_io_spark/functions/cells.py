"""Multi-resolution Z-order (Morton) cell index.

Generalizes the reference's single-resolution spatial tile key
(``calculate_tile`` at /root/reference/src/osm/apidb_dump/sql.rs:50-61:
16-bit x/y interleave, x in the more-significant bit of each pair) into an
H3/S2-style hierarchy:

* ``zorder_tile`` — bit-for-bit the reference function (res-16 scaled by
  65535 with round-half-away-from-zero). Used for apidb parity.
* ``cell_at(lat, lon, res)`` — hierarchical cell id for res in [0, 29]:
  ``cell = (1 << 2*res) | morton(x, y)`` where ``x = floor((lon+180)/360 *
  2^res)`` (y analogous over 180). The leading 1 makes ids
  self-describing: ``parent = cell >> 2``, ``res = (bit_length-1)//2``.
* ring / cover operators for kNN expansion and polygon covering.

Three synchronized implementations are provided, all bit-identical:
numpy (vectorized UDF kernels), PySpark Column expressions (JVM-side,
whole-stage-codegen friendly — the hot path), and ANSI-SQL text (DuckDB
oracle generation). Unit tests assert all three agree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_RES = 29  # 2*29+1 = 59 bits < 63 (signed long safe)

# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

_SPREAD_MASKS = (
    (np.uint64(16), np.uint64(0x0000FFFF0000FFFF)),
    (np.uint64(8), np.uint64(0x00FF00FF00FF00FF)),
    (np.uint64(4), np.uint64(0x0F0F0F0F0F0F0F0F)),
    (np.uint64(2), np.uint64(0x3333333333333333)),
    (np.uint64(1), np.uint64(0x5555555555555555)),
)


def _part1by1_np(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so bit i lands at position 2i."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


def _compact1by1_np(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1_np: gather even-position bits."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Interleave x (more significant) with y — reference bit order
    (/root/reference/src/osm/apidb_dump/sql.rs:55-60)."""
    return (_part1by1_np(x) << np.uint64(1)) | _part1by1_np(y)


def zorder_tile_np(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Bit-for-bit port of ``calculate_tile``
    (/root/reference/src/osm/apidb_dump/sql.rs:50-61).

    Rust ``f64::round`` rounds half away from zero; numpy ``round`` is
    banker's — use floor(v + 0.5) (all values here are >= 0).
    """
    x = np.floor((np.asarray(lon, np.float64) + 180.0) * 65535.0 / 360.0 + 0.5).astype(np.uint64)
    y = np.floor((np.asarray(lat, np.float64) + 90.0) * 65535.0 / 180.0 + 0.5).astype(np.uint64)
    return morton_np(x, y).astype(np.int64)


def xy_at_np(lat, lon, res: int):
    """Grid coordinates at resolution res (floor semantics, clamped)."""
    n = np.int64(1) << np.int64(res)
    x = np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * float(n)).astype(np.int64)
    y = np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * float(n)).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_from_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    lead = np.uint64(1) << np.uint64(2 * res)
    return (lead | morton_np(x.astype(np.uint64), y.astype(np.uint64))).astype(np.int64)


def cell_at_np(lat, lon, res: int) -> np.ndarray:
    x, y = xy_at_np(lat, lon, res)
    return cell_from_xy_np(x, y, res)


def cell_res_np(cell: np.ndarray) -> np.ndarray:
    """Resolution from the self-describing leading bit."""
    c = np.asarray(cell, np.uint64)
    bl = np.zeros(c.shape, np.int64)
    v = c.copy()
    for _ in range(64):  # bit_length via shift loop (vectorized, 64 passes max)
        nz = v > 0
        if not nz.any():
            break
        bl[nz] += 1
        v = v >> np.uint64(1)
    return (bl - 1) // 2


def cell_to_xy_np(cell: np.ndarray, res: int):
    c = np.asarray(cell, np.uint64) & ((np.uint64(1) << np.uint64(2 * res)) - np.uint64(1))
    x = _compact1by1_np(c >> np.uint64(1)).astype(np.int64)
    y = _compact1by1_np(c).astype(np.int64)
    return x, y


def cell_parent_np(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    return np.asarray(cell, np.int64) >> np.int64(2 * steps)


def cell_bounds_np(cell: np.ndarray, res: int):
    """(left, bottom, right, top) degree bounds of each cell."""
    n = float(1 << res)
    x, y = cell_to_xy_np(cell, res)
    left = x / n * 360.0 - 180.0
    right = (x + 1) / n * 360.0 - 180.0
    bottom = y / n * 180.0 - 90.0
    top = (y + 1) / n * 180.0 - 90.0
    return left, bottom, right, top


def ring_xy(x: int, y: int, res: int, k: int) -> list[tuple[int, int]]:
    """Cells at Chebyshev distance exactly k from (x, y); lon (x) wraps,
    lat (y) clamps (out-of-range rows dropped). k=0 → the cell itself."""
    n = 1 << res
    if k == 0:
        return [(x % n, y)] if 0 <= y < n else []
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            yy = y + dy
            if 0 <= yy < n:
                out.append(((x + dx) % n, yy))
    return out


def disk_xy(x: int, y: int, res: int, k: int) -> list[tuple[int, int]]:
    """All cells with Chebyshev distance <= k (the k-disk)."""
    out = []
    for r in range(k + 1):
        out.extend(ring_xy(x, y, res, r))
    return out


def cover_bbox_np(left: float, bottom: float, right: float, top: float, res: int) -> np.ndarray:
    """Cell ids covering an axis-aligned bbox (no antimeridian wrap)."""
    n = np.int64(1) << np.int64(res)
    x0 = int(np.clip(np.floor((left + 180.0) / 360.0 * float(n)), 0, n - 1))
    x1 = int(np.clip(np.floor((right + 180.0) / 360.0 * float(n)), 0, n - 1))
    y0 = int(np.clip(np.floor((bottom + 90.0) / 180.0 * float(n)), 0, n - 1))
    y1 = int(np.clip(np.floor((top + 90.0) / 180.0 * float(n)), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return cell_from_xy_np(gx.ravel(), gy.ravel(), res)


# ---------------------------------------------------------------------------
# PySpark Column expressions (JVM-side — preferred in hot paths)
# ---------------------------------------------------------------------------


def _part1by1_col(v: Column) -> Column:
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                        (1, 0x5555555555555555)):
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def morton_col(x: Column, y: Column) -> Column:
    return F.shiftleft(_part1by1_col(x), 1).bitwiseOR(_part1by1_col(y))


def zorder_tile_col(lat: Column, lon: Column) -> Column:
    """Reference ``calculate_tile`` as a pure Column expression."""
    x = F.floor((lon + F.lit(180.0)) * F.lit(65535.0) / F.lit(360.0) + F.lit(0.5)).cast("long")
    y = F.floor((lat + F.lit(90.0)) * F.lit(65535.0) / F.lit(180.0) + F.lit(0.5)).cast("long")
    return morton_col(x, y)


def xy_at_col(lat: Column, lon: Column, res: int):
    n = 1 << res
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))).cast("long")
    x = F.greatest(F.lit(0), F.least(F.lit(n - 1), x))
    y = F.greatest(F.lit(0), F.least(F.lit(n - 1), y))
    return x, y


def cell_at_col(lat: Column, lon: Column, res: int) -> Column:
    x, y = xy_at_col(lat, lon, res)
    return F.lit(1 << (2 * res)).bitwiseOR(morton_col(x, y))


def grid_sql(c: str, res: int, offset: float, span: float) -> str:
    """Spark SQL text of one :func:`xy_at_col` coordinate of column
    ``c`` (lon: offset 180, span 360; lat: offset 90, span 180)."""
    n = 1 << res
    return (f"greatest(0, least({n - 1}, CAST(floor((`{c}` + {offset}D) "
            f"/ {span}D * {float(n)}D) AS BIGINT)))")


def cell_steps(x: str, y: str, res: int,
               out: str) -> list[tuple[str, str]]:
    """SQL steps (functions/steps.select_steps) of ``out`` = the
    res-``res`` cell id of grid columns ``x``, ``y`` (the
    :func:`cell_at_col` id): each Morton spread step of both
    coordinates is one alias (``_mxK``, ``_myK``), so no step's text is
    pasted into the next (the :func:`_part1by1_sql` oracle twin nests
    each step twice, 32-fold in all)."""
    cur = {"x": f"(`{x}` & 4294967295)", "y": f"(`{y}` & 4294967295)"}
    steps = []
    for k, (shift, mask) in enumerate(_SPREAD_MASKS[:-1], 1):
        for a in ("x", "y"):
            v = cur[a]
            cur[a] = f"_m{a}{k}"
            steps.append((cur[a], f"({v} | shiftleft({v}, {int(shift)})) "
                                  f"& {int(mask)}"))
    (shift, mask), last = _SPREAD_MASKS[-1], {}
    for a in ("x", "y"):
        v = cur[a]
        last[a] = f"(({v} | shiftleft({v}, {int(shift)})) & {int(mask)})"
    return steps + [(out, f"{1 << (2 * res)} | shiftleft({last['x']}, 1) "
                          f"| {last['y']}")]


def cell_parent_col(cell: Column, steps: int = 1) -> Column:
    return F.shiftright(cell, 2 * steps)


def disk3_fanout(df: DataFrame, res: int, x: str, y: str,
                 out_x: str, out_y: str) -> DataFrame:
    """One row per cell (``out_x``, ``out_y``) of each row's 3×3
    Chebyshev disk around (``x``, ``y``) on the res-``res`` grid:
    longitude wraps mod 2^res, latitude clamps (offsets past a pole are
    dropped). Raises ValueError below 3 grid columns, where the ±1
    x-offsets wrap onto the same column and one neighbour would be
    emitted two or three times."""
    n = 1 << res
    if n < 3:
        raise ValueError(
            f"3x3 cell fan-out needs >= 3 grid columns; res {res} has {n}")
    off = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    return (df.withColumn("_o", F.explode(off))
            .withColumn(out_y, F.col(y) + F.col("_o.dy"))
            .filter((F.col(out_y) >= 0) & (F.col(out_y) < n))
            .withColumn(out_x, F.pmod(F.col(x) + F.col("_o.dx"), F.lit(n)))
            .drop("_o"))


# ---------------------------------------------------------------------------
# ANSI SQL text generators (DuckDB oracle parity)
# ---------------------------------------------------------------------------


def _part1by1_sql(v: str) -> str:
    expr = f"(({v}) & 4294967295)"
    for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                        (1, 0x5555555555555555)):
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
    return expr


def morton_sql(x: str, y: str) -> str:
    return f"(({_part1by1_sql(x)} << 1) | {_part1by1_sql(y)})"


def zorder_tile_sql(lat: str, lon: str) -> str:
    x = f"CAST(floor((({lon}) + 180.0) * 65535.0 / 360.0 + 0.5) AS BIGINT)"
    y = f"CAST(floor((({lat}) + 90.0) * 65535.0 / 180.0 + 0.5) AS BIGINT)"
    return morton_sql(x, y)


def cell_at_sql(lat: str, lon: str, res: int) -> str:
    n = 1 << res
    x = (f"greatest(0, least({n - 1}, "
         f"CAST(floor((({lon}) + 180.0) / 360.0 * {float(n)}) AS BIGINT)))")
    y = (f"greatest(0, least({n - 1}, "
         f"CAST(floor((({lat}) + 90.0) / 180.0 * {float(n)}) AS BIGINT)))")
    return f"({1 << (2 * res)} | {morton_sql(x, y)})"
