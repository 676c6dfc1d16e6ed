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

Each encoding has three bit-identical forms: the numpy kernel (UDF
kernels and the test reference), ONE Spark text — SQL steps
(``cell_steps``, ``zorder_tile_steps``, ``morton_steps``) applied with
functions/steps.select_steps; there are no Column builders — and the
DuckDB oracle text (``cell_at_sql``, ``zorder_tile_sql``,
``morton_sql``), which Spark never runs. Unit tests assert all three
agree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
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
# Spark SQL steps (the one Spark text of each encoding)
# ---------------------------------------------------------------------------


def grid_sql(c: str, res: int, offset: float, span: float) -> str:
    """Spark SQL text of one res-``res`` grid coordinate of column
    ``c`` (lon: offset 180, span 360; lat: offset 90, span 180), floor
    and clamp as :func:`xy_at_np`. A NULL or NaN ``c`` has no cell:
    NULL (``least``/``greatest`` skip NULL, so the clamp alone would
    put it in the last row or column)."""
    n = 1 << res
    return (f"CASE WHEN `{c}` IS NULL OR isnan(`{c}`) THEN NULL ELSE "
            f"greatest(0, least({n - 1}, CAST(floor((`{c}` + {offset}D) "
            f"/ {span}D * {float(n)}D) AS BIGINT))) END")


def morton_steps(x: str, y: str, out: str,
                 res: int | None = None) -> list[tuple[str, str]]:
    """SQL steps (functions/steps.select_steps) of ``out`` = the Morton
    interleave of columns ``x`` (the more significant bit of each pair)
    and ``y``; with ``res``, the res-``res`` cell id (the leading 1 at
    bit 2·res). Each spread step of both coordinates is one alias
    (``_<out>_mxK``, ``_<out>_myK``), so no step's text is pasted into
    the next (the :func:`_part1by1_sql` oracle text nests each step
    twice, 32-fold in all). ``out`` is NULL where ``x`` or ``y`` is;
    the spread steps read them coalesced to 0, so only the last step is
    nullable: a join on ``out`` infers ``isnotnull(out)`` and pushes it
    below the steps, and over nullable steps that filter would inline
    every step (2^k-fold text, 60x slower on a 2M-row probe join)."""
    cur = {a: f"(coalesce(`{c}`, 0) & 4294967295)"
           for a, c in (("x", x), ("y", y))}
    steps = []
    for k, (shift, mask) in enumerate(_SPREAD_MASKS[:-1], 1):
        for a in ("x", "y"):
            v = cur[a]
            cur[a] = f"_{out}_m{a}{k}"
            steps.append((cur[a], f"({v} | shiftleft({v}, {int(shift)})) "
                                  f"& {int(mask)}"))
    (shift, mask), last = _SPREAD_MASKS[-1], {}
    for a in ("x", "y"):
        v = cur[a]
        last[a] = f"(({v} | shiftleft({v}, {int(shift)})) & {int(mask)})"
    lead = "" if res is None else f"{1 << (2 * res)} | "
    return steps + [(out, f"CASE WHEN `{x}` IS NOT NULL AND `{y}` IS NOT "
                          f"NULL THEN {lead}shiftleft({last['x']}, 1) | "
                          f"{last['y']} END")]


def cell_steps(lat: str, lon: str, res: int,
               out: str) -> list[tuple[str, str]]:
    """SQL steps of ``out`` = the res-``res`` cell id of columns
    ``lat``/``lon`` (:func:`cell_at_np`): the grid coordinates
    (``_<out>_gx``, ``_<out>_gy``), then :func:`morton_steps`."""
    gx, gy = f"_{out}_gx", f"_{out}_gy"
    return [(gx, grid_sql(lon, res, 180.0, 360.0)),
            (gy, grid_sql(lat, res, 90.0, 180.0)),
            *morton_steps(gx, gy, out, res)]


def zorder_tile_steps(lat: str, lon: str,
                      out: str) -> list[tuple[str, str]]:
    """SQL steps of ``out`` = the reference ``calculate_tile`` key of
    columns ``lat``/``lon`` (:func:`zorder_tile_np`)."""
    zx, zy = f"_{out}_zx", f"_{out}_zy"
    return [(zx, f"CAST(floor((`{lon}` + 180.0D) * 65535.0D / 360.0D "
                 f"+ 0.5D) AS BIGINT)"),
            (zy, f"CAST(floor((`{lat}` + 90.0D) * 65535.0D / 180.0D "
                 f"+ 0.5D) AS BIGINT)"),
            *morton_steps(zx, zy, out)]


def cell_parent_sql(cell: str, steps: int = 1) -> str:
    """The ancestor ``steps`` levels up of cell id ``cell`` (an SQL
    expression) — one text for Spark and DuckDB."""
    return f"(({cell}) >> {2 * steps})"


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
# ANSI SQL text generators (DuckDB oracle references only)
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


def grid_oracle_sql(c: str, res: int, offset: float, span: float) -> str:
    """DuckDB text of :func:`grid_sql` for SQL expression ``c``."""
    n = 1 << res
    return (f"(CASE WHEN ({c}) IS NULL OR isnan({c}) THEN NULL ELSE "
            f"greatest(0, least({n - 1}, CAST(floor((({c}) + {offset}) "
            f"/ {span} * {float(n)}) AS BIGINT))) END)")


def cell_at_sql(lat: str, lon: str, res: int) -> str:
    x = grid_oracle_sql(lon, res, 180.0, 360.0)
    y = grid_oracle_sql(lat, res, 90.0, 180.0)
    return f"({1 << (2 * res)} | {morton_sql(x, y)})"
