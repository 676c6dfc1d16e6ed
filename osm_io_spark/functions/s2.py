"""True S2 cell ids: cube-face + quadratic-ST + Hilbert-curve 64-bit ids.

The Morton hierarchy in ``functions/cells.py`` generalizes the
reference's flat tile key (/root/reference/src/osm/apidb_dump/sql.rs:50-61)
on an equirectangular grid; this module adds the genuine S2 encoding the
north rule names ("H3/S2 index"): project a direction vector onto one of
six cube faces, apply the area-equalizing quadratic ST transform, and
order leaf coordinates along a Hilbert space-filling curve so that 1-D
id locality == 2-D spatial locality (the property that makes range scans
and hierarchical containment-as-BETWEEN work). Layout and constants
follow the published s2geometry algorithm (s2.sidewalklabs.com /
github.com/google/s2geometry docs): 3-bit face, 2·level Hilbert bits, a
trailing 1 sentinel at position 2·(30-level):

    id = face << 61 | hilbert_pos << 1 | 1            (level 30 leaf)

Hierarchy is pure bit math — ``lsb = id & -id`` gives the level,
``(id & -lsb') | lsb'`` the ancestor, ``id ± (lsb-1)`` the descendant
range — so containment joins become BETWEEN range predicates (oracle
path) or, scale-safe, one equi-join on each point's ancestors at the
cover levels (operators use the equi form; see
operators/spatial_join.s2_containment_join).

Three synchronized implementations, bit-identical (unit-tested against
each other and against Hilbert bijection/adjacency invariants): numpy
kernels and Spark SQL steps (both stepping the Hilbert scan
4 levels at a time through LOOKUP4, the published s2geometry
kLookupBits=4 table — on the Spark side each step is its own
projection so CollapseProject never duplicates the step expression,
and the ~9-step fused stage stays under HotSpot's 8000-bytecode
huge-method JIT limit, which the original 30 single-level steps blew
past, leaving the whole encode interpreted at ~180x cost), and
ANSI-SQL text for the DuckDB oracle (kept single-level: the oracle
runs at sf0.01 scale where clarity beats constant factors). The
hierarchy bit math (``s2_parent_sql``, ``s2_level_sql``,
``s2_range_*_sql``) is one SQL text that both engines run; there are
no Column builders.

Determinism note: the oracled entry points take a raw DIRECTION VECTOR
(x, y, z — S2 never needs it normalized: face/u/v are component
ratios), so the whole pipeline is +,-,*,/ and sqrt — all IEEE-exact and
bit-reproducible across Spark and DuckDB. The lat/lon convenience
wrappers use cos/sin, which are NOT cross-engine exact; they exist for
the engine side only and are tested numpy-vs-Spark.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .steps import select_steps

MAX_LEVEL = 30

# Packed per-level Hilbert transition table. Key = orientation*4 + ij
# (ij = i_bit*2 + j_bit), value nibble = pos*4 + next_orientation, built
# from s2geometry's kPosToIJ / kPosToOrientation constants
# (tests/test_s2.py re-derives it from those tables and asserts
# equality, plus bijection + step-adjacency of the resulting curve).
HILBERT_LUT = 0x2C7B36DA95E08F41
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (1, 0, 0, 3)  # swap, none, none, swap|invert


def _build_lookup4() -> np.ndarray:
    """4-levels-at-a-time Hilbert transition table, the layout the
    published s2geometry implementation calls ``lookup_pos``
    (kLookupBits = 4): key = orient(2b)·256 + i₄(4b)·16 + j₄(4b),
    value = pos(8b)·4 + next_orient(2b). Derived here by stepping the
    verified per-level HILBERT_LUT four times, so the single source of
    truth stays the nibble table the tests re-derive from kPosToIJ /
    kPosToOrientation."""
    tbl = np.zeros(1024, np.int64)
    for o0 in range(4):
        for i4 in range(16):
            for j4 in range(16):
                o, d = o0, 0
                for k in range(3, -1, -1):
                    ij = (((i4 >> k) & 1) << 1) | ((j4 >> k) & 1)
                    v = (HILBERT_LUT >> (4 * ((o << 2) | ij))) & 15
                    d = (d << 2) | (v >> 2)
                    o = v & 3
                tbl[(o0 << 8) | (i4 << 4) | j4] = (d << 2) | o
    return tbl


# Values 0..1023 — safe in int64/uint64 alike; .view is a no-op copy
# avoidance for the unsigned shifts below.
LOOKUP4 = _build_lookup4()


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def face_uv_np(x, y, z):
    """Face index (0..5) and (u, v) face coordinates of direction
    (x, y, z). Comparison chain matches s2geometry's
    LargestAbsComponent exactly so all three implementations break
    ties identically."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    z = np.asarray(z, np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, (x, y, z))
    face = np.where(comp < 0, axis + 3, axis)
    with np.errstate(divide="ignore", invalid="ignore"):
        # np.choose evaluates every branch; non-selected faces may
        # divide by a zero component harmlessly
        u = np.choose(face, (y / x, -x / y, -x / z, z / x, z / y, -y / z))
        v = np.choose(face, (z / x, z / y, -y / z, y / x, -x / y, -x / z))
    return face.astype(np.int64), u, v


def uv_to_st_np(u):
    """Quadratic area-equalizing UV→ST transform (s2geometry
    S2_QUADRATIC_PROJECTION)."""
    u = np.asarray(u, np.float64)
    with np.errstate(invalid="ignore"):
        # np.where evaluates both branches; the non-selected sqrt sees
        # a negative argument harmlessly (same pattern as face_uv_np)
        return np.where(u >= 0.0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_ij_np(s, level: int = MAX_LEVEL):
    n = np.int64(1) << np.int64(level)
    i = np.floor(np.asarray(s, np.float64) * float(n)).astype(np.int64)
    return np.clip(i, 0, n - 1)


def hilbert_pos_np(face, i, j, level: int = MAX_LEVEL) -> np.ndarray:
    """Hilbert curve position of (i, j) on ``face`` — 2·level bits.

    4 levels per iteration through LOOKUP4 (the published s2geometry
    kLookupBits=4 scheme): ``level // 4`` table steps after
    ``level % 4`` single-level warm-up steps for the top bits — the
    remainder must run per-level because a zero-padded phantom (0,0)
    step through the table toggles the swap bit (pos-0 transitions
    alternate swap), so an odd pad count would corrupt the state."""
    i = np.asarray(i, np.uint64)
    j = np.asarray(j, np.uint64)
    o = (np.asarray(face, np.uint64) & np.uint64(1)).astype(np.uint64)
    d = np.zeros(i.shape, np.uint64)
    lut = np.uint64(HILBERT_LUT)
    for k in range(level - 1, level - 1 - (level % 4), -1):
        kk = np.uint64(k)
        ij = (((i >> kk) & np.uint64(1)) << np.uint64(1)) | ((j >> kk) & np.uint64(1))
        v = (lut >> (np.uint64(4) * ((o << np.uint64(2)) | ij))) & np.uint64(15)
        d = (d << np.uint64(2)) | (v >> np.uint64(2))
        o = v & np.uint64(3)
    tbl = LOOKUP4.view(np.uint64)
    for c in range(level // 4 - 1, -1, -1):
        cc = np.uint64(4 * c)
        key = ((o << np.uint64(8))
               | (((i >> cc) & np.uint64(15)) << np.uint64(4))
               | ((j >> cc) & np.uint64(15)))
        v = tbl[key.astype(np.intp)]
        d = (d << np.uint64(8)) | (v >> np.uint64(2))
        o = v & np.uint64(3)
    return d


def s2_from_xyz_np(x, y, z, level: int = MAX_LEVEL) -> np.ndarray:
    """Level-``level`` S2 cell id of direction (x, y, z)."""
    face, u, v = face_uv_np(x, y, z)
    i = st_to_ij_np(uv_to_st_np(u), level)
    j = st_to_ij_np(uv_to_st_np(v), level)
    d = hilbert_pos_np(face, i, j, level)
    fid = np.asarray(face, np.uint64) << np.uint64(2 * level)
    cell = (((fid | d) << np.uint64(1)) | np.uint64(1)) << np.uint64(
        2 * (MAX_LEVEL - level))
    # faces 4-5 set bit 63: reinterpret, don't value-convert (published
    # S2 layout is unsigned; the signed view is what BIGINT columns hold)
    return cell.view(np.int64)


def s2_from_latlon_np(lat, lon, level: int = MAX_LEVEL) -> np.ndarray:
    """Engine-side convenience (cos/sin — not oracle-deterministic)."""
    phi = np.radians(np.asarray(lat, np.float64))
    theta = np.radians(np.asarray(lon, np.float64))
    return s2_from_xyz_np(np.cos(phi) * np.cos(theta),
                          np.cos(phi) * np.sin(theta),
                          np.sin(phi), level)


def s2_lsb_np(cid) -> np.ndarray:
    c = np.asarray(cid, np.int64)
    return c & -c


def s2_level_np(cid) -> np.ndarray:
    """30 - trailing_zeros(id)/2, via the lsb's bit position."""
    lsb = s2_lsb_np(cid).astype(np.uint64)
    tz = np.zeros(lsb.shape, np.int64)
    v = lsb.copy()
    for shift, width in ((32, 0xFFFFFFFF), (16, 0xFFFF), (8, 0xFF),
                         (4, 0xF), (2, 0x3), (1, 0x1)):
        hit = (v & np.uint64(width)) == 0
        tz += np.where(hit, shift, 0)
        v = np.where(hit, v >> np.uint64(shift), v)
    return MAX_LEVEL - (tz >> 1)


def s2_parent_np(cid, level: int) -> np.ndarray:
    lsb = np.int64(1) << np.int64(2 * (MAX_LEVEL - level))
    return (np.asarray(cid, np.int64) & -lsb) | lsb


def s2_range_np(cid):
    """(range_min, range_max): every descendant id lies inside."""
    c = np.asarray(cid, np.int64)
    lsb = c & -c
    return c - (lsb - 1), c + (lsb - 1)


# ---------------------------------------------------------------------------
# inverse transforms + cap covering (driver-side planning: covers are
# small and broadcast; the join itself is the distributed part)
# ---------------------------------------------------------------------------

# inverse Hilbert nibble table: key = orientation*4 + pos -> ij*4 + next
# orientation (built from the same published tables as HILBERT_LUT)
_HILBERT_LUT_INV = 0
for _o in range(4):
    for _pos in range(4):
        _ij = _POS_TO_IJ[_o][_pos]
        _val = (_ij << 2) | (_o ^ _POS_TO_ORIENT[_pos])
        _HILBERT_LUT_INV |= _val << (4 * (_o * 4 + _pos))
del _o, _pos, _ij, _val


def s2_token_np(cid) -> list[str]:
    """Published S2 token form of each id: lowercase hex with trailing
    zeros stripped (s2geometry S2CellId::ToToken; the invalid id 0 is
    the literal token "X" there — not needed here, ids are valid)."""
    u = np.asarray(cid, np.int64).view(np.uint64)
    return [format(int(v), "016x").rstrip("0") or "0" for v in u]


def s2_from_token(token: str) -> int:
    """Signed 64-bit id of a published S2 token (inverse of
    s2_token_np for valid cells)."""
    v = int(token.ljust(16, "0"), 16)
    return v - (1 << 64) if v >= (1 << 63) else v


def s2_to_face_ij_np(cid):
    """(face, i, j, level) of each cell id — inverse of the encode scan."""
    c = np.asarray(cid, np.int64)
    level = s2_level_np(c)
    u = c.view(np.uint64)
    face = (u >> np.uint64(61)).astype(np.int64)
    lut = np.uint64(_HILBERT_LUT_INV)
    i = np.zeros(c.shape, np.uint64)
    j = np.zeros(c.shape, np.uint64)
    o = (face.astype(np.uint64)) & np.uint64(1)
    for k in range(MAX_LEVEL):  # consume pos bits most-significant first
        lvl_active = k < level  # cells coarser than k contribute nothing
        shift = np.uint64(2 * (MAX_LEVEL - k) - 1)
        pos = (u >> shift) & np.uint64(3)
        v = (lut >> (np.uint64(4) * ((o << np.uint64(2)) | pos))) & np.uint64(15)
        bit_i = (v >> np.uint64(3)) & np.uint64(1)
        bit_j = (v >> np.uint64(2)) & np.uint64(1)
        i = np.where(lvl_active, (i << np.uint64(1)) | bit_i, i)
        j = np.where(lvl_active, (j << np.uint64(1)) | bit_j, j)
        o = np.where(lvl_active, v & np.uint64(3), o)
    return face, i.astype(np.int64), j.astype(np.int64), level


def st_to_uv_np(s):
    """Inverse quadratic transform (exact inverse of uv_to_st_np)."""
    s = np.asarray(s, np.float64)
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def face_uv_to_xyz_np(face, u, v):
    """Unnormalized direction for face coordinates (standard S2 face
    frames — exact inverse of face_uv_np, verified in tests)."""
    face = np.asarray(face, np.int64)
    u = np.asarray(u, np.float64)
    v = np.asarray(v, np.float64)
    one = np.ones_like(u)
    xs = (one, -u, -u, -one, v, v)
    ys = (u, one, -v, -v, -one, u)
    zs = (v, v, one, -u, -u, -one)
    x = np.choose(face, xs)
    y = np.choose(face, ys)
    z = np.choose(face, zs)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def _face_ij_corners_np(face, i, j, level):
    """Unit-sphere xyz of the 4 corners and the center of cells given
    as (face, i, j) at ``level`` (scalar or per cell): returns
    (cx, cy, cz, corners) with corners shaped (n, 4, 3)."""
    # i/j are in the cell's own level units — rescale to the leaf grid
    i30 = np.left_shift(i, MAX_LEVEL - level).astype(np.float64)
    j30 = np.left_shift(j, MAX_LEVEL - level).astype(np.float64)
    size = (np.int64(1) << (np.int64(MAX_LEVEL) - level)).astype(np.float64)
    scale = 1.0 / float(1 << MAX_LEVEL)
    i0 = i30 * scale
    j0 = j30 * scale
    i1 = (i30 + size) * scale
    j1 = (j30 + size) * scale
    im = 0.5 * (i0 + i1)
    jm = 0.5 * (j0 + j1)
    corners = np.empty(face.shape + (4, 3), np.float64)
    for idx, (si, sj) in enumerate(((i0, j0), (i1, j0), (i1, j1), (i0, j1))):
        x, y, z = face_uv_to_xyz_np(face, st_to_uv_np(si), st_to_uv_np(sj))
        corners[:, idx, 0] = x
        corners[:, idx, 1] = y
        corners[:, idx, 2] = z
    cx, cy, cz = face_uv_to_xyz_np(face, st_to_uv_np(im), st_to_uv_np(jm))
    return cx, cy, cz, corners


def s2_cell_corners_np(cid):
    """Unit-sphere xyz of each cell's 4 corners and center:
    returns (cx, cy, cz, corners) with corners shaped (n, 4, 3)."""
    return _face_ij_corners_np(*s2_to_face_ij_np(cid))


def _angle(ax, ay, az, bx, by, bz):
    dot = np.clip(ax * bx + ay * by + az * bz, -1.0, 1.0)
    return np.arccos(dot)


# child at Hilbert position k of a cell with orientation o: (i, j) bits
# _POS_TO_IJ[o][k], orientation o ^ _POS_TO_ORIENT[k]
_CHILD_DI = np.array([[ij >> 1 for ij in row] for row in _POS_TO_IJ], np.int64)
_CHILD_DJ = np.array([[ij & 1 for ij in row] for row in _POS_TO_IJ], np.int64)
_CHILD_OXOR = np.array(_POS_TO_ORIENT, np.int64)

# element budget (cells x corners x padded ring vertices) of one
# polygon-classify chunk: bounds the temporaries of a batch descent
_PAIR_BUDGET = 1 << 18


def _cover_descent(classify, n_regions: int, max_level: int,
                   max_cells: int):
    """The region-cover descent shared by every cap and polygon cover,
    run for ``n_regions`` regions at once: all regions descend in
    lockstep from their 6 face cells, so every frontier holds cells of
    one level, grouped by region in each region's own frontier order.
    The frontier carries (region, face, i, j, orientation, id); children
    and corners come from (i, j) — no id is ever decoded.

    ``classify(reg, face, i, j, level, ids)`` returns boolean
    (disjoint, contained) arrays for a whole frontier. A disjoint cell
    is pruned; a cell is emitted when contained, at ``max_level``, or
    when descending would break its region's ``max_cells`` budget;
    otherwise its 4 children join the next frontier.

    The budget gate is the sequential per-region rule, applied in
    frontier order: a cell descends only while ``emitted + remaining
    frontier + next frontier + 3 < max_cells`` (a descend raises that
    projected total by +3, so gating on it keeps every cover a hard
    <= max_cells). Until a region's gate first fires every candidate
    descends, so that prefix is one cumulative sum; the rest of a gated
    region's frontier is walked cell by cell (near the budget, where
    frontiers are small).

    Returns (region, cell) int64 arrays sorted by region, then cell."""
    reg = np.repeat(np.arange(n_regions, dtype=np.int64), 6)
    face = np.tile(np.arange(6, dtype=np.int64), n_regions)
    i = np.zeros_like(face)
    j = np.zeros_like(face)
    orient = face & 1
    # level-0 face cells: face<<61 | sentinel at bit 60 (faces 4-5 wrap
    # into the signed representation)
    ids = (((face.astype(np.uint64) << np.uint64(1)) | np.uint64(1))
           << np.uint64(60)).view(np.int64)
    n_out = np.zeros(n_regions, np.int64)
    out_reg, out_ids = [reg[:0]], [ids[:0]]
    level = 0
    while len(ids):
        disjoint, contained = classify(reg, face, i, j, level, ids)
        forced = ~disjoint & (contained | (level >= max_level))
        cand = ~disjoint & ~forced
        counts = np.bincount(reg, minlength=n_regions)
        start = np.cumsum(counts) - counts
        # projected total before each cell if every earlier candidate
        # of its region descended: disjoint -1, emit 0, descend +3
        step = np.where(disjoint, -1, np.where(cand, 3, 0))
        before = np.cumsum(step) - step
        proj = n_out[reg] + counts[reg] + 3 + before - before[start[reg]]
        gate = cand & (proj >= max_cells)
        if gate.any():
            hit = np.flatnonzero(gate)
            first = hit[np.r_[True, reg[hit[1:]] != reg[hit[:-1]]]]
            for g0 in first.tolist():
                end = int(start[reg[g0]] + counts[reg[g0]])
                t = int(proj[g0])
                gated = []
                for d, c in zip(disjoint[g0:end].tolist(),
                                cand[g0:end].tolist()):
                    if d:
                        t -= 1
                    elif c and t >= max_cells:
                        gated.append(True)
                        continue
                    elif c:
                        t += 3
                    gated.append(False)
                gate[g0:end] = gated
        emit = forced | gate
        out_reg.append(reg[emit])
        out_ids.append(ids[emit])
        n_out += np.bincount(reg[emit], minlength=n_regions)
        p = np.repeat(np.flatnonzero(cand & ~gate), 4)
        k = np.tile(np.arange(4, dtype=np.int64), len(p) // 4)
        o = orient[p]
        cell = ids[p]
        lsb = cell & -cell
        child_lsb = lsb >> 2
        ids = cell - lsb + child_lsb + 2 * k * child_lsb
        i = (i[p] << 1) | _CHILD_DI[o, k]
        j = (j[p] << 1) | _CHILD_DJ[o, k]
        orient = o ^ _CHILD_OXOR[k]
        reg = reg[p]
        face = face[p]
        level += 1
    reg = np.concatenate(out_reg)
    ids = np.concatenate(out_ids)
    order = np.lexsort((ids, reg))
    return reg[order], ids[order]


def _split_regions(reg, cells, n_regions: int) -> list[np.ndarray]:
    if n_regions == 0:
        return []  # np.split(x, []) would return [x]
    ends = np.cumsum(np.bincount(reg, minlength=n_regions))
    return np.split(cells, ends[:-1])


def s2_cover_caps_np(lats, lons, radii_rad, max_level: int = 10,
                     max_cells: int = 256) -> list[np.ndarray]:
    """Mixed-level S2 cell covers of spherical caps (simplified
    S2RegionCoverer), one sorted cover per cap, all caps in one
    descent: prune a cell only on the provable disjointness bound
    ``angle(cap_center, cell_center) - circumradius > radius`` (for a
    convex spherical cell both the circumradius and the max distance to
    an outside point are attained at a VERTEX, so corner math is exact
    for both bounds); emit when fully contained (all corners within
    radius, again vertex-exact for the convex cell), at max_level, or
    when the cell budget is reached. Never misses an intersecting leaf
    (completeness is only ever relaxed toward emitting a coarser
    ancestor)."""
    qx, qy, qz = _latlon_xyz_np(lats, lons)
    radii = np.asarray(radii_rad, np.float64)

    def classify(reg, face, i, j, level, ids):
        cx, cy, cz, corners = _face_ij_corners_np(face, i, j, level)
        ax, ay, az = qx[reg], qy[reg], qz[reg]
        ctr_ang = _angle(ax, ay, az, cx, cy, cz)
        corner_ang = _angle(ax[:, None], ay[:, None], az[:, None],
                            corners[:, :, 0], corners[:, :, 1],
                            corners[:, :, 2])
        circ = _angle(cx[:, None], cy[:, None], cz[:, None],
                      corners[:, :, 0], corners[:, :, 1],
                      corners[:, :, 2]).max(axis=1)
        return (ctr_ang - circ > radii[reg],
                corner_ang.max(axis=1) <= radii[reg])

    return _split_regions(*_cover_descent(classify, len(radii), max_level,
                                          max_cells), len(radii))


def s2_cover_cap_np(lat: float, lon: float, radius_rad: float,
                    max_level: int = 10, max_cells: int = 256) -> np.ndarray:
    """Cover of one spherical cap (see :func:`s2_cover_caps_np`)."""
    return s2_cover_caps_np([lat], [lon], [radius_rad], max_level,
                            max_cells)[0]


def _latlon_xyz_np(lat, lon):
    phi = np.radians(np.asarray(lat, np.float64))
    theta = np.radians(np.asarray(lon, np.float64))
    return (np.cos(phi) * np.cos(theta), np.cos(phi) * np.sin(theta),
            np.sin(phi))


def _tangent(vx, vy, vz, px, py, pz):
    """Unit tangent-plane direction of vertex v as seen from P."""
    d = vx * px + vy * py + vz * pz
    tx, ty, tz = vx - d * px, vy - d * py, vz - d * pz
    n = np.sqrt(tx * tx + ty * ty + tz * tz)
    n = np.where(n == 0, 1.0, n)
    return tx / n, ty / n, tz / n


def _winding_term(ta, tb, px, py, pz):
    """Signed tangent-plane angle an edge subtends at P."""
    dot = np.clip(ta[0] * tb[0] + ta[1] * tb[1] + ta[2] * tb[2], -1.0, 1.0)
    cx = ta[1] * tb[2] - ta[2] * tb[1]
    cy = ta[2] * tb[0] - ta[0] * tb[2]
    cz = ta[0] * tb[1] - ta[1] * tb[0]
    return np.arctan2(cx * px + cy * py + cz * pz, dot)


def point_in_spherical_polygon_np(px, py, pz, verts: np.ndarray):
    """Winding-number point-in-polygon on the sphere: sum of signed
    tangent-plane angles subtended at P by each edge is ±2π inside and
    0 outside. ``verts`` is an (E, 3) CCW loop of unit vectors
    (interior on the left) whose region must fit in the hemisphere
    centered on its vertex centroid — the winding sum is ALSO ±2π over
    the polygon's antipodal mirror (the loop wraps the far side of the
    sphere with reversed tangents), so the centroid-hemisphere gate
    below is what disambiguates; for any region that small the gate
    never excludes a true interior point. Broadcasting over n points
    costs O(E·n) with no n×E materialization beyond one edge at a
    time. Boundary points (P on an edge / vertex) are not guaranteed
    either way — same caveat as any winding test."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    pz = np.asarray(pz, np.float64)
    total = np.zeros(px.shape, np.float64)
    e = len(verts)
    t0 = _tangent(*verts[0], px, py, pz)
    ta = t0
    for k in range(e):
        tb = t0 if k == e - 1 else _tangent(*verts[k + 1], px, py, pz)
        total += _winding_term(ta, tb, px, py, pz)
        ta = tb
    ctr = verts.mean(axis=0)
    ctr = ctr / np.sqrt((ctr * ctr).sum())
    same_hemi = ctr[0] * px + ctr[1] * py + ctr[2] * pz > 0.0
    return (np.abs(total) > np.pi) & same_hemi


def point_in_spherical_rings_np(px, py, pz, rings):
    """Even-odd point-in-polygon for a multi-ring spherical polygon:
    XOR of the per-ring winding tests — ring 0 the outer loop, further
    rings inner loops punching holes (OSM multipolygon roles,
    /root/reference/src/osm/model/relation.rs:3-49; same even-odd rule
    as the planar path, functions/geometry.points_in_polygon). The
    winding test's |total| > pi criterion is orientation-agnostic
    (CW gives -2*pi), so arbitrary OSM ring orientations are fine;
    each ring must satisfy the sub-hemisphere caveat of
    :func:`point_in_spherical_polygon_np`. ``rings`` is a sequence of
    (E, 3) unit-vector loops."""
    px = np.asarray(px, np.float64)
    inside = np.zeros(px.shape, bool)
    for verts in rings:
        inside ^= point_in_spherical_polygon_np(px, py, pz, verts)
    return inside


def _arcs_cross_np(a1, a2, b1, b2):
    """True where minor arc a1→a2 properly crosses minor arc b1→b2.
    Sign test on the two great-circle normals picks the crossing
    great-circle pair; the hemisphere check on the candidate crossing
    direction rejects the antipodal intersection (exact for arcs
    shorter than a half circle — cell edges and polygon edges both
    are). Inputs broadcast; each a*/b* is an (…, 3) stack."""
    na = np.cross(a1, a2)
    nb = np.cross(b1, b2)
    s1 = np.einsum("...k,...k->...", na, b1)
    s2 = np.einsum("...k,...k->...", na, b2)
    s3 = np.einsum("...k,...k->...", nb, a1)
    s4 = np.einsum("...k,...k->...", nb, a2)
    straddle = ((s1 > 0) != (s2 > 0)) & ((s3 > 0) != (s4 > 0))
    d = np.cross(na, nb)
    on_a = np.einsum("...k,...k->...", d, a1 + a2)
    on_b = np.einsum("...k,...k->...", d, b1 + b2)
    # crossing direction is ±d; one sign must sit on BOTH minor arcs
    same_side = ((on_a > 0) & (on_b > 0)) | ((on_a < 0) & (on_b < 0))
    return straddle & same_side


def _length_chunks(lens: np.ndarray, per_item: int, budget: int):
    """Index chunks of items grouped by power-of-two length bucket, each
    with its padded width L and at most ``budget`` padded elements
    (``per_item`` * L per item): one padded numpy pass per chunk wastes
    < 2x on padding, whatever the mix of ring sizes."""
    bucket = np.frexp(lens.astype(np.float64))[1]
    order = np.argsort(bucket, kind="stable")
    cuts = np.flatnonzero(np.diff(bucket[order])) + 1
    for sel in np.split(order, cuts):
        if not len(sel):
            continue
        width = int(lens[sel].max())
        step = max(1, budget // (per_item * width))
        for s in range(0, len(sel), step):
            yield sel[s:s + step], width


def _padded_loops(start, lens, width: int):
    """(vertex index, next-vertex index, next-vertex column, valid) of
    loops padded to ``width``: padded slots repeat the closing edge, so
    any() tests need no mask; sums must mask with ``valid``."""
    k = np.arange(width, dtype=np.int64)[None, :]
    e = lens[:, None]
    col = np.minimum(k, e - 1)
    nxt = np.where(col + 1 < e, col + 1, 0)
    return start[:, None] + col, start[:, None] + nxt, nxt, k < e


def _cover_loops_np(lats, lons, lens, max_level: int,
                    max_cells: int) -> list[np.ndarray]:
    """Covers of spherical loops given as flat lat/lon arrays cut by
    ``lens`` — one descent for all of them (see
    :func:`s2_cover_polygon_np` for the per-cell test)."""
    lens = np.asarray(lens, np.int64)
    start = np.cumsum(lens) - lens
    vx, vy, vz = _latlon_xyz_np(lats, lons)
    verts = np.stack([vx, vy, vz], axis=1)
    vleaf = s2_from_xyz_np(vx, vy, vz)
    # vertex centroid per loop, summed in vertex order (the order
    # point_in_spherical_polygon_np's mean uses)
    ctr = np.empty((len(lens), 3), np.float64)
    for sel, width in _length_chunks(lens, 3, _PAIR_BUDGET):
        vidx, _, _, valid = _padded_loops(start[sel], lens[sel], width)
        pad = np.where(valid[:, :, None], verts[vidx], 0.0)
        ctr[sel] = np.cumsum(pad, axis=1)[:, -1] / lens[sel, None]
    ctr = ctr / np.sqrt((ctr * ctr).sum(axis=1))[:, None]

    def classify_chunk(reg, corners, rn, rx, width):
        vidx, nidx, nxt, valid = _padded_loops(start[reg], lens[reg],
                                               width)
        va = verts[vidx]                                    # (m, L, 3)
        vb = verts[nidx]
        # winding sum of every corner, edges summed in loop order
        px, py, pz = (corners[:, :, c][:, :, None] for c in range(3))
        ta = _tangent(va[:, None, :, 0], va[:, None, :, 1],
                      va[:, None, :, 2], px, py, pz)
        tb = tuple(np.take_along_axis(t, nxt[:, None, :], axis=2)
                   for t in ta)
        term = np.where(valid[:, None, :],
                        _winding_term(ta, tb, px, py, pz), 0.0)
        total = np.cumsum(term, axis=2)[:, :, -1]
        c = ctr[reg]
        same_hemi = (c[:, 0, None] * corners[:, :, 0]
                     + c[:, 1, None] * corners[:, :, 1]
                     + c[:, 2, None] * corners[:, :, 2]) > 0.0
        inside = (np.abs(total) > np.pi) & same_hemi
        leaf = vleaf[vidx]
        vert_in_cell = ((leaf >= rn[:, None]) & (leaf <= rx[:, None])).any(1)
        none_in, all_in = ~inside.any(axis=1), inside.all(axis=1)
        # the edge test only decides cells whose corners agree and that
        # hold no vertex; every other cell is neither pruned nor emitted
        need = (none_in | all_in) & ~vert_in_cell
        cross = np.zeros(len(reg), bool)
        cb = np.roll(corners, -1, axis=1)
        cross[need] = _arcs_cross_np(
            corners[need][:, :, None, :], cb[need][:, :, None, :],
            va[need][:, None, :, :], vb[need][:, None, :, :]).any(axis=(1, 2))
        return (none_in & ~vert_in_cell & ~cross,
                all_in & ~cross & ~vert_in_cell)

    def classify(reg, face, i, j, level, ids):
        _, _, _, corners = _face_ij_corners_np(face, i, j, level)
        rn, rx = s2_range_np(ids)
        disjoint = np.empty(len(ids), bool)
        contained = np.empty(len(ids), bool)
        for sel, width in _length_chunks(lens[reg], 4, _PAIR_BUDGET):
            disjoint[sel], contained[sel] = classify_chunk(
                reg[sel], corners[sel], rn[sel], rx[sel], width)
        return disjoint, contained

    return _split_regions(*_cover_descent(classify, len(lens), max_level,
                                          max_cells), len(lens))


def s2_cover_polygon_np(lats, lons, max_level: int = 10,
                        max_cells: int = 256) -> np.ndarray:
    """Mixed-level S2 cell cover of a spherical polygon (CCW lat/lon
    loop, interior on the left, smaller than a hemisphere) — the
    polygon analogue of :func:`s2_cover_cap_np`. A frontier cell is
    pruned only when it provably misses the polygon: no cell corner
    inside the polygon, no polygon vertex inside the cell (leaf-id
    range test — exact), and no cell-edge/polygon-edge crossing; if a
    region intersects a cell none of those three can be false together
    (Jordan argument for sub-hemisphere regions), so completeness
    holds. Emitted when all 4 corners are inside with no edge crossing
    (cell ⊂ polygon), at max_level, or on budget. One loop through the
    batch descent of :func:`s2_cover_polygons_np`."""
    lats = np.asarray(lats, np.float64)
    return _cover_loops_np(lats, lons, [len(lats)], max_level,
                           max_cells)[0]


def s2_cell_union_normalize_np(cells: np.ndarray) -> np.ndarray:
    """Ancestor-free normalization of a cell set: drop every cell whose
    leaf range lies inside another's (published S2CellUnion
    normalization semantics minus sibling-merge). Because two cell
    ranges either nest or are disjoint — never partially overlap — a
    single sorted sweep suffices. Guarantees any leaf is contained by
    AT MOST ONE output cell, which is what keeps containment-join
    candidates duplicate-free. Output is in unsigned id order."""
    cells = np.asarray(cells, np.int64)
    if len(cells) == 0:
        return cells
    rn, rx = s2_range_np(cells)
    # UNSIGNED range endpoints (int64 order would split faces 4-5);
    # sort by (range_min asc, range_max desc) so every ancestor
    # precedes its descendants — ranges nest or are disjoint, never
    # partially overlap, so a cell is nested iff its range_max does not
    # pass the running max of everything before it
    urn = rn.view(np.uint64)
    urx = rx.view(np.uint64)
    order = np.lexsort((np.uint64(0xFFFFFFFFFFFFFFFF) - urx, urn))
    srx = urx[order]
    keep = order[np.r_[True, srx[1:] > np.maximum.accumulate(srx)[:-1]]]
    keep = keep[np.argsort(cells.view(np.uint64)[keep], kind="stable")]
    return cells[keep]


def s2_cover_polygons_np(polygons, max_level: int = 10,
                         max_cells: int = 256) -> list[np.ndarray]:
    """Covers of many multi-ring polygons in ONE descent (one region
    per ring): each polygon's cover is the normalized UNION of its
    rings' covers. Even-odd semantics make any interior point lie
    inside at least one ring (a point inside zero rings is outside),
    so the union is complete for arbitrary outer/inner ring mixes —
    including multipolygons with SEVERAL outer rings. Inner rings only
    ever loosen the cover (cells fully inside a hole still reach the
    containment join and are rejected by the exact refine).
    Normalization (ancestor-free set) keeps join candidates
    duplicate-free when one ring's fine cells nest inside another's
    coarse cell. ``polygons`` is a sequence of polygons, each a
    sequence of (lats, lons) ring pairs; duplicated closing vertices
    (OSM closed-way convention) are stripped. Covers come back in
    unsigned id order.

    The ``max_cells`` budget is TOTAL per polygon, not per ring:
    per-ring covers are unioned, then the finest-level cells are lifted
    to their parents (and re-normalized) until the union fits. Lifting
    only loosens a cover, so completeness survives; downstream sizing
    (containment-join fan-out, cover-table broadcast gate) can rely on
    ≤ max_cells rows per polygon regardless of ring count — an OSM
    coastline multipolygon with hundreds of rings would otherwise emit
    hundreds × max_cells candidates."""
    # the empty seed keeps np.concatenate defined for zero rings
    lats, lons, lens, n_rings = [np.zeros(0)], [np.zeros(0)], [], []
    for rings in polygons:
        n = 0
        for la, lo in rings:
            la = np.asarray(la, np.float64)
            lo = np.asarray(lo, np.float64)
            if len(la) > 1 and la[0] == la[-1] and lo[0] == lo[-1]:
                la, lo = la[:-1], lo[:-1]
            if len(la):
                lats.append(la)
                lons.append(lo)
                lens.append(len(la))
                n += 1
        n_rings.append(n)
    ring_covers = _cover_loops_np(
        np.concatenate(lats), np.concatenate(lons), lens, max_level,
        max_cells)
    out = []
    first = np.cumsum(n_rings) - n_rings
    for r0, n in zip(first.tolist(), n_rings):
        if n == 0:
            out.append(np.zeros(0, np.int64))
            continue
        cover = s2_cell_union_normalize_np(
            np.unique(np.concatenate(ring_covers[r0:r0 + n])))
        while len(cover) > max_cells:
            levels = s2_level_np(cover)
            fin = int(levels.max())
            if fin == 0:
                break  # ≤ 6 face cells — can't coarsen further
            mask = levels == fin
            lifted = s2_parent_np(cover[mask], fin - 1)
            cover = s2_cell_union_normalize_np(
                np.unique(np.concatenate([cover[~mask], lifted])))
        out.append(cover)
    return out


def s2_cover_rings_np(rings_latlon, max_level: int = 10,
                      max_cells: int = 256) -> np.ndarray:
    """Cover of one multi-ring polygon (see :func:`s2_cover_polygons_np`);
    ``rings_latlon`` is a sequence of (lats, lons) pairs."""
    return s2_cover_polygons_np([rings_latlon], max_level, max_cells)[0]


# ---------------------------------------------------------------------------
# Spark SQL steps (the S2 encode; the cell-id bit math below is shared)
# ---------------------------------------------------------------------------


def _s2_cell_steps(x: str, y: str, z: str, out: str,
                   level: int) -> list[tuple[str, str]]:
    """SQL steps (functions/steps.select_steps) of the S2 encode of
    direction columns ``x``, ``y``, ``z``: the face (``_s2f``), the
    leaf (i, j) with u/v and the quadratic ST transform inlined
    (``_s2i``, ``_s2j``), the LOOKUP4 table (``_s2lut``), one Hilbert
    step per alias (``_s2sK``), and the cell id ``out``. A step carries
    the whole Hilbert state in one long, ``state = pos << 2 |
    orientation``; the table value of a step is ``pos_bits << 2 |
    next_orientation``, so the next state is ``(state >> 2) <<
    (2·levels + 2) | value``. Each state is read twice by the next step
    (its orientation and its position), which keeps every step its own
    projection."""
    x, y, z = (f"`{c}`" for c in (x, y, z))
    axis = (f"CASE WHEN abs({x}) > abs({y}) "
            f"THEN (CASE WHEN abs({x}) > abs({z}) THEN 0 ELSE 2 END) "
            f"ELSE (CASE WHEN abs({y}) > abs({z}) THEN 1 ELSE 2 END) END")
    comp = (f"CASE WHEN ({axis}) = 0 THEN {x} WHEN ({axis}) = 1 THEN {y} "
            f"ELSE {z} END")
    # a NULL or NaN component has no cell: a NULL face makes every
    # later step, the cell id included, NULL
    missing = " OR ".join(f"{c} IS NULL OR isnan({c})" for c in (x, y, z))
    face = (f"CAST(CASE WHEN {missing} THEN NULL "
            f"WHEN ({comp}) < 0 THEN ({axis}) + 3 "
            f"ELSE ({axis}) END AS BIGINT)")

    def on_face(*per_face: str) -> str:
        return ("CASE " + " ".join(f"WHEN _s2f = {k} THEN {e}"
                                   for k, e in enumerate(per_face[:5]))
                + f" ELSE {per_face[5]} END")

    u = on_face(f"{y} / {x}", f"-{x} / {y}", f"-{x} / {z}",
                f"{z} / {x}", f"{z} / {y}", f"-{y} / {z}")
    v = on_face(f"{z} / {x}", f"{z} / {y}", f"-{y} / {z}",
                f"{y} / {x}", f"-{x} / {y}", f"-{x} / {z}")
    n = 1 << level

    def ij(e: str) -> str:
        st = (f"CASE WHEN ({e}) >= 0.0D THEN 0.5D * sqrt(1.0D + 3.0D * ({e})) "
              f"ELSE 1.0D - 0.5D * sqrt(1.0D - 3.0D * ({e})) END")
        return (f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), "
                f"floor(({st}) * {n}.0D)))")

    steps = [("_s2f", face), ("_s2i", ij(u)), ("_s2j", ij(v))]
    if level >= 4:
        # LOOKUP4 as an array<int> literal (values < 1024), one step:
        # the optimizer folds it into every step that reads it, so no
        # row carries it (tests/test_s2.py), and its 4.6 KB of text is
        # parsed once, not once per step
        steps.append(("_s2lut", f"array({', '.join(map(str, LOOKUP4))})"))
    state = None

    def orientation() -> str:
        return "(_s2f & 1)" if state is None else f"({state} & 3)"

    def push(value: str, bits: int) -> None:
        nonlocal state
        if state is not None:
            value = f"shiftleft(shiftright({state}, 2), {bits + 2}) | {value}"
        state = f"_s2s{len(steps)}"
        steps.append((state, value))

    # level % 4 single-level warm-up steps through the nibble table: a
    # zero-padded phantom (0,0) step through LOOKUP4 would toggle the
    # swap bit
    for k in range(level - 1, level - 1 - (level % 4), -1):
        key = (f"shiftleft({orientation()}, 2) | "
               f"shiftleft(shiftright(_s2i, {k}) & 1, 1) | "
               f"(shiftright(_s2j, {k}) & 1)")
        push(f"(shiftright({HILBERT_LUT}L, 4 * CAST({key} AS INT)) & 15)", 2)
    # element_at is 1-based
    for c in range(level // 4 - 1, -1, -1):
        key = (f"shiftleft({orientation()}, 8) | "
               f"shiftleft(shiftright(_s2i, {4 * c}) & 15, 4) | "
               f"(shiftright(_s2j, {4 * c}) & 15)")
        push(f"element_at(_s2lut, CAST(({key}) + 1 AS INT))", 8)
    pos = "0" if state is None else f"shiftright({state}, 2)"
    cell = f"shiftleft(shiftleft(_s2f, {2 * level}) | {pos}, 1) | 1"
    if level < MAX_LEVEL:
        cell = f"shiftleft({cell}, {2 * (MAX_LEVEL - level)})"
    return steps + [(out, cell)]


def with_s2_cell(df: DataFrame, x: str, y: str, z: str,
                 out: str = "s2_cell",
                 level: int = MAX_LEVEL) -> DataFrame:
    """Append column ``out`` = S2 cell id of direction (x, y, z), given
    as column names (bind a computed direction with ``selectExpr``
    first, e.g. :func:`with_latlon_xyz`).

    The whole encode is one ``selectExpr`` of SQL steps
    (:func:`_s2_cell_steps`, functions/steps.select_steps), so it costs
    a few dozen py4j round trips, not thousands. The Hilbert scan runs
    4 levels per step through the LOOKUP4 table (published s2geometry
    kLookupBits=4 scheme) after ``level % 4`` single-level warm-up
    steps. Every step stays its own projection; whole-stage codegen
    fuses the ~11 projections into one stage. The 4-level grouping is
    what keeps the fused doConsume methods under HotSpot's
    8000-bytecode huge-method limit: the original 30 single-level
    projections generated a method the JIT refused, leaving the whole
    encode in the bytecode interpreter (~180x slower; asserted small in
    tests/test_s2.py)."""
    if out in df.columns:
        # appending (not replacing) — a pre-existing `out` would yield
        # two same-named columns and AMBIGUOUS_REFERENCE far downstream
        # (e.g. re-encoding rows read back from an s2_cell-keyed
        # snapshot table); fail here with the fix instead
        raise ValueError(
            f"with_s2_cell output column {out!r} already exists on the "
            f"input frame; drop it first or pass a different `out`")
    return select_steps(df, _s2_cell_steps(x, y, z, out, level),
                        keep=(out,))


def latlon_xyz_sql(lat: str, lon: str) -> tuple[str, str, str]:
    """Unit-sphere direction of columns ``lat``/``lon`` as Spark SQL
    text (trig — engine-side only, not oracle-deterministic; see module
    docstring)."""
    phi, theta = f"radians(`{lat}`)", f"radians(`{lon}`)"
    return (f"cos({phi}) * cos({theta})", f"cos({phi}) * sin({theta})",
            f"sin({phi})")


def with_latlon_xyz(df: DataFrame, lat: str, lon: str,
                    names: tuple[str, str, str] = ("px", "py", "pz")
                    ) -> DataFrame:
    """``df`` plus the :func:`latlon_xyz_sql` direction of ``lat``/``lon``
    as columns ``names``, in one ``selectExpr``."""
    return df.selectExpr("*", *[f"{e} AS `{n}`" for e, n in
                                zip(latlon_xyz_sql(lat, lon), names)])


# ---------------------------------------------------------------------------
# SQL text: the DuckDB encode oracle, and the hierarchy bit math both
# engines run (integer literals only, so one text serves both)
# ---------------------------------------------------------------------------


def s2_chain_sql(base_from: str, x: str, y: str, z: str,
                 out: str = "s2_cell", level: int = MAX_LEVEL,
                 keep: tuple[str, ...] = ()) -> str:
    """Subquery text computing ``out`` = S2 cell id of (x, y, z) over
    ``base_from`` (a FROM-able: table name or parenthesized subquery).
    ``keep`` columns are carried through. One nested SELECT per Hilbert
    level, exactly mirroring with_s2_cell's projection chain."""
    kc = "".join(f"{c}, " for c in keep)
    # stage 1: bind the raw direction expressions once
    q = (f"(SELECT {''.join(f'({c}) AS {c}, ' for c in keep)}"
         f"({x}) AS _x, ({y}) AS _y, ({z}) AS _z FROM {base_from})")
    # stage 2: face from the bound components
    axis = ("(CASE WHEN abs(_x) > abs(_y) "
            "THEN (CASE WHEN abs(_x) > abs(_z) THEN 0 ELSE 2 END) "
            "ELSE (CASE WHEN abs(_y) > abs(_z) THEN 1 ELSE 2 END) END)")
    comp = f"(CASE WHEN {axis} = 0 THEN _x WHEN {axis} = 1 THEN _y ELSE _z END)"
    face = f"(CASE WHEN {comp} < 0 THEN {axis} + 3 ELSE {axis} END)"
    q = f"(SELECT {kc}_x, _y, _z, {face} AS _f FROM {q})"
    # stage 3: u/v ratios, quadratic ST, leaf ij, initial hilbert state
    u = ("(CASE WHEN _f = 0 THEN _y/_x WHEN _f = 1 THEN -_x/_y "
         "WHEN _f = 2 THEN -_x/_z WHEN _f = 3 THEN _z/_x "
         "WHEN _f = 4 THEN _z/_y ELSE -_y/_z END)")
    v = ("(CASE WHEN _f = 0 THEN _z/_x WHEN _f = 1 THEN _z/_y "
         "WHEN _f = 2 THEN -_y/_z WHEN _f = 3 THEN _y/_x "
         "WHEN _f = 4 THEN -_x/_y ELSE -_x/_z END)")

    # e-notation literals: DuckDB parses bare decimals as DECIMAL (see
    # CLAUDE.md); every constant here is also exactly representable
    def st(e: str) -> str:
        return (f"(CASE WHEN {e} >= 0e0 THEN 5e-1 * sqrt(1e0 + 3e0 * {e}) "
                f"ELSE 1e0 - 5e-1 * sqrt(1e0 - 3e0 * {e}) END)")

    n = 1 << level

    def ij(e: str) -> str:
        return f"greatest(0, least({n - 1}, CAST(floor({e} * {n}e0) AS BIGINT)))"

    q = (f"(SELECT {kc}_f, {ij(st(u))} AS _i, {ij(st(v))} AS _j, "
         f"(_f & 1) AS _o, CAST(0 AS BIGINT) AS _d FROM {q})")
    for k in range(level - 1, -1, -1):
        ijk = f"(((( _i >> {k}) & 1) << 1) | ((_j >> {k}) & 1))"
        vex = f"(({HILBERT_LUT} >> (4 * ((_o << 2) | {ijk}))) & 15)"
        q = (f"(SELECT {kc}_f, _i, _j, ({vex} & 3) AS _o, "
             f"((_d << 2) | ({vex} >> 2)) AS _d FROM {q})")
    # assemble in HUGEINT and wrap to the signed BIGINT bit pattern by
    # hand: faces 4-5 set bit 63, and DuckDB's BIGINT << raises on
    # overflow where Java (Spark) and numpy wrap
    u128 = (f"((CAST(_f AS HUGEINT) * {1 << (2 * level)} + CAST(_d AS HUGEINT)) "
            f"* 2 + 1) * {1 << (2 * (MAX_LEVEL - level))}")
    cell = (f"CAST(({u128}) - (CASE WHEN ({u128}) >= 9223372036854775808 "
            f"THEN 18446744073709551616 ELSE 0 END) AS BIGINT)")
    return f"(SELECT {kc}{cell} AS {out} FROM {q})"


def s2_level_sql(cid: str) -> str:
    """Level from the trailing-1 sentinel: a 31-branch CASE on the lsb
    (exact integer compare — no float log in the plan); NULL for 0."""
    lsb = f"(({cid}) & -({cid}))"
    branches = " ".join(
        f"WHEN {1 << (2 * (MAX_LEVEL - lvl))} THEN {lvl}"
        for lvl in range(MAX_LEVEL + 1))
    return f"(CASE {lsb} {branches} END)"


def s2_parent_sql(cid: str, level: int) -> str:
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return f"((({cid}) & {-lsb}) | {lsb})"


def s2_range_min_sql(cid: str) -> str:
    return f"(({cid}) - ((({cid}) & -({cid})) - 1))"


def s2_range_max_sql(cid: str) -> str:
    return f"(({cid}) + ((({cid}) & -({cid})) - 1))"
