"""The batched polygon cover kernels against pinned outputs.

``fixtures/cover_kernels.npz`` holds inputs and the outputs of the
per-region S2 cover descent and of the per-cell rect∩polygon predicate
that the batched kernels replaced (one numpy pass per Arrow batch
instead of one per polygon / cell). The covers and keep masks must stay
array-identical, including tight budgets where the ``max_cells`` gate
fires mid-frontier, antimeridian and polar loops, polygon vertices and
edges on cube-face and cell boundaries, multi-ring polygons, and planar
rings that touch, run along or degenerate against the cell grid.

S2 inputs: 39 single loops (random stars, antimeridian straddlers and
hand-placed boundary cases), 7 multi-ring polygons and 14 caps, each
covered under 7 (max_level, max_cells) settings. Planar inputs: 33
polygons (holes, closed rings, 1- and 2-vertex rings, zero-area and
bow-tie rings, grid-snapped random stars) against 6,732 rects on a unit
and a half-unit grid plus random rects.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from osm_io_spark.functions import geometry as G
from osm_io_spark.functions import s2

_FIX = np.load(os.path.join(os.path.dirname(__file__), "fixtures",
                            "cover_kernels.npz"))


def _cut(name):
    off = _FIX[name + "_off"]
    return [_FIX[name][off[k]:off[k + 1]] for k in range(len(off) - 1)]


def _unsigned(cells):
    return cells[np.argsort(cells.view(np.uint64), kind="stable")]


_SETTINGS = [tuple(int(v) for v in s) for s in _FIX["s2_settings"]]
_LOOPS = list(zip(_cut("s2_poly_lat"), _cut("s2_poly_lon")))
_RINGS = list(zip(_cut("s2_ring_lat"), _cut("s2_ring_lon")))
_MULTIS = [_RINGS[f:f + n] for f, n in zip(
    np.cumsum(_FIX["s2_multi_nrings"]) - _FIX["s2_multi_nrings"],
    _FIX["s2_multi_nrings"])]
_CAPS = _FIX["s2_caps"]


def _pinned(name, per_setting):
    covers = _cut(name)
    return {s: covers[k * per_setting:(k + 1) * per_setting]
            for k, s in enumerate(_SETTINGS)}


_LOOP_COVERS = _pinned("s2_poly_cover", len(_LOOPS))
_MULTI_COVERS = _pinned("s2_multi_cover", len(_MULTIS))
_CAP_COVERS = _pinned("s2_cap_cover", len(_CAPS))


@pytest.mark.parametrize("setting", _SETTINGS, ids=str)
def test_s2_batched_polygon_covers_match_pinned(setting):
    max_level, max_cells = setting
    # every single loop and every multi-ring polygon in ONE descent
    polys = [[loop] for loop in _LOOPS] + _MULTIS
    got = s2.s2_cover_polygons_np(polys, max_level=max_level,
                                  max_cells=max_cells)
    want = ([_unsigned(c) for c in _LOOP_COVERS[setting]]
            + list(_MULTI_COVERS[setting]))
    assert len(got) == len(want)
    for k, (g, w) in enumerate(zip(got, want)):
        assert np.array_equal(g, w), (setting, k)


@pytest.mark.parametrize("setting", _SETTINGS, ids=str)
def test_s2_batched_cap_covers_match_pinned(setting):
    max_level, max_cells = setting
    got = s2.s2_cover_caps_np(_CAPS[:, 0], _CAPS[:, 1], _CAPS[:, 2],
                              max_level=max_level, max_cells=max_cells)
    for k, (g, w) in enumerate(zip(got, _CAP_COVERS[setting])):
        assert np.array_equal(g, w), (setting, k)


def test_s2_single_region_calls_match_pinned():
    """The one-region entry points return the same covers in signed id
    order (s2_cover_polygon_np, s2_cover_cap_np) and unsigned order
    (s2_cover_rings_np)."""
    setting = (12, 8)
    for k in (0, 5, 28, 31, 35):
        la, lo = _LOOPS[k]
        got = s2.s2_cover_polygon_np(la, lo, max_level=12, max_cells=8)
        assert np.array_equal(got, _LOOP_COVERS[setting][k]), k
    for k in (0, 4, 9):
        la, lo, r = _CAPS[k]
        got = s2.s2_cover_cap_np(la, lo, r, max_level=12, max_cells=8)
        assert np.array_equal(got, _CAP_COVERS[setting][k]), k
    got = s2.s2_cover_rings_np(_MULTIS[0], max_level=12, max_cells=8)
    assert np.array_equal(got, _MULTI_COVERS[setting][0])


def test_s2_cover_chunking_is_invisible(monkeypatch):
    """A tiny per-chunk element budget splits every frontier into many
    padded chunks; covers must not move."""
    monkeypatch.setattr(s2, "_PAIR_BUDGET", 64)
    polys = [[loop] for loop in _LOOPS[:12]] + _MULTIS[:3]
    got = s2.s2_cover_polygons_np(polys, max_level=10, max_cells=256)
    want = ([_unsigned(c) for c in _LOOP_COVERS[(10, 256)][:12]]
            + list(_MULTI_COVERS[(10, 256)][:3]))
    for k, (g, w) in enumerate(zip(got, want)):
        assert np.array_equal(g, w), k


def test_s2_cover_empty_inputs():
    assert s2.s2_cover_polygons_np([]) == []
    (cover,) = s2.s2_cover_polygons_np([[]])
    assert cover.dtype == np.int64 and len(cover) == 0
    assert s2.s2_cover_caps_np([], [], []) == []


def test_cell_union_normalize_drops_exactly_the_nested_cells():
    rng = np.random.default_rng(7)
    leaves = s2.s2_from_latlon_np(rng.uniform(-80, 80, 60),
                                  rng.uniform(-180, 180, 60))
    cells = np.unique(np.concatenate([
        s2.s2_parent_np(leaves, int(lv))
        for lv in rng.integers(0, 12, 60)]))
    got = s2.s2_cell_union_normalize_np(cells)
    rn, rx = s2.s2_range_np(cells)
    urn, urx = rn.view(np.uint64), rx.view(np.uint64)
    nested = np.array([
        ((urn <= urn[k]) & (urx >= urx[k])
         & (np.arange(len(cells)) != k)).any() for k in range(len(cells))])
    assert np.array_equal(got, _unsigned(cells[~nested]))


def _planar_case():
    off = _FIX["planar_ring_off"]
    rings = [_FIX["planar_ring_xy"][off[k]:off[k + 1]]
             for k in range(len(off) - 1)]
    n = _FIX["planar_poly_nrings"]
    polys = [rings[f:f + c] for f, c in zip(np.cumsum(n) - n, n)]
    r = _FIX["planar_rects"]
    return r, _FIX["planar_rect_poly"], polys, _FIX["planar_keep"]


def test_planar_keep_mask_matches_pinned():
    r, poly, polys, keep = _planar_case()
    got = G.rects_intersect_polygons(r[:, 0], r[:, 1], r[:, 2], r[:, 3],
                                     poly, polys)
    assert np.array_equal(got, keep)
    perm = np.random.default_rng(3).permutation(len(r))
    got = G.rects_intersect_polygons(r[perm, 0], r[perm, 1], r[perm, 2],
                                     r[perm, 3], poly[perm], polys)
    assert np.array_equal(got, keep[perm])


def test_planar_chunking_is_invisible(monkeypatch):
    monkeypatch.setattr(G, "_EDGE_PAIR_BUDGET", 50)
    r, poly, polys, keep = _planar_case()
    got = G.rects_intersect_polygons(r[:, 0], r[:, 1], r[:, 2], r[:, 3],
                                     poly, polys)
    assert np.array_equal(got, keep)
