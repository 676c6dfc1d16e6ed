"""Distributed DBSCAN (operators/cluster) — brute-force numpy referee,
hand-built role fixture, scale guard, and synthetic-corpus shape.

The registry entry `spatial_dbscan` additionally gets full cross-engine
hash parity in tests/test_oracle_parity.py (recursive-CTE oracle); the
referee here re-derives roles and labels from first principles so a
convention bug that flipped BOTH engines the same way would still be
caught.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from osm_io_spark import queries as Q
from osm_io_spark.operators import cluster as CL

SF_DIR = "/root/testdata/sf0.001"


def brute_dbscan(ids, lats, lons, eps, min_pts):
    """O(n²) reference: returns {pt_id: (role, cluster_id)}."""
    ids = np.asarray(ids, np.int64)
    P = np.stack([np.asarray(lats, np.float64),
                  np.asarray(lons, np.float64)], axis=1)
    n = len(ids)
    d2 = ((P[:, None, :] - P[None, :, :]) ** 2).sum(axis=2)
    adj = d2 <= eps * eps  # includes self (d2=0)
    core = adj.sum(axis=1) >= min_pts
    # union-find over core-core edges
    parent = np.arange(n)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ci = np.where(core)[0]
    cc_adj = np.triu(adj, 1) & core[:, None] & core[None, :]
    for i, j in np.argwhere(cc_adj):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    comps: dict[int, list[int]] = {}
    for i in ci:
        comps.setdefault(find(i), []).append(i)
    label = {}
    for members in comps.values():
        lab = int(ids[members].min())
        for m in members:
            label[m] = lab
    out = {}
    for i in range(n):
        if core[i]:
            out[int(ids[i])] = ("core", label[i])
        else:
            nbr_core = [j for j in ci if adj[i, j] and j != i]
            if nbr_core:
                out[int(ids[i])] = (
                    "border", min(label[j] for j in nbr_core))
            else:
                out[int(ids[i])] = ("noise", -1)
    return out


def test_hand_fixture_roles(spark):
    """5 tight points (core clique), one fringe point within eps of one
    core point only (border), one isolated point (noise); min_pts=4."""
    rows = [(1, 10.0, 10.0), (2, 10.1, 10.0), (3, 10.0, 10.1),
            (4, 10.1, 10.1), (5, 10.05, 10.05),
            (6, 10.0, 10.55),      # within 0.5 of cores 3/4 only:
                                   # 3 points in its ball < min_pts
                                   # → border of cluster 1
            (7, 40.0, -120.0)]     # noise
    df = spark.createDataFrame(rows, "pt_id LONG, lat DOUBLE, lon DOUBLE")
    got = {r["pt_id"]: (r["role"], r["cluster_id"])
           for r in CL.dbscan(df, eps=0.5, min_pts=4).collect()}
    assert got[1] == ("core", 1)
    for p in (2, 3, 4, 5):
        assert got[p] == ("core", 1), (p, got[p])
    assert got[6] == ("border", 1)
    assert got[7] == ("noise", -1)


def test_matches_brute_force_on_synthetic_corpus(spark):
    """Full distributed result == O(n²) numpy referee at sf0.001."""
    pts = Q.dbscan_points(spark, SF_DIR).toPandas()
    assert len(pts) > 50, "corpus subsample unexpectedly empty"
    want = brute_dbscan(pts.pt_id, pts.lat, pts.lon,
                        Q._DBSCAN_EPS, Q._DBSCAN_MIN_PTS)
    got = {r["pt_id"]: (r["role"], r["cluster_id"])
           for r in Q.q_spatial_dbscan(spark, SF_DIR).collect()}
    assert got == want


def test_corpus_exercises_all_three_roles_at_sf001(spark):
    """At sf0.01 (the driver's parity scale) the deterministic corpus
    must keep producing a core/border/noise mix and many clusters —
    otherwise the parity gate stops testing the interesting paths
    (this pins the synthesis constants; sf0.001 is too sparse for
    borders — measured: 46 core / 113 noise / 0 border there)."""
    out = Q.q_spatial_dbscan(spark, "/root/testdata/sf0.01").toPandas()
    roles = set(out.role)
    assert roles == {"core", "border", "noise"}, roles
    n_clusters = out[out.cluster_id >= 0].cluster_id.nunique()
    assert n_clusters >= 20, n_clusters


def test_candidate_volume_guard_raises(spark):
    rows = [(i, 10.0 + (i % 7) * 1e-4, 10.0 + (i // 7) * 1e-4)
            for i in range(100)]
    df = spark.createDataFrame(rows, "pt_id LONG, lat DOUBLE, lon DOUBLE")
    with pytest.raises(RuntimeError, match="candidate pairs"):
        CL.dbscan(df, eps=0.5, min_pts=4, max_candidate_pairs=1000)


def test_guard_reports_exact_candidate_volume(spark):
    """stats['candidate_pairs'] is the EXACT directed candidate count:
    100 co-located points → 100·100 directed cell-pairs (9 fan-out
    cells, 1 occupied)."""
    rows = [(i, 10.0 + (i % 7) * 1e-4, 10.0 + (i // 7) * 1e-4)
            for i in range(100)]
    df = spark.createDataFrame(rows, "pt_id LONG, lat DOUBLE, lon DOUBLE")
    stats: dict = {}
    CL.dbscan(df, eps=0.5, min_pts=4, stats=stats).count()
    assert stats["candidate_pairs"] == 100 * 100


def test_grid_res_covering_bound():
    """Cell height at the chosen res must be ≥ eps (the 3×3-disk
    covering argument) and the next finer res must violate it
    (coarsest-valid = fewest candidate cells)."""
    for eps in (0.01, 0.1, 0.5, 1.0, 5.0, 44.9, 90.0, 180.0):
        res = CL._grid_res(eps)
        assert 180.0 / (1 << res) >= eps
        if res < 15:
            assert 180.0 / (1 << (res + 1)) < eps


def test_fine_res_diagonal_bound_at_powers_of_two():
    """At eps on a power-of-two boundary, and one ulp below it, the
    chosen fine cell's diagonal must be ≤ eps (a float log2 that rounds
    down picks a cell one level too coarse) and the next coarser cell's
    diagonal must exceed it (coarsest valid)."""
    for k in (3, 7, 10, 13, 17, 20, 24):
        edge = 180.0 * math.sqrt(5.0) / 2 ** k
        for eps in (edge, math.nextafter(edge, 0.0)):
            r = CL._fine_res(eps)
            assert 180.0 * math.sqrt(5.0) / (1 << r) <= eps, (k, eps, r)
            assert 180.0 * math.sqrt(5.0) / (1 << (r - 1)) > eps, (k, r)


def test_eps_too_wide_for_3x3_fanout_raises(spark):
    """eps > 45° gives a grid of fewer than 3 columns, where the ±1
    longitude offsets wrap onto the same column and would double-count
    neighbours: rejected before any job runs."""
    df = spark.createDataFrame([(1, 0.0, 0.0), (2, 0.0, 60.0)],
                               "pt_id LONG, lat DOUBLE, lon DOUBLE")
    with pytest.raises(ValueError, match="3 grid columns"):
        CL.dbscan(df, eps=50.0, min_pts=2)


def test_dissolve_hand_fixture(spark):
    """Chain A-B-C (A overlaps B, B overlaps C, A does NOT overlap C:
    transitivity must come from the closure), plus an isolated rect and
    an exact-duplicate pair sharing one id."""
    rows = [(1, 0.0, 0.0, 1.0, 1.0),
            (2, 0.8, 0.0, 1.8, 1.0),    # overlaps 1 and 3
            (3, 1.6, 0.0, 2.6, 1.0),    # overlaps 2 only
            (9, 50.0, 50.0, 50.5, 50.5),
            (7, -10.0, -10.0, -9.0, -9.5),
            (7, -10.0, -10.0, -9.0, -9.5)]
    df = spark.createDataFrame(
        rows, "polygon_id LONG, left DOUBLE, bottom DOUBLE, "
              "right DOUBLE, top DOUBLE")
    from osm_io_spark.operators import cluster as CL
    got = {r["component_id"]: r.asDict()
           for r in CL.dissolve_rects(df, res=10).collect()}
    assert set(got) == {1, 9, 7}
    c = got[1]
    assert c["n_members"] == 3
    assert (c["left"], c["bottom"], c["right"], c["top"]) == (0.0, 0.0, 2.6, 1.0)
    assert c["area_u"] == 3 * 10**10  # three unit squares
    assert got[9]["n_members"] == 1
    # duplicate rows of the same id: both counted, area doubled
    assert got[7]["n_members"] == 2
    assert got[7]["area_u"] == 2 * round(1.0 * 0.5 * 1e10)


def test_dissolve_matches_brute_force(spark):
    """Distributed dissolve == numpy union-find referee on the
    registry's two-generation corpus at sf0.001."""
    pdf = Q.q_overlap_dissolve(spark, SF_DIR).toPandas()
    rects = Q.rect_polygons(spark, SF_DIR).select(
        "polygon_id", "left", "bottom", "right", "top").toPandas()
    import pandas as pd
    twin = rects.copy()
    twin.polygon_id += 100000000
    twin[["left", "right"]] += 0.7
    twin[["bottom", "top"]] += 0.3
    allr = pd.concat([rects, twin], ignore_index=True)
    ids = allr.polygon_id.to_numpy(np.int64)
    L, B = allr.left.to_numpy(), allr.bottom.to_numpy()
    R, T = allr.right.to_numpy(), allr.top.to_numpy()
    uniq = np.unique(ids)
    idx = {int(i): k for k, i in enumerate(uniq)}
    parent = np.arange(len(uniq))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    n = len(allr)
    for i in range(n):
        for j in range(i + 1, n):
            if ids[i] != ids[j] and L[i] < R[j] and L[j] < R[i] \
                    and B[i] < T[j] and B[j] < T[i]:
                ri, rj = find(idx[int(ids[i])]), find(idx[int(ids[j])])
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp = {}
    for k, i in enumerate(uniq):
        root = find(k)
        comp[int(i)] = int(uniq[[m for m in range(len(uniq))
                                 if find(m) == root]].min())
    want = {}
    for r in allr.itertuples():
        c = comp[int(r.polygon_id)]
        w = want.setdefault(c, [0, np.inf, np.inf, -np.inf, -np.inf, 0])
        w[0] += 1
        w[1] = min(w[1], r.left)
        w[2] = min(w[2], r.bottom)
        w[3] = max(w[3], r.right)
        w[4] = max(w[4], r.top)
        w[5] += int(np.floor((r.right - r.left) * (r.top - r.bottom)
                             * 1e10 + 0.5))
    got = {int(r.component_id): [int(r.n_members), r.left, r.bottom,
                                 r.right, r.top, int(r.area_u)]
           for r in pdf.itertuples()}
    assert got == want


def test_min_pts_one_everything_core(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 50.0, 50.0)],
        "pt_id LONG, lat DOUBLE, lon DOUBLE")
    got = {r["pt_id"]: (r["role"], r["cluster_id"])
           for r in CL.dbscan(df, eps=0.5, min_pts=1).collect()}
    # isolated singletons: core of their own one-point cluster
    assert got == {1: ("core", 1), 2: ("core", 2)}
