"""Exact spherical kNN on the S2 index (round 5): hierarchical
ancestor-annulus expansion with the edge-great-circle settle bound,
verified against an all-pairs numpy brute force under the identical
metric (squared chord) and tie-break (build id)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import s2 as S2
from osm_io_spark.operators import knn as KNN


def _xyz(lat, lon):
    return np.stack(S2._latlon_xyz_np(np.asarray(lat, float),
                                      np.asarray(lon, float)), axis=1)


def _brute(probe_rows, build_rows, k):
    """All-pairs squared-chord kNN, DISTINCT (pid, bid) pairs, ties by
    bid — the same contract as SQL_J9's oracle."""
    want = {}
    bids = {}
    for bid, blat, blon in build_rows:
        bids[bid] = (blat, blon)  # dup bid rows have identical coords
    b_ids = sorted(bids)
    bv = _xyz([bids[i][0] for i in b_ids], [bids[i][1] for i in b_ids])
    pids = {}
    for pid, plat, plon in probe_rows:
        pids[pid] = (plat, plon)
    for pid, (plat, plon) in pids.items():
        pv = _xyz([plat], [plon])[0]
        d = ((bv - pv) ** 2).sum(axis=1)
        order = sorted(range(len(b_ids)), key=lambda i: (d[i], b_ids[i]))
        want[pid] = [(rank + 1, b_ids[i]) for rank, i in
                     enumerate(order[:k])]
    return want


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(99)
    n_p, n_b = 400, 300
    plat = rng.uniform(-70, 70, n_p)
    plon = rng.uniform(-180, 180, n_p)
    # force probes ONTO face boundaries (lon 45 = face 0/1 edge; high
    # lat = face 2) so the coarsen path and the cross-face residue pass
    # genuinely execute
    plat[:20] = rng.uniform(-5, 5, 20)
    plon[:20] = 45.0 + rng.uniform(-0.01, 0.01, 20)
    plat[20:30] = rng.uniform(88.0, 89.9, 10)
    blat = rng.uniform(-70, 70, n_b)
    blon = rng.uniform(-180, 180, n_b)
    probe_rows = [(int(i), float(plat[i]), float(plon[i]))
                  for i in range(n_p)]
    build_rows = [(int(j), float(blat[j]), float(blon[j]))
                  for j in range(n_b)]
    # duplicate-key rows (the SQL_J9 dup-awareness contract)
    build_rows += build_rows[:15]
    probe_rows += probe_rows[:10]
    probe = spark.createDataFrame(probe_rows,
                                  "img_id long, lat double, lon double")
    build = spark.createDataFrame(build_rows,
                                  "polygon_id long, clat double, clon double")
    return probe_rows, build_rows, probe.cache(), build.cache()


# mode → (_SMALL_BUILD, _FINISH), monkeypatched: the defaults route
# these tables to the small-build kernel
MODES = {"auto": (KNN._SMALL_BUILD, KNN._FINISH),
         # pure rounds; the residue pass after level 0 searches the
         # other faces for the face-boundary probes
         "rounds": (-1, 0),
         # rounds + the residue pass firing after the first round
         "finish": (-1, 10_000)}


def _mode(monkeypatch, mode):
    small, finish = MODES[mode]
    monkeypatch.setattr(KNN, "_SMALL_BUILD", small)
    monkeypatch.setattr(KNN, "_FINISH", finish)


@pytest.mark.parametrize("k,start_level,mode", [
    (4, 5, "rounds"), (1, 3, "rounds"), (4, 5, "auto"),
    (4, 5, "finish"), (1, 3, "finish"),
])
def test_s2_knn_matches_brute_force(spark, tables, monkeypatch, k,
                                    start_level, mode):
    probe_rows, build_rows, probe, build = tables
    _mode(monkeypatch, mode)
    out = KNN.s2_knn_join(probe, build, k=k, start_level=start_level)
    got = {}
    for r in out.collect():
        got.setdefault(r["img_id"], []).append(
            (r["rank"], r["polygon_id"], r["chord_sq"]))
    want = _brute(probe_rows, build_rows, k)
    assert set(got) == set(want)
    for pid, w in want.items():
        g = sorted(got[pid])
        assert [(rk, bid) for rk, bid, _ in g] == w, pid
        # the reported metric is the true squared chord
        for (rk, bid, ch), (rk2, bid2) in zip(g, w):
            pv = _xyz([dict((p, (a, b)) for p, a, b in probe_rows)[pid][0]],
                      [dict((p, (a, b)) for p, a, b in probe_rows)[pid][1]])[0]
            bd = dict((q, (a, b)) for q, a, b in build_rows)[bid]
            dd = float(((_xyz([bd[0]], [bd[1]])[0] - pv) ** 2).sum())
            assert abs(ch - dd) < 1e-9


@pytest.mark.parametrize("mode", ["auto", "rounds"])
def test_s2_knn_k_exceeds_build_count(spark, monkeypatch, mode):
    _mode(monkeypatch, mode)
    probe = spark.createDataFrame([(1, 10.0, 10.0)],
                                  "img_id long, lat double, lon double")
    build = spark.createDataFrame(
        [(1, 11.0, 11.0), (2, -40.0, 170.0)],
        "polygon_id long, clat double, clon double")
    out = KNN.s2_knn_join(probe, build, k=5, start_level=3).collect()
    assert [(r["rank"], r["polygon_id"]) for r in
            sorted(out, key=lambda r: r["rank"])] == [(1, 1), (2, 2)]
