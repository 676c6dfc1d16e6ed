"""Exact planar kNN (operators/knn.knn_join, J9) on every route of the
shared driver — small-build kernel, pure rounds, rounds + residue
finish — against an all-pairs brute force under the identical metric
(dlat² + dlon², summed in the same order) and tie-break (build id)."""

from __future__ import annotations

import numpy as np
import pytest

from osm_io_spark.operators import knn as KNN
from osm_io_spark.plans import audit as A

# route → (_SMALL_BUILD, _FINISH); the defaults route these tables to
# the small-build kernel, so the rounds are forced by monkeypatching
ROUTES = {"small": (KNN._SMALL_BUILD, KNN._FINISH),
          "rounds": (-1, 0),
          "finish": (-1, 10_000)}


def _route(monkeypatch, route):
    small, finish = ROUTES[route]
    monkeypatch.setattr(KNN, "_SMALL_BUILD", small)
    monkeypatch.setattr(KNN, "_FINISH", finish)


def _brute(probe_rows, build_rows, k):
    """All-pairs kNN over DISTINCT (pid, bid) pairs, ties by bid."""
    builds = {bid: (la, lo) for bid, la, lo in build_rows}
    want = {}
    for pid, plat, plon in probe_rows:
        d = sorted(((plat - la) * (plat - la) + (plon - lo) * (plon - lo),
                    bid) for bid, (la, lo) in builds.items())
        want[pid] = [(rank + 1, bid, dd)
                     for rank, (dd, bid) in enumerate(d[:k])]
    return want


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(5)
    # grid-snapped points: many probes have several builds at exactly
    # the k-th distance, so the build-id tie-break decides the cut
    snap = 7.5
    probe_rows = [(int(i), float(rng.integers(-10, 11) * snap),
                   float(rng.integers(-23, 24) * snap)) for i in range(150)]
    build_rows = [(int(j), float(rng.integers(-10, 11) * snap),
                   float(rng.integers(-23, 24) * snap)) for j in range(120)]
    # probes on both sides of the antimeridian (the ring wraps, the
    # metric does not)
    probe_rows += [(1000, 10.0, 179.9), (1001, -10.0, -179.9)]
    # duplicate keys, as in the base tables
    probe_rows += probe_rows[:8]
    build_rows += build_rows[:12]
    probe = spark.createDataFrame(probe_rows,
                                  "img_id long, lat double, lon double")
    build = spark.createDataFrame(build_rows,
                                  "polygon_id long, clat double, clon double")
    return probe_rows, build_rows, probe.cache(), build.cache()


@pytest.mark.parametrize("route", sorted(ROUTES))
@pytest.mark.parametrize("k", [1, 4])
def test_knn_join_matches_brute_force(spark, tables, monkeypatch, route, k):
    probe_rows, build_rows, probe, build = tables
    _route(monkeypatch, route)
    out = KNN.knn_join(probe, build, k=k, res=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["img_id"], []).append(
            (r["rank"], r["polygon_id"], r["dist_sq"]))
    want = _brute(probe_rows, build_rows, k)
    assert {p: sorted(g) for p, g in got.items()} == want


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_knn_join_k_exceeds_build_count(spark, monkeypatch, route):
    _route(monkeypatch, route)
    probe = spark.createDataFrame([(1, 10.0, 10.0), (1, 10.0, 10.0)],
                                  "img_id long, lat double, lon double")
    build = spark.createDataFrame(
        [(7, 11.0, 11.0), (3, -40.0, 170.0), (7, 11.0, 11.0)],
        "polygon_id long, clat double, clon double")
    out = KNN.knn_join(probe, build, k=5, res=4).collect()
    assert sorted((r["img_id"], r["rank"], r["polygon_id"]) for r in out) \
        == [(1, 1, 7), (1, 2, 3)]


@pytest.mark.parametrize("delta, rounds", [(0, False), (-1, True)])
def test_small_build_route_boundary(spark, tables, monkeypatch, delta,
                                    rounds):
    """The kernel serves builds of up to _SMALL_BUILD rows (duplicates
    counted); one row more and the rounds run. The kernel's plan is one
    MapInPandas over the probes; the rounds return a checkpointed RDD."""
    _, build_rows, probe, build = tables
    monkeypatch.setattr(KNN, "_SMALL_BUILD", len(build_rows) + delta)
    out = KNN.knn_join(probe, build, k=2, res=3)
    assert A.count_op(A.formatted_plan(out), "MapInPandas") == (not rounds)
