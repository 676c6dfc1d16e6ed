"""s2_distance_join (ST_DWithin analogue) — brute-force parity against
an independent numpy haversine referee, scale guards, plan shape, and
the fp-tie margin that makes the registry entry's BOOLEAN refine
cross-engine-stable (the raw distances would not hash-match; the
candidate set provably can, because s2_cover_cap_np never prunes an
intersecting leaf and the synthetic lattice keeps every pair far from
the threshold).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark import queries as Q
from osm_io_spark.functions.geometry import EARTH_RADIUS_M
from osm_io_spark.operators import spatial_join as SJ
from osm_io_spark.plans import audit as A

# three sites with distinct hard geometry: a cube-face corner (41N 45E
# is near the face-1/2/5 junction), the antimeridian at high southern
# latitude, and the equator/prime-meridian face center
_SITES = ((0, 41.0, 45.0), (1, -70.0, -180.0), (2, 0.0, 0.0))
_RADIUS_M = 5e5


def _probe_grid():
    """Deterministic global pseudo-grid, dense enough that every site
    has both inside and outside points."""
    i = np.arange(6000, dtype=np.int64)
    lat = ((i * 37 + 11) % 1500) / 10.0 - 75.0
    lon = ((i * 73 + 5) % 3600) / 10.0 - 180.0
    return i, lat, lon


def _haversine_np(lat1, lon1, lat2, lon2):
    la1, lo1, la2, lo2 = map(np.radians, (lat1, lon1, lat2, lon2))
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def _brute_pairs():
    i, lat, lon = _probe_grid()
    out = set()
    for sid, slat, slon in _SITES:
        d = _haversine_np(lat, lon, slat, slon)
        # the synthesis must keep every pair far from the threshold, or
        # sub-ulp libm differences could flip the boolean between numpy
        # and the JVM — 10 m is ~9 orders of magnitude above that noise
        assert np.abs(d - _RADIUS_M).min() > 10.0
        for pid in i[d <= _RADIUS_M]:
            out.add((sid, int(pid)))
    return out


def _frames(spark):
    i, lat, lon = _probe_grid()
    probe = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(i, lat, lon)],
        "img_id long, lat double, lon double").repartition(8)
    # duplicate site rows on purpose: the operator must key covers on
    # DISTINCT sites (base tables in this repo carry dup keys)
    rows = [(int(s), float(a), float(b)) for s, a, b in _SITES]
    sites = spark.createDataFrame(
        rows + rows[:1], "site_id long, slat double, slon double")
    return probe, sites


def test_brute_force_parity(spark):
    probe, sites = _frames(spark)
    out = SJ.s2_distance_join(probe, sites, _RADIUS_M)
    got = {(r["site_id"], r["img_id"]) for r in out.collect()}
    assert got == _brute_pairs()


def test_dist_column_matches_referee(spark):
    probe, sites = _frames(spark)
    out = SJ.s2_distance_join(probe, sites, _RADIUS_M).collect()
    lat = {r["img_id"]: r["lat"] for r in out}
    s = {sid: (la, lo) for sid, la, lo in _SITES}
    for r in out:
        sla, slo = s[r["site_id"]]
        want = _haversine_np(np.float64(r["lat"]), np.float64(r["lon"]),
                             np.float64(sla), np.float64(slo))
        assert abs(r["dist_m"] - float(want)) < 1e-6
        assert r["dist_m"] <= _RADIUS_M


def test_empty_result_keeps_schema(spark):
    probe, sites = _frames(spark)
    out = SJ.s2_distance_join(
        probe.filter(F.col("lat") > 80.0), sites, _RADIUS_M)
    assert out.count() == 0
    assert {"site_id", "img_id", "dist_m"} <= set(out.columns)


def test_max_sites_guard_raises(spark):
    probe, sites = _frames(spark)
    with pytest.raises(ValueError, match="max_sites"):
        SJ.s2_distance_join(probe, sites, _RADIUS_M, max_sites=2)


def test_plan_is_broadcast_only_no_cartesian(spark):
    """The scale contract: every join in the plan is a broadcast hash
    equi-join (the ancestor-key containment join + the site lookup);
    the probe side never meets a cartesian/nested-loop or sort-merge
    node."""
    df = Q.QUERIES["s2_distance_join"](spark, "/root/testdata/sf0.001")
    plan = A.formatted_plan(df)
    assert A.count_op(plan, "CartesianProduct") == 0
    assert A.count_op(plan, "BroadcastNestedLoopJoin") == 0
    assert A.count_op(plan, "SortMergeJoin") == 0
    assert A.count_op(plan, "BroadcastHashJoin") >= 2


def test_registry_threshold_margin():
    """The registry entry's fp-tie headroom, re-derived from first
    principles in DuckDB at BOTH parity scales: the nearest (site,
    image) distance to the 3e5 m threshold stays > 100 m — ~12 orders
    of magnitude above cross-engine libm noise, so the refine boolean
    (the only trig-dependent bit in the oracled output) is stable."""
    import duckdb
    for sf, floor in (("sf0.001", 1000.0), ("sf0.01", 100.0)):
        con = duckdb.connect()
        for t in ("lineitem", "nation"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('/root/testdata/{sf}/{t}.parquet')")
        margin = con.execute(f"""
WITH images AS ({Q.IMAGES_SQL}), sites AS ({Q.SITES_SQL}),
d AS (
  SELECT sin(radians(i.lat - s.slat) / 2) AS sa,
         cos(radians(s.slat)) * cos(radians(i.lat)) AS cc,
         sin(radians(i.lon - s.slon) / 2) AS sb
  FROM sites s CROSS JOIN images i)
SELECT min(abs(
  2 * 6.3710088e6 * asin(sqrt(least(sa * sa + cc * sb * sb, 1e0))) - 3e5))
FROM d""").fetchone()[0]
        assert margin > floor, (sf, margin)
