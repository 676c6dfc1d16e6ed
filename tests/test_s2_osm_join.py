"""Round-5 verdict tasks #3/#4: OSM-assembled polygons through the
spherical S2 cover join, with inner-ring (hole) support.

- even-odd multi-ring winding PIP unit semantics (holes punch, islands
  in holes re-add);
- holed-polygon cover completeness (dense region sample ⊆ cover);
- the full distributed spine (assemble → s2_cover_polygons →
  s2_containment_join → s2_refine_rings) against an all-pairs numpy
  brute force over the SAME spherical kernel — proving the cover +
  hierarchical join drop no candidate and the refine keeps exactly the
  winding-inside set.

Reference semantics: multipolygon inner/outer roles,
/root/reference/src/osm/model/relation.rs:3-49.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import s2 as S2
from osm_io_spark.operators import assemble as A
from osm_io_spark.operators import spatial_join as SJ
from osm_io_spark.sources import synth
from osm_io_spark.sources.pbf import decode as D
from osm_io_spark.sources.pbf import encode as E
from tests.test_pbf_roundtrip import _to_elements_df

BBOX = (-170.16, -19.35, -169.56, -18.75)  # niue-like fixture window


def _ring_xyz(lats, lons):
    return np.stack(S2._latlon_xyz_np(np.asarray(lats, np.float64),
                                      np.asarray(lons, np.float64)), axis=1)


def test_point_in_spherical_rings_even_odd():
    outer = _ring_xyz([10.0, 10.0, 14.0, 14.0], [10.0, 14.0, 14.0, 10.0])
    hole = _ring_xyz([11.0, 11.0, 13.0, 13.0], [11.0, 13.0, 13.0, 11.0])
    island = _ring_xyz([11.8, 11.8, 12.2, 12.2], [11.8, 12.2, 12.2, 11.8])
    # points: ring area, in-hole-outside-island, dead center, outside
    lats = np.array([10.5, 12.5, 12.0, 15.0])
    lons = np.array([12.0, 12.0, 12.0, 12.0])
    px, py, pz = S2._latlon_xyz_np(lats, lons)
    # single ring: both interior points inside
    r1 = S2.point_in_spherical_rings_np(px, py, pz, [outer])
    assert r1.tolist() == [True, True, True, False]
    # hole punches the center out
    r2 = S2.point_in_spherical_rings_np(px, py, pz, [outer, hole])
    assert r2.tolist() == [True, False, False, False]
    # island inside the hole re-adds the very center (even-odd)
    r3 = S2.point_in_spherical_rings_np(px, py, pz, [outer, hole, island])
    assert r3.tolist() == [True, False, True, False]
    # ring orientation must not matter (OSM rings are arbitrary): same
    # answers with every loop reversed
    r4 = S2.point_in_spherical_rings_np(
        px, py, pz, [outer[::-1], hole[::-1], island[::-1]])
    assert r4.tolist() == r3.tolist()


def test_cell_union_normalize():
    """Ancestor-free normalization: descendants drop, disjoint cells
    survive, ancestors win regardless of input order — including on
    face 4/5 ids (negative in the signed view)."""
    leaf_a = S2.s2_from_latlon_np([40.0], [-100.0])   # face 4 (negative)
    leaf_b = S2.s2_from_latlon_np([-40.0], [100.0])
    anc = int(S2.s2_parent_np(leaf_a, 5)[0])
    desc = int(S2.s2_parent_np(leaf_a, 12)[0])
    other = int(S2.s2_parent_np(leaf_b, 7)[0])
    for order in ([desc, anc, other], [anc, desc, other],
                  [other, desc, anc]):
        out = S2.s2_cell_union_normalize_np(np.array(order, np.int64))
        assert set(out.tolist()) == {anc, other}, order
    # idempotent on an already-normal set
    out2 = S2.s2_cell_union_normalize_np(np.array([anc, other], np.int64))
    assert set(out2.tolist()) == {anc, other}


def test_holed_cover_completeness():
    """Every point of the even-odd region (incl. arbitrarily near the
    hole boundary) must fall inside some cover cell."""
    rings = [
        (np.array([10.0, 10.0, 14.0, 14.0, 10.0]),
         np.array([10.0, 14.0, 14.0, 10.0, 10.0])),  # closed outer
        (np.array([11.0, 11.0, 13.0, 13.0]),
         np.array([11.0, 13.0, 13.0, 11.0])),
    ]
    cover = S2.s2_cover_rings_np(rings, max_level=8, max_cells=128)
    assert 0 < len(cover) <= 128
    rn, rx = S2.s2_range_np(cover)
    g = np.linspace(10.01, 13.99, 60)
    glat, glon = np.meshgrid(g, g)
    px, py, pz = S2._latlon_xyz_np(glat.ravel(), glon.ravel())
    ring_vecs = [_ring_xyz(la, lo) for la, lo in rings]
    inside = S2.point_in_spherical_rings_np(px, py, pz, ring_vecs)
    leafs = S2.s2_from_xyz_np(px, py, pz)[inside]
    covered = ((leafs[:, None] >= rn[None, :])
               & (leafs[:, None] <= rx[None, :])).any(axis=1)
    assert covered.all(), f"{(~covered).sum()} region points uncovered"


@pytest.fixture(scope="module")
def assembled(spark, tmp_path_factory):
    nodes, ways, relations, _ = synth.osm_elements_local(
        seed=42, n_nodes=900, n_ways=60, n_relations=8)
    path = str(tmp_path_factory.mktemp("s2spine") / "f.osm.pbf")
    E.write_pbf(_to_elements_df(spark, nodes, ways, relations), path)
    els = D.read_pbf(spark, path)
    polys = A.assemble_polygons(els)
    polys.cache()
    return polys


@pytest.fixture(scope="module")
def probe(spark):
    n = 3000
    df = spark.range(n).select(F.col("id").alias("img_id"))
    lat = (F.expr("CAST((img_id * 2654435761) % 1000000 AS DOUBLE) / 1e6")
           * F.lit(0.6) - F.lit(19.35))
    lon = (F.expr("CAST((img_id * 2971215073) % 1000000 AS DOUBLE) / 1e6")
           * F.lit(0.6) - F.lit(170.16))
    return df.select("img_id", lat.alias("lat"), lon.alias("lon")).cache()


def _brute_pairs(polys_rows, probe_pdf):
    """All-pairs spherical winding — no cover, no join."""
    px, py, pz = S2._latlon_xyz_np(probe_pdf["lat"].to_numpy(),
                                   probe_pdf["lon"].to_numpy())
    ids = probe_pdf["img_id"].to_numpy()
    want = set()
    for row in polys_rows:
        rings = []
        for ring in row["rings"]:
            la = np.array([p["lat"] for p in ring], np.float64)
            lo = np.array([p["lon"] for p in ring], np.float64)
            if len(la) > 1 and la[0] == la[-1] and lo[0] == lo[-1]:
                la, lo = la[:-1], lo[:-1]
            rings.append(np.stack(S2._latlon_xyz_np(la, lo), axis=1))
        hit = S2.point_in_spherical_rings_np(px, py, pz, rings)
        for i in ids[hit]:
            want.add((int(i), int(row["polygon_id"]), row["source"]))
    return want


def test_s2_spine_matches_brute_force(spark, assembled, probe):
    got_df = SJ.s2_spatial_join_polygons(probe, assembled, max_level=14,
                                         max_cells=64)
    rows = got_df.collect()
    got = [(r["img_id"], r["polygon_id"], r["source"]) for r in rows]
    assert len(got) == len(set(got))  # candidates are duplicate-free
    want = _brute_pairs(assembled.collect(), probe.toPandas())
    assert set(got) == want
    assert len(want) > 0  # the fixture must actually exercise the join


def test_s2_spine_shuffled_dim_matches_broadcast(spark, assembled, probe):
    """r5 review: the rings dim was force-broadcast unconditionally —
    at planet scale (~10^8 polygons × KBs of ring vertices each) that OOMs
    one stage after the covers were distributed for exactly that
    reason. Past the row gate the dim joins shuffled; results must be
    identical either way."""
    def key(r):
        return (r["img_id"], r["polygon_id"], r["source"])
    base = SJ.s2_spatial_join_polygons(probe, assembled)
    shuffled = SJ.s2_spatial_join_polygons(probe, assembled,
                                           broadcast_dim=False)
    auto_off = SJ.s2_spatial_join_polygons(probe, assembled,
                                           max_broadcast_dim_rows=0)
    want = sorted(map(key, base.collect()))
    assert sorted(map(key, shuffled.collect())) == want
    assert sorted(map(key, auto_off.collect())) == want


def test_s2_spine_multipolygon_holes(spark):
    """A relation polygon with an inner ring: probe points in the hole
    must NOT match; points in the ring area must."""
    rows = [
        (7, "relation",
         [[{"lon": 10.0, "lat": 10.0}, {"lon": 14.0, "lat": 10.0},
           {"lon": 14.0, "lat": 14.0}, {"lon": 10.0, "lat": 14.0},
           {"lon": 10.0, "lat": 10.0}],
          [{"lon": 11.0, "lat": 11.0}, {"lon": 13.0, "lat": 11.0},
           {"lon": 13.0, "lat": 13.0}, {"lon": 11.0, "lat": 13.0},
           {"lon": 11.0, "lat": 11.0}]],
         10.0, 10.0, 14.0, 14.0, []),
    ]
    from osm_io_spark import schemas
    polys = spark.createDataFrame(rows, schemas.POLYGONS)
    pts = spark.createDataFrame(
        [(1, 12.0, 12.0), (2, 10.5, 12.0), (3, 13.5, 13.5), (4, 20.0, 20.0)],
        "img_id long, lat double, lon double")
    got = {r["img_id"] for r in
           SJ.s2_spatial_join_polygons(pts, polys).collect()}
    assert got == {2, 3}


def test_registry_query_runs(spark):
    from osm_io_spark import queries as Q
    out = Q.q_s2_osm_polygon_join(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["n_images"] > 0 for r in rows)
