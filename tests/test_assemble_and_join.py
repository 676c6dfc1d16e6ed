"""The engine spine end-to-end: PBF fixture → decode → polygon assembly
→ cell cover → spatial join + PIP refine — output compared bit-for-bit
against a single-node numpy brute force (FIXTURES.md §8 join_golden).
Also proves the salted join returns the identical row set."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import geometry as G
from osm_io_spark.operators import assemble as A
from osm_io_spark.operators import spatial_join as SJ
from osm_io_spark.sources import synth
from osm_io_spark.sources.pbf import decode as D
from osm_io_spark.sources.pbf import encode as E
from tests.test_pbf_roundtrip import _to_elements_df

BBOX = (-170.16, -19.35, -169.56, -18.75)  # niue-like fixture window


@pytest.fixture(scope="module")
def assembled(spark, tmp_path_factory):
    nodes, ways, relations, _ = synth.osm_elements_local(
        seed=42, n_nodes=900, n_ways=60, n_relations=8)
    path = str(tmp_path_factory.mktemp("spine") / "f.osm.pbf")
    E.write_pbf(_to_elements_df(spark, nodes, ways, relations), path)
    els = D.read_pbf(spark, path)
    polys = A.assemble_polygons(els)
    polys.cache()
    return polys


@pytest.fixture(scope="module")
def probe(spark):
    n = 3000
    left, bottom, right, top = BBOX
    df = spark.range(n).select(F.col("id").alias("img_id"))
    lat = (F.expr("CAST((img_id * 2654435761) % 1000000 AS DOUBLE) / 1e6")
           * F.lit(top - bottom) + F.lit(bottom))
    lon = (F.expr("CAST((img_id * 2971215073) % 1000000 AS DOUBLE) / 1e6")
           * F.lit(right - left) + F.lit(left))
    return df.withColumn("lat", lat).withColumn("lon", lon)


def _rings_np(rings):
    return [np.array([(p["lon"], p["lat"]) for p in ring]) for ring in rings]


def _brute_force(polys_rows, probe_pdf):
    want = set()
    px = probe_pdf["lon"].to_numpy()
    py = probe_pdf["lat"].to_numpy()
    ids = probe_pdf["img_id"].to_numpy()
    for prow in polys_rows:
        inside = G.points_in_polygon(px, py, _rings_np(prow["rings"]))
        for i in np.flatnonzero(inside):
            want.add((int(ids[i]), int(prow["polygon_id"]), prow["source"]))
    return want


def test_assembly_shape(assembled):
    rows = assembled.collect()
    ways = [r for r in rows if r["source"] == "way"]
    rels = [r for r in rows if r["source"] == "relation"]
    assert len(ways) == 60 and len(rels) == 8
    for r in rows:
        for ring in r["rings"]:
            assert len(ring) >= 4
            assert ring[0] == ring[-1]  # closed
        assert r["left"] <= r["right"] and r["bottom"] <= r["top"]


def test_spatial_join_matches_brute_force(spark, assembled, probe):
    got_df = SJ.spatial_join_polygons(probe, assembled, res=12)
    got = {(int(r["img_id"]), int(r["polygon_id"]), r["source"])
           for r in got_df.select("img_id", "polygon_id", "source").collect()}
    want = _brute_force(assembled.collect(), probe.toPandas())
    assert got == want
    assert len(want) > 50  # fixture sanity: join is non-trivial


@pytest.mark.parametrize("res", [8, 10, 14])
def test_join_invariant_to_resolution(spark, assembled, probe, res):
    base = SJ.spatial_join_polygons(probe, assembled, res=12)
    other = SJ.spatial_join_polygons(probe, assembled, res=res)
    k = lambda df: sorted((int(r["img_id"]), int(r["polygon_id"]), r["source"])
                          for r in df.select("img_id", "polygon_id", "source").collect())
    assert k(base) == k(other)


def test_salted_join_identical(spark, assembled, probe):
    plain = SJ.spatial_join_polygons(probe, assembled, res=10)
    probe_cells = SJ.tag_probe_cells(probe, 10)
    hot = SJ.resolve_salt(probe_cells, "auto", None, threshold_rows=100)[1]
    assert hot, "fixture probe should have hot cells at res 10"
    salted = SJ.spatial_join_polygons(probe.withColumnRenamed("img_id", "image_id"),
                                      assembled, res=10, salt=4, hot=hot)
    a = sorted((int(r["img_id"]), int(r["polygon_id"]))
               for r in plain.select("img_id", "polygon_id").collect())
    b = sorted((int(r["image_id"]), int(r["polygon_id"]))
               for r in salted.select("image_id", "polygon_id").collect())
    assert a == b


def test_multipolygon_hole_semantics(spark):
    """A point inside an inner (hole) ring is NOT inside the relation
    polygon, but a point between outer and inner is."""
    nodes, ways, relations = [], [], []
    coords = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),      # outer
              (3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)]          # inner
    for i, (x, y) in enumerate(coords):
        nodes.append({"id": i + 1, "version": 1, "lat": y, "lon": x,
                      "timestamp": 0, "changeset": 1, "uid": 1, "user": "u",
                      "visible": True, "tags": []})
    ways.append({"id": 100, "version": 1, "refs": [1, 2, 3, 4, 1],
                 "timestamp": 0, "changeset": 1, "uid": 1, "user": "u",
                 "visible": True, "tags": []})
    ways.append({"id": 101, "version": 1, "refs": [5, 6, 7, 8, 5],
                 "timestamp": 0, "changeset": 1, "uid": 1, "user": "u",
                 "visible": True, "tags": []})
    relations.append({"id": 200, "version": 1,
                      "members": [{"type": "Way", "id": 100, "role": "outer"},
                                  {"type": "Way", "id": 101, "role": "inner"}],
                      "timestamp": 0, "changeset": 1, "uid": 1, "user": "u",
                      "visible": True, "tags": [{"k": "type", "v": "multipolygon"}]})
    els = _to_elements_df(spark, nodes, ways, relations)
    polys = A.assemble_polygons(els).filter(F.col("source") == "relation")

    probe = spark.createDataFrame(
        [(1, 5.0, 5.0),   # inside hole → out
         (2, 1.0, 1.0),   # between outer and hole → in
         (3, 11.0, 5.0)],  # outside → out
        "img_id LONG, lat DOUBLE, lon DOUBLE")
    got = sorted(r["img_id"] for r in
                 SJ.spatial_join_polygons(probe, polys, res=6)
                 .select("img_id").collect())
    assert got == [2]


# the two polygon joins, planar Morton cells and S2, on the same inputs
_POLYGON_JOINS = {
    "planar": lambda img, polys: SJ.spatial_join_polygons(img, polys, res=6),
    "s2": SJ.s2_spatial_join_polygons,
}


def _square(x0, x1, y0, y1):
    return [[{"lon": x, "lat": y} for x, y in
             ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))]]


def _polygon_join_pairs(spark, join, rows):
    from pyspark.sql import types as T

    from osm_io_spark import schemas
    schema = T.StructType([T.StructField(f.name, f.dataType, True)
                           for f in schemas.POLYGONS])
    polys = spark.createDataFrame(rows, schema)
    imgs = spark.createDataFrame([(1, 0.5, 0.5), (2, 0.5, 2.5)],
                                 "img_id long, lat double, lon double")
    out = _POLYGON_JOINS[join](imgs, polys)
    assert "rings" not in out.columns  # both joins drop the geometry
    return sorted((r["img_id"], r["polygon_id"], r["source"])
                  for r in out.select("img_id", "polygon_id", "source")
                  .collect())


@pytest.mark.parametrize("join", sorted(_POLYGON_JOINS))
def test_polygon_join_way_and_relation_share_an_id(spark, join):
    """OSM way and relation ids overlap: way 5 and relation 5 are
    different polygons, and each image must be refined against its own
    polygon's rings, not those of whichever row with id 5 came first."""
    rows = [(5, "way", _square(0.0, 1.0, 0.0, 1.0), 0.0, 0.0, 1.0, 1.0, []),
            (5, "relation", _square(2.0, 3.0, 0.0, 1.0),
             2.0, 0.0, 3.0, 1.0, [])]
    assert _polygon_join_pairs(spark, join, rows) == [
        (1, 5, "way"), (2, 5, "relation")]


@pytest.mark.parametrize("join", sorted(_POLYGON_JOINS))
def test_polygon_join_null_rings_match_nothing(spark, join):
    """A NULL ring list behaves like an empty one: no cover cell, no
    match — and the other polygons still join."""
    rows = [(5, "way", _square(0.0, 1.0, 0.0, 1.0), 0.0, 0.0, 1.0, 1.0, []),
            (6, "way", None, 2.0, 0.0, 3.0, 1.0, []),
            (7, "way", [], 2.0, 0.0, 3.0, 1.0, [])]
    assert _polygon_join_pairs(spark, join, rows) == [(1, 5, "way")]


def test_auto_salt_matches_plain_join(spark):
    """salt='auto' must produce exactly the plain join's matches —
    both when it triggers (tiny threshold → every cell is 'hot') and
    when it does not (huge threshold → no-op)."""
    from osm_io_spark import queries as Q
    from osm_io_spark.operators import spatial_join as SJ

    sf = "/root/testdata/sf0.001"
    probe = Q.images_probe(spark, sf).withColumnRenamed("img_id", "image_id")
    rects = Q.rect_polygons(spark, sf)
    plain = sorted((r["image_id"], r["polygon_id"]) for r in
                   SJ.spatial_join_rect(probe, rects, res=Q.RES_JOIN)
                   .select("image_id", "polygon_id").collect())
    for thresh in (1, 10**12):
        auto = sorted((r["image_id"], r["polygon_id"]) for r in
                      SJ.spatial_join_rect(probe, rects, res=Q.RES_JOIN,
                                           salt="auto",
                                           salt_threshold_rows=thresh)
                      .select("image_id", "polygon_id").collect())
        assert auto == plain


def test_overlap_join_corner_ownership_exactly_once(spark):
    """Adversarial for overlap_join_rect's dedup-free emission: big
    rectangles sharing MANY res-6 cells (the k-duplicate regime the
    corner-ownership rule exists for), plus touching-edge pairs (strict
    overlap excludes them) and disjoint pairs — verified pair-exact
    against a pandas all-pairs brute force."""
    import itertools

    import pandas as pd

    from osm_io_spark.operators.spatial_join import overlap_join_rect

    rows = []
    # a 5x5 lattice of 30°x20° rects stepped by 10°/7° — heavy mutual
    # overlap, each pair sharing dozens of res-6 cells
    i = 0
    for gx in range(5):
        for gy in range(5):
            l = -150 + 10 * gx
            b = -60 + 7 * gy
            rows.append((i, l, b, l + 30.0, b + 20.0)); i += 1
    # touching pair (shared edge, zero-area intersection → excluded)
    rows.append((100, 0.0, 0.0, 10.0, 10.0))
    rows.append((101, 10.0, 0.0, 20.0, 10.0))
    # fully disjoint
    rows.append((102, 160.0, 70.0, 170.0, 80.0))
    pdf = pd.DataFrame(rows, columns=["polygon_id", "left", "bottom",
                                      "right", "top"])
    a = spark.createDataFrame(pdf)
    got = overlap_join_rect(a, a, res=6).toPandas()

    # duplicate-free
    pairs = list(zip(got["a_id"], got["b_id"]))
    assert len(pairs) == len(set(pairs))

    want = set()
    for (i1, l1, b1, r1, t1), (i2, l2, b2, r2, t2) in itertools.product(
            rows, rows):
        if l1 < r2 and l2 < r1 and b1 < t2 and b2 < t1:
            want.add((i1, i2))
    assert set(pairs) == want
    assert (100, 101) not in set(pairs)          # strict: edge touch out
    assert all((102, j) not in set(pairs) or j == 102 for j in range(103))
    # intersection bbox exactness on a known pair
    row = got[(got["a_id"] == 0) & (got["b_id"] == 6)]
    if len(row):
        assert float(row["il"]) == -140.0 and float(row["ib"]) == -53.0


def test_overlap_join_fanout_guard(spark):
    """A world-spanning box past max_cells_per_box raises IN-TASK (the
    raise_error is folded into a column the cover uses, so Catalyst
    cannot prune it); None disables the guard and the join completes."""
    import pandas as pd
    import pytest

    from osm_io_spark.operators.spatial_join import overlap_join_rect

    big = spark.createDataFrame(pd.DataFrame(
        [(1, -179.0, -80.0, 179.0, 80.0)],
        columns=["polygon_id", "left", "bottom", "right", "top"]))
    small = spark.createDataFrame(pd.DataFrame(
        [(2, 0.0, 0.0, 1.0, 1.0)],
        columns=["polygon_id", "left", "bottom", "right", "top"]))
    with pytest.raises(Exception, match="covers > 4096 cells"):
        overlap_join_rect(big, small, res=10).collect()
    got = overlap_join_rect(big, small, res=10,
                            max_cells_per_box=None).toPandas()
    assert list(zip(got["a_id"], got["b_id"])) == [(1, 2)]
