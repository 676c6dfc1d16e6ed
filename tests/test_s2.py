"""True S2 cell index: table derivation, curve invariants, three-way
implementation parity (numpy / Column / DuckDB SQL), hierarchy bit math,
and the containment-join equi plan shape.

The engine goes beyond the reference's single-resolution tile key
(/root/reference/src/osm/apidb_dump/sql.rs:50-61) here; constants and
layout follow the published s2geometry algorithm docs."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import s2


def _random_dirs(n=20000, seed=7):
    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, n)
    y = rng.uniform(-1, 1, n)
    z = rng.uniform(-1, 1, n)
    ok = np.maximum.reduce([np.abs(x), np.abs(y), np.abs(z)]) > 1e-6
    return x[ok], y[ok], z[ok]


def test_hilbert_lut_matches_published_tables():
    """Re-derive the packed transition constant from s2geometry's
    kPosToIJ / kPosToOrientation and compare."""
    pos_to_ij = s2._POS_TO_IJ
    pos_to_orient = s2._POS_TO_ORIENT
    ij_to_pos = [[None] * 4 for _ in range(4)]
    for o in range(4):
        for pos in range(4):
            ij_to_pos[o][pos_to_ij[o][pos]] = pos
    c = 0
    for o in range(4):
        for ij in range(4):
            pos = ij_to_pos[o][ij]
            val = (pos << 2) | (o ^ pos_to_orient[pos])
            c |= val << (4 * (o * 4 + ij))
    assert c == s2.HILBERT_LUT


@pytest.mark.parametrize("face", [0, 1, 2, 3, 4, 5])
def test_hilbert_bijection_and_adjacency(face):
    """At level 4, the curve position must be a bijection over the
    16x16 grid and consecutive positions must be edge-adjacent — the
    two properties that uniquely characterize a Hilbert curve."""
    lvl = 4
    n = 1 << lvl
    gi, gj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    d = s2.hilbert_pos_np(np.full(gi.size, face), gi.ravel(), gj.ravel(), lvl)
    assert len(set(d.tolist())) == n * n  # bijection
    order = np.argsort(d)
    ii, jj = gi.ravel()[order], gj.ravel()[order]
    steps = np.abs(np.diff(ii.astype(int))) + np.abs(np.diff(jj.astype(int)))
    assert np.all(steps == 1)  # every consecutive pair edge-adjacent


def test_numpy_vs_duckdb_bit_identical():
    x, y, z = _random_dirs()
    with np.errstate(divide="ignore", invalid="ignore"):
        want30 = s2.s2_from_xyz_np(x, y, z)
        want12 = s2.s2_from_xyz_np(x, y, z, level=12)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"x": x, "y": y, "z": z}))
    got30 = con.sql("SELECT s2_cell FROM "
                    + s2.s2_chain_sql("pts", "x", "y", "z")).df()
    got12 = con.sql("SELECT s2_cell FROM "
                    + s2.s2_chain_sql("pts", "x", "y", "z", level=12)).df()
    assert np.array_equal(got30["s2_cell"].to_numpy(), want30)
    assert np.array_equal(got12["s2_cell"].to_numpy(), want12)
    # sql-side hierarchy bit math agrees too
    pr = con.sql(
        f"SELECT {s2.s2_parent_sql('s2_cell', 12)} AS p, "
        f"{s2.s2_range_min_sql('s2_cell')} AS rn, "
        f"{s2.s2_range_max_sql('s2_cell')} AS rx, "
        f"{s2.s2_level_sql('s2_cell')} AS lv "
        f"FROM (SELECT s2_cell FROM {s2.s2_chain_sql('pts', 'x', 'y', 'z')})"
    ).df()
    rn, rx = s2.s2_range_np(want30)
    assert np.array_equal(pr.p.to_numpy(), s2.s2_parent_np(want30, 12))
    assert np.array_equal(pr.rn.to_numpy(), rn)
    assert np.array_equal(pr.rx.to_numpy(), rx)
    assert set(pr.lv.tolist()) == {30}


def test_numpy_vs_column_bit_identical(spark, duck):
    """numpy, the Spark SQL steps and text, and the DuckDB text agree:
    leaf and level-9 cells, parent and level bit math."""
    x, y, z = _random_dirs(seed=11)
    with np.errstate(divide="ignore", invalid="ignore"):
        want30 = s2.s2_from_xyz_np(x, y, z)
        want9 = s2.s2_from_xyz_np(x, y, z, level=9)
    df = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(x)), "x": x, "y": y, "z": z}))
    out = (s2.with_s2_cell(df, "x", "y", "z")
           .selectExpr("pid", "s2_cell",
                       f"{s2.s2_parent_sql('s2_cell', 9)} AS p9",
                       f"{s2.s2_level_sql('s2_cell')} AS lv")
           .toPandas().sort_values("pid"))
    assert np.array_equal(out.s2_cell.to_numpy(), want30)
    assert np.array_equal(out.p9.to_numpy(), want9)  # prefix property
    assert set(out.lv.tolist()) == {30}
    duck.register("s2_leaves", pd.DataFrame({"c": want30}))
    d = duck.sql(f"SELECT {s2.s2_parent_sql('c', 9)} AS p9, "
                 f"{s2.s2_level_sql('c')} AS lv FROM s2_leaves").df()
    assert np.array_equal(d.p9.to_numpy(), want9)
    assert set(d.lv.tolist()) == {30}
    out9 = (s2.with_s2_cell(df, "x", "y", "z", level=9)
            .select("pid", "s2_cell").toPandas().sort_values("pid"))
    assert np.array_equal(out9.s2_cell.to_numpy(), want9)


def test_hierarchy_invariants():
    x, y, z = _random_dirs(seed=3)
    with np.errstate(divide="ignore", invalid="ignore"):
        leaf = s2.s2_from_xyz_np(x, y, z)
        face, _, _ = s2.face_uv_np(x, y, z)
    # all six faces represented; faces 4-5 set the sign bit
    assert set(face.tolist()) == {0, 1, 2, 3, 4, 5}
    assert np.array_equal(leaf < 0, face >= 4)
    assert np.all(leaf & 1 == 1)  # leaf sentinel
    for lvl in (0, 5, 17, 29):
        anc = s2.s2_parent_np(leaf, lvl)
        rn, rx = s2.s2_range_np(anc)
        assert np.all((leaf >= rn) & (leaf <= rx))
        assert np.all(s2.s2_level_np(anc) == lvl)
        # ancestor-of-ancestor commutes with direct ancestor
        if lvl >= 5:
            assert np.array_equal(s2.s2_parent_np(anc, 5),
                                  s2.s2_parent_np(leaf, 5))
    # latlon convenience wrapper lands on the face the geometry demands
    eq = s2.s2_from_latlon_np(np.array([0.0]), np.array([0.0]))
    assert (eq.view(np.uint64) >> np.uint64(61)) == 0  # +x face
    pole = s2.s2_from_latlon_np(np.array([90.0]), np.array([0.0]))
    assert (pole.view(np.uint64) >> np.uint64(61)) == 2  # +z face


def _leaf_points(spark, n, seed):
    x, y, z = _random_dirs(n=n, seed=seed)
    df = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(x)), "x": x, "y": y, "z": z}))
    return (s2.with_s2_cell(df, "x", "y", "z")
            .localCheckpoint(eager=False))


def _between_pairs(pts, cover_ids):
    """The BETWEEN brute force: sorted (pid, cover_id) for every leaf
    inside a cover's descendant id range."""
    p = pts.select("pid", "s2_cell").toPandas()
    pid, cells = p.pid.to_numpy(), p.s2_cell.to_numpy()
    cover_ids = np.asarray(cover_ids, np.int64)
    rn, rx = s2.s2_range_np(cover_ids)
    return sorted((int(i), int(c)) for c, lo, hi in zip(cover_ids, rn, rx)
                  for i in pid[(cells >= lo) & (cells <= hi)])


def _join_pairs(joined):
    return sorted(map(tuple, joined.select("pid", "cover_id").collect()))


def test_containment_join_plan_is_equi_broadcast(spark):
    """The scale path is ONE hash equi-join on each point's ancestors at
    the distinct cover levels — never a nested-loop range join, never a
    Union of per-level joins."""
    from osm_io_spark.operators.spatial_join import s2_containment_join
    from osm_io_spark.plans import audit as A
    pts = _leaf_points(spark, 2000, 5)
    covers = (pts.filter(F.col("pid") % 41 == 0)
              .selectExpr(f"{s2.s2_parent_sql('s2_cell', 6)} AS cover_id")
              .distinct()
              .unionByName(
                  pts.filter(F.col("pid") % 83 == 0)
                  .selectExpr(f"{s2.s2_parent_sql('s2_cell', 10)} "
                              f"AS cover_id").distinct()))
    joined = s2_containment_join(pts, covers)
    plan = A.formatted_plan(joined)
    assert A.count_op(plan, "BroadcastHashJoin") == 1
    assert A.count_op(plan, "Union") == 0
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert _join_pairs(joined) == _between_pairs(
        pts, covers.toPandas().cover_id.to_numpy())


def test_containment_join_empty_covers(spark):
    """No cover rows ⇒ zero rows, still with the points + cover columns."""
    from osm_io_spark.operators.spatial_join import s2_containment_join
    pts = _leaf_points(spark, 200, 9)
    covers = spark.createDataFrame([], "cover_id long, tag string")
    joined = s2_containment_join(pts, covers)
    assert joined.columns == pts.columns + ["cover_id", "tag"]
    assert _join_pairs(joined) == _between_pairs(pts, []) == []


def test_containment_join_face_and_leaf_covers(spark):
    """The level extremes: a level-0 cover (a whole cube face) and a
    level-30 cover (a leaf id itself, whose range is the id alone)."""
    from osm_io_spark.operators.spatial_join import s2_containment_join
    pts = _leaf_points(spark, 600, 17)
    cells = pts.select("s2_cell").toPandas().s2_cell.to_numpy()
    faces = np.unique(s2.s2_parent_np(cells[:40], 0))[:2]
    leaves = cells[::97]
    cover_ids = np.concatenate([faces, leaves])
    assert set(s2.s2_level_np(cover_ids).tolist()) == {0, 30}
    covers = spark.createDataFrame(
        pd.DataFrame({"cover_id": cover_ids.astype(np.int64)}))
    got = _join_pairs(s2_containment_join(pts, covers))
    assert got == _between_pairs(pts, cover_ids)
    hit = {c for _, c in got}
    assert set(faces.tolist()) <= hit and set(leaves.tolist()) <= hit


def test_containment_join_scratch_column_clash_raises(spark):
    from osm_io_spark.operators.spatial_join import s2_containment_join
    pts = _leaf_points(spark, 50, 3).withColumn("_s2anc", F.lit(0))
    covers = spark.createDataFrame([(1 << 60,)], "cover_id long")
    with pytest.raises(ValueError, match="_s2anc"):
        s2_containment_join(pts, covers)


def test_containment_join_shuffled_path_degrades_not_fails(spark):
    """The ADVICE-r4 scale guard: covers past ``max_broadcast_rows``
    must degrade to one shuffled join (ancestor equi key, AQE
    skew-splittable) — same rows as the broadcast plan, no broadcast
    of the cover side, still never a nested loop."""
    from osm_io_spark.operators.spatial_join import s2_containment_join
    pts = _leaf_points(spark, 1500, 11)
    covers = (pts.filter(F.col("pid") % 37 == 0)
              .selectExpr(f"{s2.s2_parent_sql('s2_cell', 7)} AS cover_id")
              .distinct())
    want = _join_pairs(s2_containment_join(pts, covers))
    # without the operator's explicit hint, Catalyst still auto-
    # broadcasts a side this small — disable the threshold so the test
    # sees the physical plan a genuinely large cover table would get
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for kw in (dict(broadcast_covers=False),
                   dict(broadcast_covers="auto", max_broadcast_rows=0)):
            joined = s2_containment_join(pts, covers, **kw)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, kw
            assert ("SortMergeJoin" in plan
                    or "ShuffledHashJoin" in plan), kw
            assert ("NestedLoop" not in plan
                    and "CartesianProduct" not in plan)
            assert _join_pairs(joined) == want, kw
        # the operator's own hint must still win over the threshold
        forced = s2_containment_join(pts, covers, broadcast_covers=True)
        assert "BroadcastHashJoin" in (forced._jdf.queryExecution()
                                       .executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_cap_cover_completeness_and_budget():
    """No point inside the cap may be missed by the cover (the descent
    only prunes on the provable disjointness bound), covers never
    ancestor-overlap, and the budget holds."""
    rng = np.random.default_rng(13)
    for lat0, lon0, rad in ((43.1, -79.2, 0.05), (41.0, 45.0, 0.12),
                            (-35.7, 149.2, 0.08), (12.0, -179.8, 0.10),
                            (89.5, 10.0, 0.03)):
        cover = s2.s2_cover_cap_np(lat0, lon0, rad, max_level=10,
                                   max_cells=256)
        assert 0 < len(cover) <= 256
        rn, rx = s2.s2_range_np(cover)
        order = np.argsort(rn)
        assert np.all(rn[order][1:] > rx[order][:-1])  # disjoint cells
        m = 50000
        lat = rng.uniform(max(-89.9, lat0 - 10), min(89.9, lat0 + 10), m)
        lon = rng.uniform(lon0 - 15, lon0 + 15, m)
        lon = (lon + 180.0) % 360.0 - 180.0  # antimeridian wrap
        phi, th = np.radians(lat), np.radians(lon)
        px = np.cos(phi) * np.cos(th)
        py = np.cos(phi) * np.sin(th)
        pz = np.sin(phi)
        q0, q1 = np.radians(lat0), np.radians(lon0)
        qx = np.cos(q0) * np.cos(q1)
        qy = np.cos(q0) * np.sin(q1)
        qz = np.sin(q0)
        dist = np.arccos(np.clip(px * qx + py * qy + pz * qz, -1, 1))
        leaf = s2.s2_from_latlon_np(lat, lon)
        inside = np.zeros(m, bool)
        for a, b in zip(rn, rx):
            inside |= (leaf >= a) & (leaf <= b)
        assert not np.any((dist <= rad) & ~inside), (lat0, lon0, rad)


def test_cover_budget_is_hard_under_tight_limits():
    """r4 ADVICE: the old post-hoc budget check could overshoot
    max_cells by 2; the pre-descend gate makes it hard. Completeness
    must survive (the gate only coarsens, never drops)."""
    rng = np.random.default_rng(23)
    for budget in (8, 12, 20, 64):
        cover = s2.s2_cover_cap_np(43.1, -79.2, 0.05, max_level=12,
                                   max_cells=budget)
        assert 0 < len(cover) <= budget
        pcover = s2.s2_cover_polygon_np(
            np.array([40.0, 40.0, 44.0, 44.0]),
            np.array([-80.0, -74.0, -74.0, -80.0]),
            max_level=12, max_cells=budget)
        assert 0 < len(pcover) <= budget
        # completeness spot check on the cap at the tightest budget
        m = 20000
        lat = rng.uniform(40.0, 46.0, m)
        lon = rng.uniform(-82.0, -76.0, m)
        px, py, pz = s2._latlon_xyz_np(lat, lon)
        qx, qy, qz = s2._latlon_xyz_np(43.1, -79.2)
        dist = np.arccos(np.clip(px * qx + py * qy + pz * qz, -1, 1))
        leaf = s2.s2_from_latlon_np(lat, lon)
        rn, rx = s2.s2_range_np(cover)
        covered = np.zeros(m, bool)
        for a, b in zip(rn, rx):
            covered |= (leaf >= a) & (leaf <= b)
        assert not np.any((dist <= 0.05) & ~covered), budget


def test_inverse_transforms_roundtrip():
    rng = np.random.default_rng(29)
    n = 5000
    x = rng.uniform(-1, 1, n)
    y = rng.uniform(-1, 1, n)
    z = rng.uniform(-1, 1, n)
    ok = np.maximum.reduce([np.abs(x), np.abs(y), np.abs(z)]) > 1e-6
    x, y, z = x[ok], y[ok], z[ok]
    nrm = np.sqrt(x * x + y * y + z * z)
    face, u, v = s2.face_uv_np(x, y, z)
    xx, yy, zz = s2.face_uv_to_xyz_np(face, u, v)
    assert np.allclose(np.c_[xx, yy, zz], np.c_[x, y, z] / nrm[:, None],
                       atol=1e-14)
    # id -> (face, i, j) matches the forward grid coordinates
    ids = s2.s2_from_xyz_np(x, y, z)
    f2, i2, j2, lvl = s2.s2_to_face_ij_np(ids)
    assert np.array_equal(f2, face)
    assert np.all(lvl == 30)
    assert np.array_equal(i2, s2.st_to_ij_np(s2.uv_to_st_np(u)))
    assert np.array_equal(j2, s2.st_to_ij_np(s2.uv_to_st_np(v)))
    # every point sits within its own level-12 cell's circumradius
    p12 = s2.s2_parent_np(ids, 12)
    cx, cy, cz, corners = s2.s2_cell_corners_np(p12)
    ang = np.arccos(np.clip(cx * x / nrm + cy * y / nrm + cz * z / nrm,
                            -1, 1))
    circ = np.arccos(np.clip(
        cx[:, None] * corners[:, :, 0] + cy[:, None] * corners[:, :, 1]
        + cz[:, None] * corners[:, :, 2], -1, 1)).max(1)
    assert np.all(ang <= circ + 1e-12)


def test_cap_cover_join_query_matches_brute_force(spark):
    from osm_io_spark import queries as Q
    sf_dir = "/root/testdata/sf0.001"
    got = (Q.q_s2_cap_cover_join(spark, sf_dir).toPandas()
           .sort_values("cap_id").reset_index(drop=True))
    img = Q.images_probe(spark, sf_dir).toPandas()
    phi, th = np.radians(img.lat.to_numpy()), np.radians(img.lon.to_numpy())
    px = np.cos(phi) * np.cos(th)
    py = np.cos(phi) * np.sin(th)
    pz = np.sin(phi)
    for _, row in got.iterrows():
        cid, la, lo, r = Q._S2_CAPS[int(row.cap_id)]
        q0, q1 = np.radians(la), np.radians(lo)
        dot = (px * np.cos(q0) * np.cos(q1) + py * np.cos(q0) * np.sin(q1)
               + pz * np.sin(q0))
        want = int((dot >= np.cos(r)).sum())
        assert int(row.n_images) == want, (cid, int(row.n_images), want)
        assert int(row.n_candidates) >= want


def test_encode_projection_chain_stays_jit_small(spark):
    """The fused encode stage must stay a SHORT projection chain: 30
    single-level projections generated a whole-stage-codegen method
    past HotSpot's 8000-bytecode huge-method limit, which silently ran
    the entire encode in the bytecode interpreter (~180x slower,
    observed at 2B rows). The LOOKUP4 step keeps it ~11 projections;
    pin that so a refactor back to per-level steps fails loudly."""
    df = spark.range(10).select(
        (F.col("id") + 1).cast("double").alias("x"),
        (F.col("id") + 2).cast("double").alias("y"),
        (F.col("id") + 3).cast("double").alias("z"))
    q = s2.with_s2_cell(df, "x", "y", "z")
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    n_proj = plan.count("Project [")
    assert n_proj <= 14, f"encode chain regrew to {n_proj} projections"
    # and the whole chain is still one codegen stage over the scan
    phys = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys


_TEST_POLYS = (
    (0, (38.0, 44.0, 46.0), (40.0, 50.0, 42.0)),
    (1, (10.0, 10.0, 16.0, 16.0), (178.0, -178.5, -178.5, 178.0)),
    (2, (40.0, 40.0, 44.0, 44.0, 42.0, 42.0),
     (-80.0, -74.0, -74.0, -77.0, -77.0, -80.0)),
    (3, (-60.0, -58.0, -52.0, -55.0), (20.0, 30.0, 28.0, 18.0)),
)


def test_polygon_cover_completeness_and_budget():
    """No point inside the polygon may be missed by the cover; cells
    never ancestor-overlap; budget holds. Polygons exercise a cube-face
    corner, the antimeridian, a concave loop, and the south."""
    rng = np.random.default_rng(23)
    for _, las, los in _TEST_POLYS:
        cover = s2.s2_cover_polygon_np(np.asarray(las), np.asarray(los),
                                       max_level=10, max_cells=256)
        assert 0 < len(cover) <= 256
        rn, rx = s2.s2_range_np(cover)
        order = np.argsort(rn)
        assert np.all(rn[order][1:] > rx[order][:-1])  # disjoint cells
        m = 200000
        lat = rng.uniform(max(-89.9, min(las) - 6), min(89.9, max(las) + 6), m)
        lon = rng.uniform(-180.0, 180.0, m)
        px, py, pz = s2._latlon_xyz_np(lat, lon)
        vx, vy, vz = s2._latlon_xyz_np(np.asarray(las), np.asarray(los))
        verts = np.stack([vx, vy, vz], axis=1)
        inside = s2.point_in_spherical_polygon_np(px, py, pz, verts)
        leaf = s2.s2_from_latlon_np(lat, lon)
        in_cover = np.zeros(m, bool)
        for a, b in zip(rn, rx):
            in_cover |= (leaf >= a) & (leaf <= b)
        assert not np.any(inside & ~in_cover), (las, los)
        # the cover is a cover, not the whole sphere: candidate fraction
        # stays within ~4x of the polygon's own sample mass
        assert in_cover.sum() <= max(4 * inside.sum(), 2000)


def test_spherical_pip_winding_basics():
    """Winding PIP: centroid in, antipode out, CW order flips nothing
    (abs winding), points near edges classified consistently vs a
    planar approximation on a small quad."""
    las, los = (10.0, 10.0, 14.0, 14.0), (20.0, 26.0, 26.0, 20.0)
    vx, vy, vz = s2._latlon_xyz_np(np.asarray(las), np.asarray(los))
    verts = np.stack([vx, vy, vz], axis=1)
    cx, cy, cz = s2._latlon_xyz_np(np.array([12.0]), np.array([23.0]))
    assert s2.point_in_spherical_polygon_np(cx, cy, cz, verts)[0]
    assert not s2.point_in_spherical_polygon_np(-cx, -cy, -cz, verts)[0]
    rng = np.random.default_rng(31)
    lat = rng.uniform(8.0, 16.0, 20000)
    lon = rng.uniform(18.0, 28.0, 20000)
    px, py, pz = s2._latlon_xyz_np(lat, lon)
    got = s2.point_in_spherical_polygon_np(px, py, pz, verts)
    # small quad at low latitude: planar lat/lon box is the right
    # answer away from the edges; allow a thin disagreement band
    planar = (lat > 10.0) & (lat < 14.0) & (lon > 20.0) & (lon < 26.0)
    margin = ((np.abs(lat - 10.0) > 0.05) & (np.abs(lat - 14.0) > 0.05)
              & (np.abs(lon - 20.0) > 0.05) & (np.abs(lon - 26.0) > 0.05))
    assert np.array_equal(got[margin], planar[margin])


def test_polygon_cover_join_query_matches_brute_force(spark):
    from osm_io_spark import queries as Q
    sf_dir = "/root/testdata/sf0.001"
    got = (Q.q_s2_polygon_cover_join(spark, sf_dir).toPandas()
           .sort_values("poly_id").reset_index(drop=True))
    img = Q.images_probe(spark, sf_dir).toPandas()
    px, py, pz = s2._latlon_xyz_np(img.lat.to_numpy(), img.lon.to_numpy())
    by_pid = {int(r.poly_id): r for _, r in got.iterrows()}
    for pid, las, los in Q._S2_POLYS:
        vx, vy, vz = s2._latlon_xyz_np(np.asarray(las), np.asarray(los))
        verts = np.stack([vx, vy, vz], axis=1)
        want = int(s2.point_in_spherical_polygon_np(px, py, pz, verts).sum())
        if pid in by_pid:
            assert int(by_pid[pid].n_images) == want, (pid, want)
            assert int(by_pid[pid].n_candidates) >= want
        else:
            # a polygon may legitimately have no candidates at this sf,
            # but completeness forbids it having any true hits
            assert want == 0, (pid, want)


def test_rings_cover_budget_is_total_not_per_ring():
    """r5 review: per-ring budgets let a multi-ring polygon emit up to
    n_rings*max_cells cells, unbounding the containment-join fan-out a
    coastline multipolygon relies on being capped. The budget is now
    TOTAL (parent-lifting after the union), and lifting only loosens —
    completeness must survive."""
    rng = np.random.default_rng(41)
    # three disjoint outer rings far apart (the reviewer's repro shape)
    rings = [
        (np.array([10.0, 10.0, 12.0, 12.0]),
         np.array([10.0, 12.0, 12.0, 10.0])),
        (np.array([40.0, 40.0, 42.0, 42.0]),
         np.array([-80.0, -78.0, -78.0, -80.0])),
        (np.array([-30.0, -30.0, -28.0, -28.0]),
         np.array([140.0, 142.0, 142.0, 140.0])),
    ]
    for budget in (8, 16, 64):
        cover = s2.s2_cover_rings_np(rings, max_level=10, max_cells=budget)
        assert 0 < len(cover) <= budget, (budget, len(cover))
        # completeness: dense samples inside each ring stay covered
        rn, rx = s2.s2_range_np(cover)
        for (la0, la1), (lo0, lo1) in (((10, 12), (10, 12)),
                                       ((40, 42), (-80, -78)),
                                       ((-30, -28), (140, 142))):
            lat = rng.uniform(la0 + 0.01, la1 - 0.01, 4000)
            lon = rng.uniform(lo0 + 0.01, lo1 - 0.01, 4000)
            leaf = s2.s2_from_latlon_np(lat, lon)
            covered = ((leaf[:, None] >= rn[None, :])
                       & (leaf[:, None] <= rx[None, :])).any(axis=1)
            assert covered.all(), (budget, (~covered).sum())


def test_with_s2_cell_rejects_existing_out_column(spark):
    """r5 review: appending over a pre-existing `out` column yields two
    same-named columns and AMBIGUOUS_REFERENCE far downstream (e.g.
    re-encoding rows read back from an s2_cell-keyed snapshot); the
    guard must fail fast at entry instead."""
    df = (spark.range(4)
          .select(F.lit(0.5).alias("x"), F.lit(0.5).alias("y"),
                  F.lit(0.5).alias("z"), F.lit(1).alias("s2_cell")))
    with pytest.raises(ValueError, match="already exists"):
        s2.with_s2_cell(df, "x", "y", "z")
    # a different out name passes
    out = s2.with_s2_cell(df, "x", "y", "z", out="cell2")
    assert out.columns.count("cell2") == 1


def test_encode_table_is_folded_not_carried(spark):
    """The LOOKUP4 table is one SQL step (``_s2lut``) that the optimizer
    folds into each step reading it: a 1,024-int array carried as a
    column would be copied into every row of the encode."""
    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x",
                                    "1.0D AS y", "2.0D AS z")
    q = s2.with_s2_cell(df, "x", "y", "z")
    assert "_s2lut" not in q._jdf.queryExecution().optimizedPlan().toString()
