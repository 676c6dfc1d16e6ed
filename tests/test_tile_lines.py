"""Line + point vector tiles and the multi-layer MVT sink.

The polyline clip kernel is refereed two independent ways: a scalar
half-plane pass (same algorithm, sequential — EXACT parity with the
batch kernel) and a per-segment Liang–Barsky clip with connectivity
stitching (a structurally different algorithm — allclose vertices,
exact part structure).  MVT line/point encodings are pinned against
hand-assembled spec bytes (spec §4.3: linestring parts drop ClosePath,
a multipoint is ONE MoveTo(n)).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import mvt as MVT
from osm_io_spark.functions import webmercator as WM
from osm_io_spark.operators import tiles as TL
from osm_io_spark.sources.pbf import proto as P

# ---------------------------------------------------------------------------
# scalar references
# ---------------------------------------------------------------------------


def _clip_line_scalar_half(parts, axis, value, keep_ge):
    """Sequential half-plane polyline clip (same semantics as the batch
    kernel, scalar control flow)."""
    out = []
    for pts in parts:
        cur = []
        for i, c in enumerate(pts):
            kc = c[axis] >= value if keep_ge else c[axis] <= value
            if i == 0:
                if kc:
                    cur.append(tuple(c))
                continue
            p = pts[i - 1]
            kp = p[axis] >= value if keep_ge else p[axis] <= value
            if kc != kp:
                t = (value - p[axis]) / (c[axis] - p[axis])
                ipt = [0.0, 0.0]
                ipt[axis] = value
                ipt[1 - axis] = p[1 - axis] + t * (c[1 - axis] - p[1 - axis])
                if kc:           # entering: intersection starts a new part
                    if cur:
                        out.append(cur)
                    cur = [tuple(ipt), tuple(c)]
                else:            # exiting: intersection ends this part
                    cur.append(tuple(ipt))
                    out.append(cur)
                    cur = []
            elif kc:
                cur.append(tuple(c))
        if cur:
            out.append(cur)
    return out


def _clip_line_scalar(pts, left, bottom, right, top):
    parts = [list(map(tuple, pts))]
    parts = _clip_line_scalar_half(parts, 0, left, True)
    parts = _clip_line_scalar_half(parts, 0, right, False)
    parts = _clip_line_scalar_half(parts, 1, bottom, True)
    parts = _clip_line_scalar_half(parts, 1, top, False)
    return [np.array(p) for p in parts]


def _clip_line_liang_barsky(pts, left, bottom, right, top):
    """Independent referee: per-segment parametric clip + stitching of
    consecutive clipped segments that connect (both endpoints interior
    to the original segment chain). Degenerate (zero-length) clips are
    kept — the comparison dedupes both sides."""
    parts = []
    cur = None
    for a, b in zip(pts[:-1], pts[1:]):
        d = (b[0] - a[0], b[1] - a[1])
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in ((-d[0], a[0] - left), (d[0], right - a[0]),
                     (-d[1], a[1] - bottom), (d[1], top - a[1])):
            if p == 0.0:
                if q < 0.0:
                    ok = False
                    break
                continue
            t = q / p
            if p < 0.0:
                t0 = max(t0, t)
            else:
                t1 = min(t1, t)
        if not ok or t0 > t1:
            cur = None
            continue
        p0 = (a[0] + t0 * d[0], a[1] + t0 * d[1])
        p1 = (a[0] + t1 * d[0], a[1] + t1 * d[1])
        # connects to the previous clipped segment iff the previous one
        # ended at its natural endpoint (t1==1) and this starts at its
        # natural start (t0==0)
        if cur is not None and t0 == 0.0:
            cur.append(p1)
        else:
            cur = [p0, p1]
            parts.append(cur)
        if t1 < 1.0:
            cur = None
    return [np.array(p) for p in parts]


def _dedupe_f(p, tol=1e-12):
    if len(p) == 0:
        return p
    keep = [0]
    for i in range(1, len(p)):
        if np.abs(p[i] - p[keep[-1]]).max() > tol:
            keep.append(i)
    return p[keep]


# ---------------------------------------------------------------------------
# kernel unit tests
# ---------------------------------------------------------------------------


def _run_batch_clip(parts_in, rects):
    """parts_in: list of (pts, row); rects: (L, R, B, T) arrays per row."""
    pts = np.concatenate([p for p, _ in parts_in])
    seg = np.repeat(np.arange(len(parts_in)),
                    [len(p) for p, _ in parts_in])
    s2r = np.array([r for _, r in parts_in], np.int64)
    L, R, B, Tt = rects
    p, s, m = TL._clip_polyline_half_batch(pts, seg, s2r, L, 0, True)
    p, s, m = TL._clip_polyline_half_batch(p, s, m, R, 0, False)
    p, s, m = TL._clip_polyline_half_batch(p, s, m, B, 1, True)
    p, s, m = TL._clip_polyline_half_batch(p, s, m, Tt, 1, False)
    counts = np.bincount(s, minlength=len(m)) if len(m) else np.empty(0, int)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return [(p[offs[i]:offs[i] + counts[i]], int(m[i]))
            for i in range(len(m))]


def test_polyline_clip_hand_cases():
    rect = (np.array([0.0]), np.array([1.0]), np.array([0.0]),
            np.array([1.0]))
    # exit and re-enter → two parts
    pts = np.array([[-0.5, 0.5], [0.5, 0.5], [1.5, 0.5], [1.5, 0.8],
                    [0.5, 0.8]])
    got = _run_batch_clip([(pts, 0)], rect)
    assert len(got) == 2
    assert np.allclose(got[0][0], [[0, 0.5], [0.5, 0.5], [1, 0.5]])
    assert np.allclose(got[1][0], [[1, 0.8], [0.5, 0.8]])
    # fully outside → nothing
    assert _run_batch_clip(
        [(np.array([[2.0, 2.0], [3.0, 2.0]]), 0)], rect) == []
    # passes outside a corner (no true intersection) → nothing survives
    # all four passes
    out = _run_batch_clip(
        [(np.array([[-1.0, 0.9], [0.5, 1.2]]), 0)], rect)
    assert all(len(p) < 2 for p, _ in out)
    # fully inside → unchanged, one part
    pts = np.array([[0.2, 0.2], [0.8, 0.9]])
    got = _run_batch_clip([(pts, 0)], rect)
    assert len(got) == 1 and np.allclose(got[0][0], pts)
    # closed-loop way: wrap vertex is NOT dropped by the line dedupe
    q = np.array([[0, 0], [5, 0], [5, 5], [0, 0]], np.int64)
    assert len(TL._dedupe_consecutive(q, drop_wrap=False)) == 4
    assert len(TL._dedupe_consecutive(q, drop_wrap=True)) == 3


def test_polyline_clip_batch_vs_scalar_exact():
    """Batch kernel == sequential scalar half-plane clip, bit-for-bit,
    on random multi-row batches with per-row rects."""
    rng = np.random.Generator(np.random.Philox(23))
    for trial in range(30):
        nrows = int(rng.integers(1, 6))
        rects = (rng.uniform(-2, 0, nrows), rng.uniform(1, 3, nrows),
                 rng.uniform(-2, 0, nrows), rng.uniform(1, 3, nrows))
        L, R, B, Tt = rects
        parts_in = []
        for r in range(nrows):
            for _ in range(int(rng.integers(1, 4))):
                n = int(rng.integers(2, 12))
                parts_in.append((rng.uniform(-4, 5, (n, 2)), r))
        parts_in.sort(key=lambda t: t[1])
        got = _run_batch_clip(parts_in, (L, R, B, Tt))
        want = []
        for pts, r in parts_in:
            for p in _clip_line_scalar(pts, L[r], B[r], R[r], Tt[r]):
                want.append((p, r))
        assert len(got) == len(want), trial
        for (gp, gr), (wp, wr) in zip(got, want):
            assert gr == wr
            assert gp.shape == wp.shape and (gp == wp).all(), trial


def test_polyline_clip_vs_liang_barsky():
    """Independent-algorithm referee: same parts, allclose vertices
    (after float dedupe — tangent/degenerate clips differ only in
    zero-length artifacts)."""
    rng = np.random.Generator(np.random.Philox(29))
    for trial in range(40):
        n = int(rng.integers(2, 20))
        pts = rng.uniform(-3, 4, (n, 2))
        got = [_dedupe_f(p) for p, _ in _run_batch_clip(
            [(pts, 0)], (np.array([0.0]), np.array([1.0]),
                         np.array([0.0]), np.array([1.0])))]
        got = [p for p in got if len(p) >= 2]
        want = [_dedupe_f(p) for p in
                _clip_line_liang_barsky(pts, 0.0, 0.0, 1.0, 1.0)]
        want = [p for p in want if len(p) >= 2]
        assert len(got) == len(want), trial
        for g, w in zip(got, want):
            assert g.shape == w.shape, trial
            assert np.allclose(g, w, atol=1e-9), trial


# ---------------------------------------------------------------------------
# MVT line/point encoding
# ---------------------------------------------------------------------------


def test_mvt_linestring_golden_bytes():
    """Hand-assembled spec bytes: id 7, one part (2,2)→(10,2).
    Commands: MoveTo(1)=9, zz(2)=4, zz(2)=4, LineTo(1)=10, zz(8)=16,
    zz(0)=0 — no ClosePath for linestrings (spec §4.3.5.3)."""
    b = MVT.encode_feature(7, [np.array([[2, 2], [10, 2]])],
                           MVT.LINESTRING)
    assert b == bytes([0x08, 7, 0x18, 2, 0x22, 6, 9, 4, 4, 10, 16, 0])


def test_mvt_point_golden_bytes():
    """Multipoint (5,5),(7,4): ONE MoveTo(2)=17 with chained deltas
    (spec §4.3.4.1)."""
    b = MVT.encode_feature(3, [np.array([[5, 5]]), np.array([[7, 4]])],
                           MVT.POINT)
    assert b == bytes([0x08, 3, 0x18, 1, 0x22, 5, 17, 10, 10, 4, 1])


def test_mvt_batch_matches_scalar_all_types():
    rng = np.random.default_rng(47)
    for gt in (MVT.POINT, MVT.LINESTRING, MVT.POLYGON):
        feats = []
        for fid in range(25):
            parts = []
            for _ in range(int(rng.integers(1, 4))):
                lo = 1 if gt == MVT.POINT else (
                    2 if gt == MVT.LINESTRING else 3)
                n = int(rng.integers(lo, 9))
                parts.append(rng.integers(-40, 4200, (n, 2)).astype(
                    np.int64))
            feats.append((fid, parts))
        part_lens = np.array([len(p) for _, ps in feats for p in ps],
                             np.int64)
        feat_of = np.repeat(np.arange(len(feats)),
                            [len(ps) for _, ps in feats])
        q = np.concatenate([p for _, ps in feats for p in ps])
        ids = np.array([fid for fid, _ in feats])
        got = MVT.encode_features_batch(q, part_lens, feat_of, ids, gt)
        want = [P.field_len(2, MVT.encode_feature(fid, ps, gt))
                for fid, ps in feats]
        assert got == want, gt


def test_mvt_roundtrip_types_and_geometry():
    line_parts = [np.array([[0, 0], [100, 50]]),
                  np.array([[200, 200], [300, 150], [310, 160]])]
    pt_parts = [np.array([[7, 9]]), np.array([[1000, 2000]])]
    blob = (MVT.encode_tile(MVT.encode_layer(
        "roads", P.field_len(
            2, MVT.encode_feature(4, line_parts, MVT.LINESTRING))))
        + MVT.encode_tile(MVT.encode_layer(
            "pois", P.field_len(
                2, MVT.encode_feature(6, pt_parts, MVT.POINT)))))
    dec = MVT.decode_mvt(blob)
    assert [L["name"] for L in dec["layers"]] == ["roads", "pois"]
    road = dec["layers"][0]
    assert road["types"] == [MVT.LINESTRING]
    fid, parts = road["features"][0]
    assert fid == 4 and len(parts) == 2
    for g, w in zip(parts, line_parts):
        assert (np.asarray(g) == w).all()
    poi = dec["layers"][1]
    assert poi["types"] == [MVT.POINT]
    fid, parts = poi["features"][0]
    # the decoder splits a MoveTo(n) multipoint into n one-point parts
    assert fid == 6 and len(parts) == 2
    assert (np.concatenate(parts) == np.concatenate(pt_parts)).all()


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _line_df(spark, way_id, lonlats):
    line = [{"lon": float(a), "lat": float(b)} for a, b in lonlats]
    lons = [p[0] for p in lonlats]
    lats = [p[1] for p in lonlats]
    return spark.createDataFrame(
        [(way_id, line, min(lons), min(lats), max(lons), max(lats))],
        "way_id long, line array<struct<lon double, lat double>>, "
        "left double, bottom double, right double, top double")


def test_build_vector_tile_lines_end_to_end(spark):
    """A long diagonal way spanning several z12 tiles: every emitted
    feature matches the independent scalar pipeline (clip → project →
    simplify → quantize) bit-for-bit, and tiles the way only grazes
    are absent."""
    zoom, extent, buf, tol = 12, 4096, 16, 1.0
    lonlats = [(13.30, 52.45), (13.38, 52.49), (13.46, 52.47),
               (13.52, 52.53), (13.60, 52.50)]
    df = _line_df(spark, 77, lonlats)
    feats = TL.build_vector_tile_lines(df, zoom, extent, buf, tol) \
        .collect()
    assert feats, "no features emitted"
    n = float(1 << zoom)
    base = np.array(lonlats, np.float64)
    seen = set()
    for row in feats:
        seen.add((row.x, row.y))
        fb = buf / extent
        lon_l = (row.x - fb) / n * 360.0 - 180.0
        lon_r = (row.x + 1 + fb) / n * 360.0 - 180.0
        lat_t = TL._inv_merc_lat(row.y - fb, zoom)
        lat_b = TL._inv_merc_lat(row.y + 1 + fb, zoom)
        parts = _clip_line_scalar(base, lon_l, lat_b, lon_r, lat_t)
        want_parts = []
        for p in parts:
            X, Y = TL._merc_xy_np(p[:, 0], p[:, 1], zoom)
            pix = np.column_stack([(X - row.x) * extent,
                                   (Y - row.y) * extent])
            pix = TL.simplify_ring_np(pix, tol)
            q = np.floor(pix + 0.5).astype(np.int64)
            q = TL._dedupe_consecutive(q, drop_wrap=False)
            if len(q) >= 2:
                want_parts.append(q)
        assert want_parts, (row.x, row.y)
        assert list(row.part_lens) == [len(p) for p in want_parts]
        got = np.column_stack([np.asarray(row.pxs), np.asarray(row.pys)])
        assert (got == np.concatenate(want_parts)).all()
        d = np.diff(np.concatenate(want_parts), axis=0)
        # length excludes the join between parts
        wl = sum(float(np.hypot(*np.diff(p, axis=0).T).sum())
                 for p in want_parts)
        assert row.length_px == pytest.approx(wl)
    # the way's own tile trail covers > 1 tile and every vertex's tile
    vx, vy = WM.tile_xy_np(base[:, 1], base[:, 0], zoom)
    assert {(int(a), int(b)) for a, b in zip(vx, vy)} <= seen
    assert len(seen) > 3


def test_build_vector_tile_lines_split_feature(spark):
    """A U-shaped way that leaves a tile and comes back must emit ONE
    feature with TWO parts in that tile (a multilinestring), not two
    features."""
    zoom = 10
    # tile-sized U: out the east edge, back in further north
    x0, y0 = 550, 335
    n = float(1 << zoom)
    lon0 = (x0 + 0.2) / n * 360.0 - 180.0
    lon1 = (x0 + 1.8) / n * 360.0 - 180.0   # one tile east
    lat_a = TL._inv_merc_lat(y0 + 0.8, zoom)
    lat_b = TL._inv_merc_lat(y0 + 0.2, zoom)
    df = _line_df(spark, 5, [(lon0, lat_a), (lon1, lat_a),
                             (lon1, lat_b), (lon0, lat_b)])
    feats = {(r.x, r.y): r
             for r in TL.build_vector_tile_lines(df, zoom).collect()}
    assert (x0, y0) in feats
    row = feats[(x0, y0)]
    assert len(row.part_lens) == 2, row
    assert row.way_id == 5


def test_build_vector_tile_lines_antimeridian(spark):
    """A way crossing ±180° renders on both sides of the seam with
    re-centred longitudes (same wrapped-cover semantics as polygons)."""
    zoom = 8
    df = _line_df(spark, 9, [(179.2, -17.0), (-179.4, -17.3)])
    feats = TL.build_vector_tile_lines(df, zoom).collect()
    xs = {r.x for r in feats}
    nt = 1 << zoom
    assert xs and max(xs) == nt - 1 and min(xs) == 0
    assert not {x for x in xs if 4 < x < nt - 5}
    for r in feats:
        got = np.column_stack([np.asarray(r.pxs), np.asarray(r.pys)])
        assert len(got) >= 2


def test_tile_points_fanout_and_wrap(spark):
    """Interior points emit once; a point within the buffer margin of a
    tile edge duplicates into the neighbor with out-of-range pixel
    coords; the antimeridian seam wraps in x."""
    zoom, extent, buf = 6, 4096, 16
    nt = 1 << zoom
    # tile 32,21 spans lon [0, 5.625); its east edge is 5.625
    eps_lon = 5.625 - 0.0001
    rows = [(1, 2.8, 40.0),          # interior
            (2, eps_lon, 40.0),      # near east edge → also tile 33
            (3, 179.9999, 40.0),     # near the seam → wraps to x=0
            (4, -179.9999, 40.0)]    # west side of the seam → x=nt-1 dup
    df = spark.createDataFrame(rows, "point_id long, lon double, "
                                     "lat double")
    got = TL.tile_points(df, zoom, extent, buf).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.point_id, []).append(r)
    assert len(by_id[1]) == 1 and 0 <= by_id[1][0].px <= extent
    assert len(by_id[2]) == 2
    xs2 = sorted(r.x for r in by_id[2])
    assert xs2 == [32, 33]
    px_right = [r.px for r in by_id[2] if r.x == 33][0]
    assert -buf <= px_right <= 0
    assert {r.x for r in by_id[3]} == {nt - 1, 0}
    assert {r.x for r in by_id[4]} == {0, nt - 1}
    # wrapped duplicate of point 3 renders in tile 0's left margin
    px_wrap = [r.px for r in by_id[3] if r.x == 0][0]
    assert -buf <= px_wrap <= 0


def test_encode_mvt_layers_end_to_end(spark):
    """Full three-layer tile: polygons + lines + points of one tile in
    one blob; layers decode in caller order with correct geometry
    types and the exact quantized coordinates of the source frames;
    blobs byte-deterministic under repartition."""
    zoom = 9
    n = float(1 << zoom)
    x0, y0 = 275, 175
    lon_m = (x0 + 0.5) / n * 360.0 - 180.0
    lat_m = TL._inv_merc_lat(y0 + 0.5, zoom)
    lon_e = (x0 + 0.9) / n * 360.0 - 180.0
    lat_e = TL._inv_merc_lat(y0 + 0.9, zoom)
    ring = [{"lon": lon_m, "lat": lat_m}, {"lon": lon_e, "lat": lat_m},
            {"lon": lon_e, "lat": lat_e}, {"lon": lon_m, "lat": lat_e}]
    polys = spark.createDataFrame(
        [(11, [ring], lon_m, min(lat_m, lat_e), lon_e,
          max(lat_m, lat_e))],
        "polygon_id long, rings array<array<struct<lon double, "
        "lat double>>>, left double, bottom double, right double, "
        "top double")
    lines = _line_df(spark, 22, [(lon_m, lat_m), (lon_e, lat_e)])
    pts = spark.createDataFrame(
        [(33, lon_m, lat_m), (44, lon_e, lat_e)],
        "point_id long, lon double, lat double")
    pf = TL.build_vector_tiles(polys, zoom)
    lf = TL.build_vector_tile_lines(lines, zoom)
    ptf = TL.tile_points(pts, zoom)
    tiles = TL.encode_mvt_layers(
        [("areas", pf, "polygon"), ("roads", lf, "line"),
         ("pois", ptf, "point")]).collect()
    by_key = {(r.z, r.x, r.y): r for r in tiles}
    row = by_key[(zoom, x0, y0)]
    assert row.n_layers == 3
    dec = MVT.decode_mvt(bytes(row.mvt))
    assert [L["name"] for L in dec["layers"]] == ["areas", "roads",
                                                  "pois"]
    types = [t for L in dec["layers"] for t in L["types"]]
    assert set(dec["layers"][0]["types"]) == {MVT.POLYGON}
    assert set(dec["layers"][1]["types"]) == {MVT.LINESTRING}
    assert set(dec["layers"][2]["types"]) == {MVT.POINT}
    assert row.n_features == len(types)
    # line geometry matches the features frame exactly
    lrow = [r for r in lf.collect() if (r.x, r.y) == (x0, y0)][0]
    fid, parts = dec["layers"][1]["features"][0]
    assert fid == 22
    got = np.concatenate(parts)
    want = np.column_stack([np.asarray(lrow.pxs), np.asarray(lrow.pys)])
    assert (got == want).all()
    # point pixels match tile_points output
    prow = {r.point_id: r for r in ptf.collect()
            if (r.x, r.y) == (x0, y0)}
    for fid, parts in dec["layers"][2]["features"]:
        assert (parts[0][0] == (prow[fid].px, prow[fid].py)).all()
    # byte-determinism under input partitioning
    tiles2 = TL.encode_mvt_layers(
        [("areas", pf.repartition(5), "polygon"),
         ("roads", lf.repartition(3), "line"),
         ("pois", ptf.repartition(7), "point")]).collect()
    assert {(r.z, r.x, r.y): bytes(r.mvt) for r in tiles2} == \
        {(r.z, r.x, r.y): bytes(r.mvt) for r in tiles}


# ---------------------------------------------------------------------------
# feature attributes (layer key/value dictionaries, spec §4.4)
# ---------------------------------------------------------------------------


def test_mvt_tags_golden_bytes():
    """Hand-assembled feature with tags: id 7, tags (k0,v0),(k1,v1) →
    field 2 packed [0,0,1,1] BETWEEN id (field 1) and type (field 3)."""
    tags = MVT.encode_tags_packed([0, 0, 1, 1])
    assert tags == bytes([0x12, 4, 0, 0, 1, 1])
    b = MVT.encode_feature(7, [np.array([[2, 2], [10, 2]])],
                           MVT.LINESTRING, tags)
    assert b == bytes([0x08, 7, 0x12, 4, 0, 0, 1, 1,
                       0x18, 2, 0x22, 6, 9, 4, 4, 10, 16, 0])
    # layer wrapper: keys field 3, values as Value{string_value} field 4
    layer = MVT.encode_layer("t", P.field_len(2, b), 4096,
                             keys=["highway", "name"],
                             values=["primary", "A1"])
    dec = MVT.decode_mvt(MVT.encode_tile(layer))
    assert dec["layers"][0]["keys"] == ["highway", "name"]
    assert dec["layers"][0]["values"] == ["primary", "A1"]
    assert dec["layers"][0]["attrs"] == [{"highway": "primary",
                                          "name": "A1"}]


def test_mvt_tags_roundtrip_shared_dict():
    """Two features sharing a key and differing in value: the layer
    dictionary dedupes, per-feature attrs resolve correctly."""
    kd, vd = {}, {}

    def tag(pairs):
        out = []
        for k, v in pairs:
            out.append(kd.setdefault(k, len(kd)))
            out.append(vd.setdefault(v, len(vd)))
        return MVT.encode_tags_packed(out)

    f1 = MVT.encode_feature(1, [np.array([[0, 0]])], MVT.POINT,
                            tag([("name", "a"), ("amenity", "cafe")]))
    f2 = MVT.encode_feature(2, [np.array([[5, 5]])], MVT.POINT,
                            tag([("name", "b")]))
    layer = MVT.encode_layer(
        "pois", P.field_len(2, f1) + P.field_len(2, f2), 4096,
        keys=list(kd), values=list(vd))
    dec = MVT.decode_mvt(MVT.encode_tile(layer))["layers"][0]
    assert dec["keys"] == ["name", "amenity"]
    assert dec["values"] == ["a", "cafe", "b"]
    assert dec["attrs"] == [{"name": "a", "amenity": "cafe"},
                            {"name": "b"}]


def test_encode_mvt_layers_attrs(spark):
    """Attributed layered tiles: POI tags survive the full Spark path
    (attr join → dictionaries → packed tags → decode), untagged
    features carry no tags field, blobs stay byte-deterministic."""
    zoom = 9
    n = float(1 << zoom)
    x0, y0 = 275, 175
    lon_m = (x0 + 0.5) / n * 360.0 - 180.0
    lat_m = TL._inv_merc_lat(y0 + 0.5, zoom)
    lon_e = (x0 + 0.9) / n * 360.0 - 180.0
    lat_e = TL._inv_merc_lat(y0 + 0.9, zoom)
    pts = spark.createDataFrame(
        [(33, lon_m, lat_m), (44, lon_e, lat_e), (55, lon_e, lat_m)],
        "point_id long, lon double, lat double")
    attrs = spark.createDataFrame(
        [(33, ["name", "amenity"], ["a", "cafe"]),
         (44, ["name"], ["b"])],   # 55 has NO attrs row
        "fid long, tag_ks array<string>, tag_vs array<string>")
    ptf = TL.tile_points(pts, zoom)
    tiles = TL.encode_mvt_layers([("pois", ptf, "point", attrs)]) \
        .collect()
    row = [r for r in tiles if (r.x, r.y) == (x0, y0)][0]
    dec = MVT.decode_mvt(bytes(row.mvt))["layers"][0]
    got = {fid: a for (fid, _g), a in zip(dec["features"], dec["attrs"])}
    assert got == {33: {"name": "a", "amenity": "cafe"},
                   44: {"name": "b"}, 55: {}}
    assert dec["keys"] == ["name", "amenity"]
    assert dec["values"] == ["a", "cafe", "b"]
    tiles2 = TL.encode_mvt_layers(
        [("pois", ptf.repartition(4), "point", attrs.repartition(2))]) \
        .collect()
    assert {(r.x, r.y): bytes(r.mvt) for r in tiles2} == \
        {(r.x, r.y): bytes(r.mvt) for r in tiles}
