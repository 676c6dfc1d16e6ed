"""Seeded input generators for the two workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. Files are written once per (workload,
seed) under the work directory and reused; generation is never timed.

Each generator also returns the golden values the output checks need
that do not come from a query (OSM round-trip invariants, polygon
counts), so no check trusts the engine under test.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RING_T = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
TAGS_T = pa.list_(pa.struct([pa.field("k", pa.string(), False),
                             pa.field("v", pa.string(), False)]))
MEMBERS_T = pa.list_(pa.struct([pa.field("type", pa.string(), False),
                                pa.field("id", pa.int64(), False),
                                pa.field("role", pa.string(), False)]))

# Pair fingerprint shared by the engine-side aggregate, the DuckDB
# oracles and the numpy brute force: (count, s1, s2) over (a, b) pairs.
# Every product stays far below 2^63 for ids < 2^31.
FP_SQL = ("count(*)",
          "sum(({a} * 2654435761 + {b} * 40503) % 2147483647)",
          "sum(({a} * 40503 + {b} * 97) % 1000000007)")


def fingerprint_np(a, b) -> list[int]:
    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    return [int(len(a)),
            int(((a * 2654435761 + b * 40503) % 2147483647).sum()),
            int(((a * 40503 + b * 97) % 1000000007).sum())]


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 20)
    os.replace(tmp, path)


def _rings_array(rings_per_poly, pts_per_ring, lons, lats) -> pa.Array:
    """Nested list<list<struct<lon,lat>>> from flat counts + coords."""
    pts = pa.StructArray.from_arrays(
        [pa.array(lons, pa.float64()), pa.array(lats, pa.float64())],
        fields=list(RING_T.value_type))
    ring_off = np.concatenate([[0], np.cumsum(pts_per_ring)]).astype(np.int32)
    poly_off = np.concatenate([[0], np.cumsum(rings_per_poly)]).astype(np.int32)
    rings = pa.ListArray.from_arrays(pa.array(ring_off), pts)
    return pa.ListArray.from_arrays(pa.array(poly_off), rings)


def _star(rng, cx, cy, radius, n, rmin=0.55):
    """A simple ring of n vertices, star-shaped around its centre:
    jittered even angles, so no ring degenerates into a sliver."""
    ang = (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * np.pi / n) \
        + rng.uniform(0.0, 2 * np.pi)
    r = radius * rng.uniform(rmin, 1.0, n)
    return cx + r * np.cos(ang), cy + r * np.sin(ang)


def _bbox_cols(xs_list, ys_list):
    return ({"left": np.array([x.min() for x in xs_list]),
             "bottom": np.array([y.min() for y in ys_list]),
             "right": np.array([x.max() for x in xs_list]),
             "top": np.array([y.max() for y in ys_list])})


# ---------------------------------------------------------------------------
# image_join: clustered geotagged images x rects / triangles / concave rings
# ---------------------------------------------------------------------------

IMAGE_JOIN = {"images": 300_000, "hotspots": 24, "rects": 1000,
              "triangles": 500, "stars": 100, "knn_probes": 1000,
              "s2_images": 20_000, "s2_polygons": 30, "join_res": 10,
              "raster_res": 7, "knn_res": 4, "knn_k": 3}
_CAPTION_WORDS = np.array(["harbour", "bridge", "market", "forest", "beach",
                           "tower", "street", "park", "river", "station"])


def gen_image_join(seed: int, out: str) -> dict:
    p = IMAGE_JOIN
    rng = _rng(seed, 1)
    hs_lat = rng.uniform(-55, 55, p["hotspots"])
    hs_lon = rng.uniform(-165, 165, p["hotspots"])
    n = p["images"]
    hot = rng.random(n) < 0.85
    k = rng.integers(0, p["hotspots"], n)
    lat = np.where(hot, hs_lat[k] + rng.normal(0, 1.5, n),
                   rng.uniform(-60, 60, n))
    lon = np.where(hot, hs_lon[k] + rng.normal(0, 1.5, n),
                   rng.uniform(-170, 170, n))
    lat = np.clip(lat, -70, 70)
    lon = np.clip(lon, -175, 175)
    img_id = np.arange(1, n + 1, dtype=np.int64) * 7 + (seed % 7)
    caption = [f"img {i} {w}" for i, w in
               zip(img_id.tolist(), _CAPTION_WORDS[rng.integers(0, 10, n)])]
    _write(pa.table({"img_id": img_id, "lat": lat, "lon": lon,
                     "caption": pa.array(caption, pa.string())}),
           f"{out}/images.parquet")

    def centres(m):
        kk = rng.integers(0, p["hotspots"], m)
        return (np.clip(hs_lon[kk] + rng.normal(0, 2.0, m), -172, 172),
                np.clip(hs_lat[kk] + rng.normal(0, 2.0, m), -67, 67))

    # rects: flagship / raster / kNN build side. 119 of them sit on a
    # jittered 17 x 7 grid over the globe: every image then has three
    # rects within 30 degrees, so every kNN probe settles in the same
    # two ring expansions whatever the seed puts the hot spots at.
    m = p["rects"]
    cx, cy = centres(m)
    gx, gy = np.meshgrid(np.linspace(-172, 172, 17), np.linspace(-66, 66, 7))
    cx[:119] = gx.ravel() + rng.uniform(-1, 1, 119)
    cy[:119] = gy.ravel() + rng.uniform(-1, 1, 119)
    hw = rng.uniform(0.05, 0.5, m)
    hh = rng.uniform(0.05, 0.5, m)
    rect_id = np.arange(1, m + 1, dtype=np.int64) * 10
    _write(pa.table({"polygon_id": rect_id, "clon": cx, "clat": cy,
                     "left": cx - hw, "bottom": cy - hh,
                     "right": cx + hw, "top": cy + hh}),
           f"{out}/rects.parquet")

    # general polygons: triangles + a few concave many-vertex rings
    xs, ys = [], []
    nt, ns = p["triangles"], p["stars"]
    tx, ty = centres(nt)
    for i in range(nt):
        x, y = _star(rng, tx[i], ty[i], rng.uniform(0.1, 0.6), 3, rmin=0.4)
        xs.append(x), ys.append(y)
    sx, sy = centres(ns)
    for i in range(ns):
        x, y = _star(rng, sx[i], sy[i], rng.uniform(0.2, 1.0),
                     int(rng.integers(20, 80)), rmin=0.3)
        xs.append(x), ys.append(y)
    poly_id = np.arange(1, nt + ns + 1, dtype=np.int64) * 10 + 5
    rings = _rings_array(np.ones(len(xs), np.int64), [len(x) for x in xs],
                         np.concatenate(xs), np.concatenate(ys))
    _write(pa.table({"polygon_id": poly_id, "rings": rings,
                     **_bbox_cols(xs, ys)}), f"{out}/polys.parquet")

    # subsets: kNN and S2 probes (every k-th image) and S2 polygons
    # (spread evenly over the triangles and the stars)
    for name in ("knn_probes", "s2_images"):
        step = n // p[name]
        _write(pa.table({"img_id": img_id[::step], "lat": lat[::step],
                         "lon": lon[::step]}), f"{out}/{name}.parquet")
    s2_idx = np.linspace(0, len(xs) - 1, p["s2_polygons"]).astype(int)
    _write(pq.read_table(f"{out}/polys.parquet").take(s2_idx),
           f"{out}/s2_polys.parquet")
    return {"images": n}


# ---------------------------------------------------------------------------
# osm_extract: OSM-shaped history extract + probe images inside its bbox
# ---------------------------------------------------------------------------

OSM_EXTRACT = {"buildings": 4800, "roads": 200, "multipolygons": 160,
               "pois": 2400, "span_e7": 2_000_000, "zoom": 15, "shards": 4,
               "regions": 4}
_BASE_TS = 1_600_000_000_000
_BUILDING = ["yes", "house", "residential", "commercial", "garage"]
_HIGHWAY = ["residential", "primary", "secondary", "service", "track"]
_AMENITY = ["cafe", "school", "bank", "pharmacy", "bench"]


def _deg(e7):
    """Coordinate as read back from PBF (nanodegree ints / 1e9)."""
    return (np.asarray(e7, np.int64) * 100) / 1e9


def _tag_hash(rows) -> int:
    return sum(zlib.crc32(f"{t['k']}={t['v']}".encode())
               for r in rows for t in r["tags"])


def gen_osm_extract(seed: int, out: str) -> dict:
    p = OSM_EXTRACT
    rng = _rng(seed, 3)
    span = p["span_e7"]
    lat0 = int(rng.uniform(-45, 45) * 1e7)
    lon0 = int(rng.uniform(-150, 150) * 1e7)
    nodes, ways, rels = [], [], []
    nid = [100_000_000 + int(rng.integers(0, 1000))]

    def meta(i, version=1, visible=True):
        cs = 5000 + (i % 97)
        return {"version": version, "timestamp": _BASE_TS + i * 1000,
                "changeset": cs, "uid": 1 + cs % 13, "user": f"u{cs % 13}",
                "visible": visible}

    def add_node(x_e7, y_e7, tags=()):
        nid[0] += int(rng.integers(1, 5))
        nodes.append({"etype": "node", "id": nid[0], "lat": float(_deg(y_e7)),
                      "lon": float(_deg(x_e7)), "e7": (x_e7, y_e7),
                      "tags": list(tags), **meta(len(nodes))})
        return len(nodes) - 1

    def ring_nodes(cx, cy, r_e7, n, rmin):
        x, y = _star(rng, cx, cy, r_e7, n, rmin)
        return [add_node(int(a), int(b))
                for a, b in zip(np.round(x), np.round(y))]

    def way(wid, idx, tags, closed):
        refs = [nodes[i]["id"] for i in idx]
        if closed:
            refs.append(refs[0])
        ways.append({"etype": "way", "id": wid, "refs": refs,
                     "tags": tags, **meta(len(ways))})
        return len(ways) - 1

    # tiny building rings, clustered in town blocks
    towns = rng.uniform(0, span, (12, 2))
    wid = 200_000_000
    building_ways = []
    for i in range(p["buildings"]):
        t = towns[int(rng.integers(0, len(towns)))]
        cx = int(np.clip(t[0] + rng.normal(0, span * 0.06), 0, span)) + lon0
        cy = int(np.clip(t[1] + rng.normal(0, span * 0.06), 0, span)) + lat0
        idx = ring_nodes(cx, cy, rng.uniform(200, 600),
                         int(rng.integers(4, 8)), 0.7)
        wid += int(rng.integers(1, 4))
        building_ways.append(way(
            wid, idx,
            [{"k": "building", "v": str(_BUILDING[i % 5])}], True))
    # multipolygons: outer ring + inner ring strictly inside it
    rid = 9_000_000
    for i in range(p["multipolygons"]):
        cx = int(rng.uniform(0.05, 0.95) * span) + lon0
        cy = int(rng.uniform(0.05, 0.95) * span) + lat0
        r = rng.uniform(2_000, 12_000)
        outer = ring_nodes(cx, cy, r, int(rng.integers(10, 24)), 0.75)
        inner = ring_nodes(cx, cy, r * 0.35, int(rng.integers(5, 10)), 0.6)
        wid += int(rng.integers(1, 4))
        wo = way(wid, outer, [], True)
        wid += int(rng.integers(1, 4))
        wi = way(wid, inner, [], True)
        rid += int(rng.integers(1, 6))
        rels.append({"etype": "relation", "id": rid,
                     "members": [
                         {"type": "Way", "id": ways[wo]["id"], "role": "outer"},
                         {"type": "Way", "id": ways[wi]["id"], "role": "inner"}],
                     "tags": [{"k": "type", "v": "multipolygon"},
                              {"k": "natural", "v": "water"}],
                     **meta(len(rels))})
    # open roads spanning many tiles
    for i in range(p["roads"]):
        nv = int(rng.integers(30, 90))
        x = np.cumsum(rng.normal(0, 0.02, nv)) * span + rng.uniform(0, span)
        y = np.cumsum(rng.normal(0, 0.02, nv)) * span + rng.uniform(0, span)
        x = np.clip(x, 0, span) + lon0
        y = np.clip(y, 0, span) + lat0
        idx = [add_node(int(a), int(b)) for a, b in zip(x, y)]
        wid += int(rng.integers(1, 4))
        way(wid, idx, [{"k": "highway", "v": str(_HIGHWAY[i % 5])},
                       {"k": "name", "v": f"Road {i}"}], False)
    # tagged POIs
    poi_first = len(nodes)
    for i in range(p["pois"]):
        add_node(int(rng.uniform(0, span)) + lon0,
                 int(rng.uniform(0, span)) + lat0,
                 [{"k": "amenity", "v": str(_AMENITY[i % 5])},
                  {"k": "name", "v": f"Poi {i}"}])

    # history: later versions. Moved nodes (building corners shift by a
    # few 1e-7 degrees), retagged/deleted buildings, edited/deleted POIs.
    extra = []
    for i in range(0, poi_first, 11):       # moved geometry nodes
        n = dict(nodes[i])
        n.update(meta(i + 7, version=2))
        x_e7, y_e7 = n["e7"]
        n["lat"] = float(_deg(y_e7 + 3))
        n["lon"] = float(_deg(x_e7 - 2))
        extra.append(n)
    deleted_ways = set()
    for j, wi in enumerate(building_ways[::17]):
        w = dict(ways[wi])
        w.update(meta(wi + 3, version=2, visible=(j % 2 == 0)))
        if j % 2 == 0:
            w["tags"] = [{"k": "building", "v": "demolished"}]
        else:
            deleted_ways.add(w["id"])
        extra.append(w)
    for j, i in enumerate(range(poi_first, len(nodes), 9)):
        n = dict(nodes[i])
        n.update(meta(i + 5, version=2, visible=(j % 3 != 0)))
        if j % 3:
            n["tags"] = n["tags"] + [{"k": "opening_hours", "v": "24/7"}]
        extra.append(n)
    all_rows = nodes + ways + rels + extra

    # current polygons: closed, undeleted ways (one ring each) plus the
    # multipolygons (outer + inner ring)
    polys = [(w["id"], 1) for w in ways
             if w["refs"][0] == w["refs"][-1] and w["id"] not in deleted_ways]
    polys += [(r["id"], 2) for r in rels]

    # region reads: sub-boxes of the extract, 5-40% of its side
    regions = []
    for _ in range(p["regions"]):
        w = rng.uniform(0.05, 0.4) * span
        x0 = rng.uniform(0, span - w) + lon0
        y0 = rng.uniform(0, span - w) + lat0
        regions.append([float(_deg(x0)), float(_deg(y0)),
                        float(_deg(x0 + w)), float(_deg(y0 + w))])

    cols = {}
    for f in ("etype", "id", "version", "lat", "lon", "timestamp",
              "changeset", "uid", "user", "visible", "tags", "refs",
              "members"):
        cols[f] = [r.get(f) for r in all_rows]
    table = pa.table({
        "etype": pa.array(cols["etype"], pa.string()),
        "id": pa.array(cols["id"], pa.int64()),
        "version": pa.array(cols["version"], pa.int32()),
        "lat": pa.array(cols["lat"], pa.float64()),
        "lon": pa.array(cols["lon"], pa.float64()),
        "timestamp": pa.array(cols["timestamp"], pa.int64()),
        "changeset": pa.array(cols["changeset"], pa.int64()),
        "uid": pa.array(cols["uid"], pa.int32()),
        "user": pa.array(cols["user"], pa.string()),
        "visible": pa.array(cols["visible"], pa.bool_()),
        "tags": pa.array(cols["tags"], TAGS_T),
        "refs": pa.array(cols["refs"], pa.list_(pa.int64())),
        "members": pa.array(cols["members"], MEMBERS_T),
    })
    _write(table, f"{out}/elements.parquet")

    golden = {"types": {}, "tag_hash": _tag_hash(all_rows)}
    for et in ("node", "way", "relation"):
        ids = [r["id"] for r in all_rows if r["etype"] == et]
        golden["types"][et] = [len(ids), min(ids), max(ids)]
    nlat = [r["lat"] for r in all_rows if r["etype"] == "node"]
    nlon = [r["lon"] for r in all_rows if r["etype"] == "node"]
    golden["bbox"] = [min(nlon), min(nlat), max(nlon), max(nlat)]
    golden["polygons"] = len(polys)
    golden["rings"] = sum(r for _, r in polys)
    golden["regions"] = regions
    golden["elements"] = len(all_rows)
    golden["polygon_ids"] = sorted(pid for pid, _ in polys)
    return golden


GENERATORS = {"image_join": gen_image_join, "osm_extract": gen_osm_extract}


def inputs(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """(input directory, meta) for (workload, seed); generates once
    per seed and size."""
    sizes = {"image_join": IMAGE_JOIN, "osm_extract": OSM_EXTRACT}[workload]
    tag = zlib.crc32(json.dumps(sizes, sort_keys=True).encode())
    out = os.path.join(root, f"{workload}-s{seed}-{tag:08x}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(out, exist_ok=True)
        meta = GENERATORS[workload](seed, out)
        with open(meta_path + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as fh:
        return out, json.load(fh)
