"""Output checks that do not trust the engine under test.

* DuckDB oracles over the generated parquet give the pair fingerprints
  of the rect join, the planar point-in-polygon join, the raster
  assignment and the kNN join.
* A numpy brute-force spherical winding test gives the S2 join pairs.
* An independent protobuf walker decodes every MVT blob.
* Region reads are compared with a filter of the committed snapshot
  read straight from its parquet files with pyarrow.
"""

from __future__ import annotations

import glob
import json
import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .gen import FP_SQL, IMAGE_JOIN, OSM_EXTRACT, fingerprint_np


def _fp_sql(a: str, b: str) -> str:
    return ", ".join(f"CAST({e.format(a=a, b=b)} AS BIGINT)" for e in FP_SQL)


def _edges(polys_path: str):
    """Flat (polygon_id, x1, y1, x2, y2) edge arrays, closing edge included."""
    t = pq.read_table(polys_path, columns=["polygon_id", "rings"])
    ids = t.column("polygon_id").to_numpy()
    out = {k: [] for k in ("polygon_id", "x1", "y1", "x2", "y2")}
    for pid, rings in zip(ids, t.column("rings").to_pylist()):
        for ring in rings:
            x = np.array([p["lon"] for p in ring])
            y = np.array([p["lat"] for p in ring])
            out["polygon_id"].append(np.full(len(x), pid, np.int64))
            out["x1"].append(x), out["y1"].append(y)
            out["x2"].append(np.roll(x, -1)), out["y2"].append(np.roll(y, -1))
    return {k: np.concatenate(v) for k, v in out.items()}


def image_join_oracles(d: str) -> dict:
    """Pair fingerprints per call, from DuckDB and numpy only."""
    p = IMAGE_JOIN
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in ("images", "rects", "polys", "knn_probes"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
        con.register("edges", pa.table(_edges(f"{d}/polys.parquet")))
        out = {}
        out["rect"] = con.execute(f"""
            SELECT {_fp_sql('i.img_id', 'r.polygon_id')}
            FROM images i JOIN rects r
              ON i.lon > r."left" AND i.lon < r."right"
             AND i.lat > r.bottom AND i.lat < r.top""").fetchone()
        out["pip"] = con.execute(f"""
            WITH cand AS (
              SELECT i.img_id, i.lat, i.lon, q.polygon_id
              FROM images i JOIN polys q
                ON i.lon > q."left" AND i.lon < q."right"
               AND i.lat > q.bottom AND i.lat < q.top),
            hits AS (
              SELECT c.img_id, c.polygon_id FROM cand c
              JOIN edges e ON e.polygon_id = c.polygon_id
              WHERE (e.y1 > c.lat) <> (e.y2 > c.lat)
                AND c.lon < (e.x2 - e.x1) * (c.lat - e.y1) / (e.y2 - e.y1)
                            + e.x1
              GROUP BY c.img_id, c.polygon_id
              HAVING count(*) % 2 = 1)
            SELECT {_fp_sql('img_id', 'polygon_id')} FROM hits""").fetchone()
        n = float(1 << p["raster_res"])
        top = (1 << p["raster_res"]) - 1

        def g(c, off, span):
            return (f"greatest(0, least({top}, CAST(floor(({c} + {off}) "
                    f"/ {span} * {n}) AS BIGINT)))")
        out["raster"] = con.execute(f"""
            WITH pi AS (SELECT img_id, {g('lon', '180.0', '360.0')} AS x,
                               {g('lat', '90.0', '180.0')} AS y FROM images),
            pr AS (SELECT polygon_id,
                          {g('"left"', '180.0', '360.0')} AS x0,
                          {g('"right"', '180.0', '360.0')} AS x1,
                          {g('bottom', '90.0', '180.0')} AS y0,
                          {g('top', '90.0', '180.0')} AS y1 FROM rects),
            px AS (SELECT polygon_id, unnest(generate_series(x0, x1)) AS x,
                          y0, y1 FROM pr),
            pc AS (SELECT polygon_id, x,
                          unnest(generate_series(y0, y1)) AS y FROM px)
            SELECT {_fp_sql('pi.img_id', 'pc.polygon_id')}
            FROM pi JOIN pc ON pi.x = pc.x AND pi.y = pc.y""").fetchone()
        out["knn"] = con.execute(f"""
            WITH d AS (
              SELECT k.img_id, r.polygon_id,
                     (k.lat - r.clat) * (k.lat - r.clat)
                     + (k.lon - r.clon) * (k.lon - r.clon) AS dsq
              FROM knn_probes k CROSS JOIN rects r),
            ranked AS (
              SELECT img_id, polygon_id, row_number() OVER (
                PARTITION BY img_id ORDER BY dsq, polygon_id) AS rk
              FROM d)
            SELECT {_fp_sql('img_id', 'polygon_id * 4 + rk')}
            FROM ranked WHERE rk <= {p['knn_k']}""").fetchone()
    finally:
        con.close()
    out = {k: [int(x or 0) for x in v] for k, v in out.items()}
    out["s2"] = s2_brute_force(f"{d}/s2_images.parquet",
                               f"{d}/s2_polys.parquet")
    return out


def _xyz(lat, lon):
    la, lo = np.radians(lat), np.radians(lon)
    return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo),
                     np.sin(la)], axis=-1)


def s2_brute_force(images_path: str, polys_path: str) -> list[int]:
    """Spherical containment by winding number: the signed angles that
    consecutive geodesic edges subtend at the point sum to +-2*pi inside
    and 0 outside (even-odd across rings). Candidates: points within the
    polygon's bbox widened by 0.1 degree (geodesic edges bow poleward)."""
    im = pq.read_table(images_path, columns=["img_id", "lat", "lon"])
    ids = im.column("img_id").to_numpy()
    lat = im.column("lat").to_numpy()
    lon = im.column("lon").to_numpy()
    t = pq.read_table(polys_path).to_pylist()
    a_out, b_out = [], []
    for poly in t:
        pad = 0.1
        c = np.flatnonzero((lon > poly["left"] - pad) & (lon < poly["right"] + pad)
                           & (lat > poly["bottom"] - pad)
                           & (lat < poly["top"] + pad))
        if not len(c):
            continue
        P = _xyz(lat[c], lon[c])
        inside = np.zeros(len(c), bool)
        for ring in poly["rings"]:
            V = _xyz(np.array([q["lat"] for q in ring]),
                     np.array([q["lon"] for q in ring]))
            A, B = V, np.roll(V, -1, axis=0)
            cross = np.cross(A, B)                      # (E, 3)
            num = P @ cross.T                           # (m, E)
            den = (A * B).sum(1)[None, :] - (P @ A.T) * (P @ B.T)
            inside ^= np.abs(np.arctan2(num, den).sum(1)) > math.pi
        a_out.append(ids[c[inside]])
        b_out.append(np.full(int(inside.sum()), poly["polygon_id"], np.int64))
    return fingerprint_np(np.concatenate(a_out), np.concatenate(b_out))


# ---------------------------------------------------------------------------
# MVT: an independent decoder (spec 2.1 wire format)
# ---------------------------------------------------------------------------

def _varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        if i >= len(buf) or shift > 63:
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, i
        shift += 7


def _fields(buf: bytes):
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        num, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            n, i = _varint(buf, i)
            if i + n > len(buf):
                raise ValueError("truncated field")
            v, i = buf[i:i + n], i + n
        elif wt == 1:
            v, i = buf[i:i + 8], i + 8
        elif wt == 5:
            v, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"bad wire type {wt}")
        yield num, v


def _geometry_ok(cmds: bytes, gtype: int) -> bool:
    vals, i = [], 0
    while i < len(cmds):
        v, i = _varint(cmds, i)
        vals.append(v)
    j = 0
    while j < len(vals):
        cid, cnt = vals[j] & 7, vals[j] >> 3
        j += 1
        if cid in (1, 2):
            j += 2 * cnt
        elif cid == 7:
            if gtype != 3 or cnt != 1:
                return False
        else:
            return False
    return j == len(vals) and len(vals) > 0


def decode_tile(blob: bytes) -> dict[str, list[int]]:
    """{layer name: [feature ids]}; raises ValueError on a malformed tile."""
    layers = {}
    for num, lv in _fields(blob):
        if num != 3:
            raise ValueError(f"unexpected tile field {num}")
        name, version, extent, fids = None, None, None, []
        for lnum, v in _fields(lv):
            if lnum == 1:
                name = v.decode()
            elif lnum == 15:
                version = v
            elif lnum == 5:
                extent = v
            elif lnum == 2:
                fid, gtype, geom = None, None, None
                for fnum, fv in _fields(v):
                    if fnum == 1:
                        fid = fv
                    elif fnum == 3:
                        gtype = fv
                    elif fnum == 4:
                        geom = fv
                if gtype not in (1, 2, 3) or geom is None \
                        or not _geometry_ok(geom, gtype):
                    raise ValueError(f"bad feature {fid} in layer {name}")
                fids.append(fid)
        if version != 2 or extent != 4096 or not name or not fids:
            raise ValueError(f"bad layer header {name} v{version} e{extent}")
        layers[name] = fids
    if not layers:
        raise ValueError("tile without layers")
    return layers


def tiles_digest(rows) -> str:
    """sha1 over sorted (z, x, y, sha1(mvt)): shows byte changes between
    commits of the engine."""
    h = hashlib.sha1()
    for z, x, y, blob in sorted(rows, key=lambda r: r[:3]):
        h.update(f"{z}/{x}/{y}:{hashlib.sha1(blob).hexdigest()};".encode())
    return h.hexdigest()


def snapshot_tiles(table_dir: str):
    """Committed tile rows read with pyarrow from the table's data files."""
    files = sorted(glob.glob(os.path.join(table_dir, "data", "*", "*.parquet")))
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["z", "x", "y", "mvt"])
        rows.extend(zip(t.column("z").to_pylist(), t.column("x").to_pylist(),
                        t.column("y").to_pylist(), t.column("mvt").to_pylist()))
    return rows, sum(os.path.getsize(f) for f in files), len(files)


def tile_rect(zoom: int, left, bottom, right, top):
    """Slippy tile x/y range of a bbox (published web-mercator formula)."""
    n = 1 << zoom

    def xy(lat, lon):
        r = math.radians(lat)
        x = math.floor((lon + 180.0) / 360.0 * n)
        y = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r))
                        / math.pi) / 2.0 * n)
        return min(max(x, 0), n - 1), min(max(y, 0), n - 1)
    x0, y0 = xy(top, left)
    x1, y1 = xy(bottom, right)
    return x0, x1, y0, y1


# ---------------------------------------------------------------------------
# per-workload checkers
# ---------------------------------------------------------------------------

def _oracle(d: str) -> dict:
    path = os.path.join(d, "oracle.json")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as fh:
            json.dump(image_join_oracles(d), fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def _decode_all(rows, layers: set[str], fid_layer: str, ids: set[int]):
    """Every blob decodes; feature ids of ``fid_layer`` are exactly the
    generated polygon ids (each polygon lands in at least one tile)."""
    errs, seen = [], set()
    for z, x, y, blob in rows:
        try:
            got = decode_tile(blob)
        except ValueError as e:
            errs.append(f"tile {z}/{x}/{y}: {e}")
            continue
        if not set(got) <= layers:
            errs.append(f"tile {z}/{x}/{y}: layers {sorted(got)}")
        seen.update(got.get(fid_layer, ()))
    if seen != ids:
        errs.append(f"{fid_layer} ids: {len(seen - ids)} unknown, "
                    f"{len(ids - seen)} missing")
    return errs[:5]


def _regions(rows, res, zoom: int):
    errs = []
    keyed = [(z, x, y, hashlib.sha1(b).hexdigest()) for z, x, y, b in rows]
    for bbox, got_rows, _scanned in res["regions"]:
        x0, x1, y0, y1 = tile_rect(zoom, *bbox)
        want = sorted(k for k in keyed
                      if x0 <= k[1] <= x1 and y0 <= k[2] <= y1)
        got = sorted((z, x, y, hashlib.sha1(b).hexdigest())
                     for z, x, y, b in got_rows)
        if got != want:
            errs.append(f"region {bbox}: {len(got)} tiles, want {len(want)}")
    return errs


def _osm(res, golden):
    errs = []
    rd = res["read"]
    for et, (n, lo, hi) in golden["types"].items():
        if et not in rd or rd[et][:3] != [n, lo, hi]:
            errs.append(f"{et}: read {rd.get(et, [None])[:3]}, "
                        f"want {[n, lo, hi]}")
    node = rd.get("node", [0] * 8)
    if node[3:7] != golden["bbox"]:
        errs.append(f"bbox {node[3:7]} != {golden['bbox']}")
    if sum(v[7] or 0 for v in rd.values()) != golden["tag_hash"]:
        errs.append("tag multiset hash differs")
    for k in ("polygons", "rings"):
        if res[k] != golden[k]:
            errs.append(f"{k}: {res[k]} != {golden[k]}")
    return errs


def checker(wl: str, d: str, meta: dict):
    """res -> (ok, message). Tile blobs are fully decoded on the first
    job; later jobs must reproduce its digest byte for byte."""
    if wl == "image_join":
        oracle = _oracle(d)

        def check(res):
            bad = [k for k in oracle if res[k] != oracle[k]]
            res["digest"] = hashlib.sha1(json.dumps(
                [res[k] for k in sorted(oracle)]).encode()).hexdigest()
            return not bad, f"mismatch {bad}" if bad else "ok"
        return check

    first = {}

    def check(res):
        errs = []
        rows, nbytes, nfiles = snapshot_tiles(res["table_dir"])
        res["snapshot"] = {"rows": len(rows), "bytes": nbytes,
                           "files": nfiles}
        res["digest"] = tiles_digest(rows)
        if len(rows) != res["tiles"]:
            errs.append(f"snapshot holds {len(rows)} tiles, encoded "
                        f"{res['tiles']}")
        if not first:
            errs += _decode_all(rows, {"areas", "roads", "pois"}, "areas",
                                set(meta["polygon_ids"]))
            first["digest"] = res["digest"]
        elif res["digest"] != first["digest"]:
            errs.append("tile bytes differ from the first job's")
        errs += _regions(rows, res, OSM_EXTRACT["zoom"])
        errs += _osm(res, meta)
        if res["blocks"] < 1 or res["pbf_bytes"] <= 0:
            errs.append("empty PBF")
        return not errs, "; ".join(errs) or "ok"
    return check
