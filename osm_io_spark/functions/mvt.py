"""Mapbox Vector Tile (MVT 2.1) binary codec — pure python/numpy.

The published spec (github.com/mapbox/vector-tile-spec, 2.1) defines a
tile as a protobuf message; the container ships no protobuf runtime, so
the messages are built and scanned with the repository's one wire codec,
sources/pbf/proto.py (varints, field headers, zigzag, the vectorized
varint encoder and the field scanner the OSM PBF codec uses too):

  Tile:    layers  = repeated message, field 3
  Layer:   version = varint 15 (must be 2), name = string 1,
           features = repeated message 2, keys = repeated string 3,
           values = repeated message 4, extent = varint 5
  Feature: id = varint 1, tags = packed varint 2 (alternating
           key-index / value-index pairs into the LAYER's keys/values
           dictionaries — spec §4.4),
           type = varint 3 (POINT = 1 / LINESTRING = 2 / POLYGON = 3),
           geometry = packed uint32 commands, field 4
  Value:   string_value = field 1 (OSM tag values are strings; the
           other Value variants are unused here)

Geometry command stream (spec §4.3): CommandInteger
``(id & 0x7) | (count << 3)`` with MoveTo=1 / LineTo=2 / ClosePath=7;
ParameterIntegers are zigzag-encoded coordinate deltas. Each polygon
ring is MoveTo(1) + LineTo(n-1) + ClosePath, deltas running across
rings (cursor persists); a linestring part is the same without the
ClosePath; a (multi)point feature is ONE MoveTo whose count is the
number of points (spec §4.3.4.1).

Ring winding is passed through from the source geometry (the spec
assigns exterior/interior meaning to CW/CCW in y-down screen space;
normalizing arbitrary OSM winding would need nesting analysis — same
even-odd caveat as operators/tiles._feature_rows).

The decoder exists for tests (roundtrip proof) and debugging; it
parses exactly the subset the encoder emits plus unknown-field skips.
"""

from __future__ import annotations

import numpy as np

from ..sources.pbf import proto as P

MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7
POINT, LINESTRING, POLYGON = 1, 2, 3


def geometry_commands(rings, geom_type: int = POLYGON) -> np.ndarray:
    """uint32 command stream for a feature's parts (list of (n,2) int
    arrays; polygon rings open — no repeated closing vertex). The delta
    cursor runs across parts per the spec.

    POLYGON: per ring MoveTo(1) + LineTo(n-1) + ClosePath.
    LINESTRING: per part MoveTo(1) + LineTo(n-1) — no ClosePath.
    POINT: ALL parts collapse into one MoveTo(total) (spec §4.3.4.1:
    a multipoint is a single MoveTo whose count is the point count)."""
    if geom_type == POINT:
        q = (np.concatenate([np.asarray(r, np.int64).reshape(-1, 2)
                             for r in rings])
             if len(rings) else np.empty((0, 2), np.int64))
        n = len(q)
        if n == 0:
            return np.empty(0, np.uint64)
        zx = P.zigzag_encode(np.diff(q[:, 0], prepend=0))
        zy = P.zigzag_encode(np.diff(q[:, 1], prepend=0))
        arr = np.empty(2 * n + 1, np.uint64)
        arr[0] = (MOVE_TO & 0x7) | (n << 3)
        arr[1::2], arr[2::2] = zx, zy
        return arr
    close = geom_type == POLYGON
    parts = []
    cx = cy = 0
    for q in rings:
        q = np.asarray(q, np.int64).reshape(-1, 2)
        n = len(q)
        dx = np.diff(q[:, 0], prepend=cx)
        dy = np.diff(q[:, 1], prepend=cy)
        zx, zy = P.zigzag_encode(dx), P.zigzag_encode(dy)
        arr = np.empty(2 * n + 2 + close, np.uint64)
        arr[0] = (MOVE_TO & 0x7) | (1 << 3)
        arr[1], arr[2] = zx[0], zy[0]
        arr[3] = (LINE_TO & 0x7) | ((n - 1) << 3)
        arr[4:2 * n + 2:2] = zx[1:]
        arr[5:2 * n + 2:2] = zy[1:]
        if close:
            arr[2 * n + 2] = (CLOSE_PATH & 0x7) | (1 << 3)
        parts.append(arr)
        cx, cy = int(q[-1, 0]), int(q[-1, 1])
    return (np.concatenate(parts) if parts
            else np.empty(0, np.uint64))


def encode_features_batch(q: np.ndarray, ring_lens: np.ndarray,
                          feat_of_ring: np.ndarray,
                          feat_ids: np.ndarray,
                          geom_type: int = POLYGON,
                          tag_bytes=None) -> list[bytes]:
    """Batched feature encoding: ALL parts of ALL features (typically a
    whole Arrow batch of tiles) → per-feature protobuf messages, each
    already wrapped as a layer `features` field (field 2).

    ``q``: (N,2) int64 flat quantized vertices, parts contiguous in
    feature order; ``ring_lens``: (R,) vertices per part;
    ``feat_of_ring``: (R,) ascending feature index per part;
    ``feat_ids``: (F,) feature ids. The zigzag deltas, command-integer
    scatter, and varint encoding each run ONCE over the whole batch —
    per-feature python is reduced to slicing the shared byte buffer
    and prepending a ~6-byte header.

    ``geom_type`` picks the spec §4.3 command layout: POLYGON parts are
    MoveTo(1)+LineTo(n-1)+ClosePath, LINESTRING the same sans
    ClosePath, POINT features collapse all parts into ONE MoveTo(n)."""
    ring_lens = np.asarray(ring_lens, np.int64)
    feat_of_ring = np.asarray(feat_of_ring, np.int64)
    n_ring = len(ring_lens)
    n_feat = len(feat_ids)
    if n_ring == 0:
        return []
    npts = int(ring_lens.sum())
    # point → part / feature maps and in-part positions
    ring_of_pt = np.repeat(np.arange(n_ring), ring_lens)
    # delta cursor: previous vertex within the FEATURE (parts chain,
    # cursor starts at (0,0) per feature) — spec §4.3
    feat_of_pt = feat_of_ring[ring_of_pt]
    prev = np.arange(npts) - 1
    feat_first_pt = np.empty(npts, bool)
    feat_first_pt[0] = True
    np.not_equal(feat_of_pt[1:], feat_of_pt[:-1], out=feat_first_pt[1:])
    qx = q[:, 0].astype(np.int64)
    qy = q[:, 1].astype(np.int64)
    dx = qx - np.where(feat_first_pt, 0, qx[prev])
    dy = qy - np.where(feat_first_pt, 0, qy[prev])
    zx, zy = P.zigzag_encode(dx), P.zigzag_encode(dy)
    # command-unit layout: per polygon/line part [MoveTo(1) zx zy
    # LineTo(n-1) pairs (ClosePath)] = 2n+2(+1); per POINT feature one
    # [MoveTo(n) pairs] = 2n+1 (parts collapse — spec multipoint)
    if geom_type == POINT:
        unit_lens = np.zeros(n_feat, np.int64)
        np.add.at(unit_lens, feat_of_ring, ring_lens)
        n_unit = n_feat
        cmd_lens = np.where(unit_lens > 0, 2 * unit_lens + 1, 0)
    else:
        unit_lens = ring_lens
        n_unit = n_ring
        cmd_lens = 2 * unit_lens + 2 + (geom_type == POLYGON)
    cmd_off = np.concatenate(([0], np.cumsum(cmd_lens)[:-1]))
    total = int(cmd_lens.sum())
    cmds = np.empty(total, np.uint64)
    unit_of_pt = (feat_of_pt if geom_type == POINT
                  else ring_of_pt)
    u_off = np.concatenate(([0], np.cumsum(unit_lens)[:-1]))
    idx_in_unit = np.arange(npts) - u_off[unit_of_pt]
    if geom_type == POINT:
        nz = unit_lens > 0
        cmds[cmd_off[nz]] = ((MOVE_TO & 0x7)
                             | (unit_lens[nz].astype(np.uint64) << 3))
        pos = cmd_off[unit_of_pt] + 1 + 2 * idx_in_unit
        cmds[pos] = zx
        cmds[pos + 1] = zy
    else:
        cmds[cmd_off] = (MOVE_TO & 0x7) | (1 << 3)
        cmds[cmd_off + 1] = zx[u_off]
        cmds[cmd_off + 2] = zy[u_off]
        cmds[cmd_off + 3] = ((LINE_TO & 0x7)
                             | ((unit_lens - 1).astype(np.uint64) << 3))
        rest = idx_in_unit > 0
        pos = cmd_off[unit_of_pt[rest]] + 4 + 2 * (idx_in_unit[rest] - 1)
        cmds[pos] = zx[rest]
        cmds[pos + 1] = zy[rest]
        if geom_type == POLYGON:
            cmds[cmd_off + cmd_lens - 1] = (CLOSE_PATH & 0x7) | (1 << 3)
    # one varint pass over the whole batch
    buf, nb = P.encode_varints(cmds, return_lens=True)
    byte_off = np.concatenate(([0], np.cumsum(nb)))
    # per-feature command ranges (units contiguous per feature)
    if geom_type == POINT:
        f_cmd_start = cmd_off
    else:
        ring_counts = np.bincount(feat_of_ring, minlength=n_feat)
        f_first_ring = np.concatenate(([0], np.cumsum(ring_counts)[:-1]))
        f_cmd_start = cmd_off[f_first_ring]
    f_cmd_end = np.append(f_cmd_start[1:], total)
    f_b0 = byte_off[f_cmd_start]
    f_b1 = byte_off[f_cmd_end]
    head_ty = P.field_varint(3, geom_type)
    out = []
    for f in range(n_feat):
        tb = tag_bytes[f] if tag_bytes is not None else b""
        feat = (P.field_varint(1, feat_ids[f]) + tb + head_ty
                + P.field_len(4, buf[f_b0[f]:f_b1[f]]))
        out.append(P.field_len(2, feat))
    return out


def encode_tags_packed(pairs) -> bytes:
    """Feature.tags (field 2, packed varints): alternating key-index /
    value-index pairs into the layer dictionaries. Empty pairs → b''
    (the field is simply absent, per proto3 packed semantics)."""
    return P.field_packed_varints(2, pairs)


def encode_feature(fid: int, rings, geom_type: int = POLYGON,
                   tags: bytes = b"") -> bytes:
    geom = P.encode_varints(geometry_commands(rings, geom_type))
    return (P.field_varint(1, fid) + tags
            + P.field_varint(3, geom_type) + P.field_len(4, geom))


def encode_value_string(s: str) -> bytes:
    """Layer.values element: a Value message holding string_value."""
    return P.field_len(1, s.encode())


def encode_layer(name: str, features: bytes, extent: int = 4096,
                 keys=(), values=()) -> bytes:
    """``keys``: iterable of tag-key strings (Layer field 3, in
    dictionary-index order); ``values``: iterable of tag-value STRINGS
    (Layer field 4, each wrapped as a Value message)."""
    return (P.field_varint(15, 2)
            + P.field_len(1, name.encode())
            + features
            + b"".join(P.field_len(3, k.encode()) for k in keys)
            + b"".join(P.field_len(4, encode_value_string(v))
                       for v in values)
            + P.field_varint(5, extent))


def encode_tile(layer_payload: bytes) -> bytes:
    return P.field_len(3, layer_payload)


def encode_mvt(features, name: str = "osm", extent: int = 4096,
               geom_type: int = POLYGON) -> bytes:
    """features: iterable of (feature_id, rings) with rings a list of
    open (n,2) integer vertex arrays. Callers MUST present features in
    a deterministic order (the operator sorts by feature id)."""
    feat_bytes = b"".join(
        P.field_len(2, encode_feature(fid, rings, geom_type))
        for fid, rings in features)
    return encode_tile(encode_layer(name, feat_bytes, extent))


# ---------------------------------------------------------------------------
# decoder (test/debug subset)
# ---------------------------------------------------------------------------

def decode_geometry(cmds) -> list[np.ndarray]:
    """Command stream → list of open (n,2) int rings."""
    rings = []
    cur: list[tuple[int, int]] = []
    cx = cy = 0
    i = 0
    cmds = list(cmds)
    while i < len(cmds):
        cid, cnt = cmds[i] & 0x7, cmds[i] >> 3
        i += 1
        if cid in (MOVE_TO, LINE_TO):
            for _ in range(cnt):
                zx, zy = cmds[i], cmds[i + 1]
                i += 2
                cx += (zx >> 1) ^ -(zx & 1)
                cy += (zy >> 1) ^ -(zy & 1)
                if cid == MOVE_TO and cur:
                    rings.append(np.array(cur, np.int64))
                    cur = []
                cur.append((cx, cy))
        elif cid == CLOSE_PATH:
            pass  # ring closure is implicit in our open representation
        else:
            raise ValueError(f"unknown command {cid}")
    if cur:
        rings.append(np.array(cur, np.int64))
    return rings


def decode_mvt(buf: bytes):
    """→ dict(name, version, extent, features=[(id, rings)],
    types=[geom_type], layers=[per-layer dicts of the same shape]).

    Top-level keys concatenate across layers (back-compat with the
    single-layer callers); ``layers`` carries the per-layer split for
    multi-layer tiles."""
    out = {"features": [], "types": [], "layers": []}
    for lv in P.parse_message(buf).get(3, []):
        msg = P.parse_message(lv)
        layer = {"features": [], "types": [], "attrs": [],
                 "keys": [bytes(k).decode() for k in msg.get(3, [])],
                 "values": [bytes(s).decode() for v in msg.get(4, [])
                            for s in P.parse_message(v).get(1, [])]}
        for num, k in ((15, "version"), (1, "name"), (5, "extent")):
            if num in msg:
                layer[k] = msg[num][-1]
        if "name" in layer:
            layer["name"] = bytes(layer["name"]).decode()
        raw_tags = []
        for fv in msg.get(2, []):
            f = P.parse_message(fv)
            geom = P.decode_varints(P.first(f, 4, b"")).tolist()
            layer["features"].append((P.first(f, 1),
                                      decode_geometry(geom)))
            layer["types"].append(P.first(f, 3, POLYGON))
            raw_tags.append(P.decode_varints(P.first(f, 2, b"")).tolist())
        # tag indices resolve against the COMPLETE layer dictionaries
        # (keys/values fields may follow the features on the wire)
        for pairs in raw_tags:
            layer["attrs"].append(
                {layer["keys"][pairs[i]]: layer["values"][pairs[i + 1]]
                 for i in range(0, len(pairs), 2)})
        out["layers"].append(layer)
        out["features"] += layer["features"]
        out["types"] += layer["types"]
        for k in ("name", "version", "extent"):
            if k in layer:
                out[k] = layer[k]
    return out
