"""Minimal protobuf (proto2) wire codec for the OSM PBF message set,
pure Python/numpy — no protoc runtime in this environment.

Covers exactly the messages of
/root/reference/src/osm/pbf/format/fileformat.proto and osmformat.proto:
Blob, BlobHeader, HeaderBlock/HeaderBBox, PrimitiveBlock, StringTable,
PrimitiveGroup, Node, DenseNodes/DenseInfo, Way, Relation, Info. The
Mapbox Vector Tile messages (functions/mvt.py) are built and scanned
with the same functions: this is the repository's one wire codec.

The decode path is vectorized: packed repeated fields (the bulk of the
bytes — DenseNodes id/lat/lon/timestamp, way refs, relation memids) are
decoded with a numpy varint kernel that processes all varints of a
buffer in <= 10 vectorized passes (one per varint byte position), the
exact columnar analogue of the reference's per-value loop
(/root/reference/src/osm/pbf/osm_data.rs:88-167).
"""

from __future__ import annotations

import numpy as np

# wire types
WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5


# ---------------------------------------------------------------------------
# vectorized varint kernels
# ---------------------------------------------------------------------------

def decode_varints(buf: bytes | memoryview) -> np.ndarray:
    """Decode ALL varints in buf (a packed repeated field) → uint64 array."""
    if len(buf) == 0:
        return np.zeros(0, np.uint64)
    if len(buf) <= 64:
        # scalar path: way refs / relation members / per-element tag
        # indexes are a handful of varints, where the numpy kernel's
        # fixed per-call cost dominates (same trade as the encode side)
        out = []
        val = 0
        shift = 0
        for byte in bytes(buf):
            val |= (byte & 0x7F) << shift
            if byte < 0x80:
                out.append(val)
                val = 0
                shift = 0
            else:
                shift += 7
        return np.array(out, np.uint64)
    b = np.frombuffer(buf, np.uint8)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals


def encode_varints(vals: np.ndarray, return_lens: bool = False):
    """Encode a uint64 array as concatenated varints, vectorized: pass k
    writes byte k of every value that has one, and each pass carries
    only those values on, so a stream of mostly 1-2 byte values costs
    ~2 passes whatever its widest value. ``return_lens`` also returns
    each value's byte count.

    Efficient only at BATCH granularity (thousands of values) — on a
    single MVT feature's ~20 commands the numpy machinery costs more
    than scalar :func:`varint` calls (measured 35 µs vs ~2 µs). Callers
    concatenate a whole Arrow batch or packed field first."""
    v = np.asarray(vals, np.uint64)
    # number of 7-bit groups per value (at least 1)
    nb = np.ones(len(v), np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nb += x > 0
        x >>= np.uint64(7)
    out = np.empty(int(nb.sum()), np.uint8)
    pos, rem, left = np.cumsum(nb) - nb, v, nb - 1
    while len(pos):
        more = left > 0
        out[pos] = ((rem & np.uint64(0x7F)).astype(np.uint8)
                    | (more.astype(np.uint8) << 7))
        pos, rem, left = pos[more] + 1, rem[more] >> np.uint64(7), left[more] - 1
    buf = out.tobytes()
    return (buf, nb) if return_lens else buf


def zigzag_decode(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, np.uint64)
    return ((v >> np.uint64(1)).astype(np.int64)) ^ -(v & np.uint64(1)).astype(np.int64)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def decode_sint_packed(buf) -> np.ndarray:
    if 0 < len(buf) <= 64:
        # scalar path for tiny packed fields (way refs, member ids):
        # fused varint+zigzag without numpy per-call overhead
        vals = []
        val = 0
        shift = 0
        for byte in bytes(buf):
            val |= (byte & 0x7F) << shift
            if byte < 0x80:
                vals.append((val >> 1) ^ -(val & 1))
                val = 0
                shift = 0
            else:
                shift += 7
        return np.array(vals, np.int64)
    return zigzag_decode(decode_varints(buf))


def encode_sint_packed(vals: np.ndarray) -> bytes:
    return encode_varints(zigzag_encode(vals))


def delta_decode(v: np.ndarray) -> np.ndarray:
    """cumsum — the inverse of PBF delta coding (osm_data.rs:96-101)."""
    return np.cumsum(np.asarray(v, np.int64))


def delta_encode(v: np.ndarray) -> np.ndarray:
    """np.diff with initial value — inverse of delta_decode."""
    v = np.asarray(v, np.int64)
    out = v.copy()
    out[1:] = v[1:] - v[:-1]
    return out


# ---------------------------------------------------------------------------
# generic message scan
# ---------------------------------------------------------------------------

def _read_varint(b: bytes, pos: int) -> tuple[int, int]:
    res = 0
    shift = 0
    while True:
        byte = b[pos]
        res |= (byte & 0x7F) << shift
        pos += 1
        if byte < 0x80:
            return res, pos
        shift += 7


def parse_message(buf: bytes | memoryview) -> dict[int, list]:
    """Scan a message into {field_number: [value, ...]}.
    varint → int, length-delimited → memoryview, i64/i32 → raw bytes.
    Zero-copy: nested submessages arrive and leave as memoryviews into
    the original blob buffer (indexing a memoryview yields ints, so the
    varint scanner needs no bytes() copy)."""
    view = buf if isinstance(buf, memoryview) else memoryview(buf)
    b = view
    out: dict[int, list] = {}
    pos, end = 0, len(b)
    while pos < end:
        key, pos = _read_varint(b, pos)
        field, wt = key >> 3, key & 7
        if wt == WT_VARINT:
            val, pos = _read_varint(b, pos)
        elif wt == WT_LEN:
            ln, pos = _read_varint(b, pos)
            val = view[pos:pos + ln]
            pos += ln
        elif wt == WT_I64:
            val = view[pos:pos + 8]
            pos += 8
        elif wt == WT_I32:
            val = view[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt} for field {field}")
        out.setdefault(field, []).append(val)
    return out


def first(msg: dict, field: int, default=None):
    vs = msg.get(field)
    return vs[0] if vs else default


# ---------------------------------------------------------------------------
# generic message build
# ---------------------------------------------------------------------------

def varint(v: int) -> bytes:
    """One varint; a negative int encodes as its 64-bit two's
    complement (10 bytes), as protobuf does."""
    out = bytearray()
    v = int(v) & ((1 << 64) - 1)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def field_varint(field: int, v: int) -> bytes:
    return varint((field << 3) | WT_VARINT) + varint(v)


def field_len(field: int, payload: bytes) -> bytes:
    return varint((field << 3) | WT_LEN) + varint(len(payload)) + payload


# Below ~16 values the numpy kernels' fixed per-call overhead (~40µs:
# array creation, ones, cumsum) dwarfs the work; way/relation encode
# calls these with 2-10 values per row, so the scalar path is 10-30x
# faster there while packed DenseNodes columns (8000 values) still take
# the vectorized kernel.
_SCALAR_CUTOFF = 16


def field_packed_varints(field: int, vals) -> bytes:
    n = len(vals)
    if n == 0:
        return b""
    if n <= _SCALAR_CUTOFF:
        payload = b"".join(varint(int(x)) for x in vals)
        return field_len(field, payload)
    return field_len(field, encode_varints(np.asarray(vals, np.uint64)))


def field_packed_sints(field: int, vals) -> bytes:
    n = len(vals)
    if n == 0:
        return b""
    if n <= _SCALAR_CUTOFF:
        # python-int zigzag: (v<<1)^(v>>63) in two's complement ==
        # (v<<1)^(-1 if v<0 else 0) in unbounded ints
        payload = b"".join(varint((int(x) << 1) ^ (-1 if x < 0 else 0))
                           for x in vals)
        return field_len(field, payload)
    return field_len(field, encode_sint_packed(np.asarray(vals, np.int64)))


def field_sint(field: int, v: int) -> bytes:
    return field_varint(field, int(zigzag_encode(np.array([v]))[0]))
